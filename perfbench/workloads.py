"""The benchmark's workloads: closed-loop, single-client loops.

Each workload sets up its inputs, warms the JVM up with a fixed amount of
work, then times ops until the run's seconds are used, and checks every
op's output outside the timed spans. The engine only ever sees the
generated tables and the seeded op stream.
"""

from __future__ import annotations

import os
import random
import time

from perfbench import stats
from perfbench.datagen import write_tables

# Table seed: held fixed so every run seed measures the same tables; the
# run seed drives query order, key streams and batch contents.
TABLE_SEED = 42

# Fifteen action-dominated registry queries at sf0.1 (the action is ~89% of
# a pass; see NOTES.md).
EXEC_BOUND_QUERIES = (
    "dedup_ngram_jaccard agg_winsorized_price ann_ivf_batch_topk "
    "dist_percentiles_by_segment dedup_substring_overlap corr_spearman "
    "feature_standardize_z text_tfidf_keywords agg_global_stats text_fingerprint "
    "outlier_flags_zscore embedding_gram_check dedup_embedding_cosine "
    "fp16_roundtrip_topk rollup_percentile_daily"
).split()


def plan_bound_queries(names: list[str], stride: int) -> list[str]:
    """A fixed one-in-``stride`` slice of the registry in name order."""
    return sorted(names)[::stride]


def _ms(seconds: float) -> float:
    return seconds * 1000.0


class RegistryWorkload:
    """Runs a fixed list of registry queries pass after pass, each pass in a
    seeded order. An op is ``fn(spark, sf_dir)`` plus ``toPandas()``."""

    def __init__(self, name: str, queries: list[str], sf: float, warm_passes: int,
                 min_passes: int) -> None:
        self.name = name
        self.queries = queries
        self.sf = sf
        self.warm_passes = warm_passes
        # every run times at least this many passes, then keeps going
        # until its seconds are used
        self.min_passes = min_passes

    def inputs(self, run_dir: str) -> str:
        self.sf_dir = write_tables(os.path.join(run_dir, "tables"), self.sf, TABLE_SEED)
        return self.sf_dir

    def run(self, spark, tracer, seed: int, seconds: float, ledger: stats.Ledger,
            on_first_timed_op) -> dict:
        from scripts.driver_sim import canon, families
        from raise_featurestore_spark.queries import QUERIES

        rng = random.Random(seed)
        fns = {q: QUERIES[q] for q in self.queries}
        first: dict[str, tuple] = {}
        first_pdf: dict = {}
        probe_jit = _jit_reader(spark)

        def one_pass() -> dict:
            tracer.pass_no += 1
            order = list(self.queries)
            rng.shuffle(order)
            times, builds = {}, {}
            for q in order:
                try:
                    tracer.begin_op(self.name, q)
                    t0 = time.perf_counter()
                    df = fns[q](spark, self.sf_dir)
                    t1 = time.perf_counter()
                    tracer.begin_action()
                    pdf = df.toPandas()
                    t2 = time.perf_counter()
                    tracer.end_op(df, rows=len(pdf))
                except Exception as ex:  # a failing query is a failed op
                    ledger.fail(f"{q}: {type(ex).__name__}: {ex}")
                    continue
                times[q], builds[q] = t2 - t0, t1 - t0
                got = (canon(pdf), families(pdf))
                if q not in first:
                    first[q], first_pdf[q] = got, pdf
                    ledger.ok()
                elif got != first[q]:
                    ledger.fail(f"{q}: result differs from its first pass")
                else:
                    ledger.ok()
            return {"times": times, "builds": builds}

        warm = []
        for _ in range(self.warm_passes):
            j0 = probe_jit()
            p = one_pass()
            warm.append({"pass_s": sum(p["times"].values()), "jit_ms": probe_jit() - j0})
        on_first_timed_op()
        timed = []
        t_start = time.perf_counter()
        while len(timed) < self.min_passes or time.perf_counter() - t_start < seconds:
            j0 = probe_jit()
            p = one_pass()
            p["jit_ms"] = probe_jit() - j0
            timed.append(p)
        self.first_pdf = first_pdf
        samples = stats.pool([p["times"] for p in timed])
        build_share = sum(sum(p["builds"].values()) for p in timed) / max(1e-9, sum(samples))
        t = stats.tail(samples, self.min_passes * len(self.queries))
        return {
            "metrics": {
                "pass_s": (stats.median([sum(p["times"].values()) for p in timed]), "s"),
                "op_p50_ms": (_ms(stats.median(samples)), "ms"),
                "op_tail_ms": (_ms(t["value"]), "ms"),
                "ops_per_s": (len(samples) / sum(samples), "1/s"),
            },
            "tails": {"op_tail_ms": t},
            "warmup": {"passes": warm, "timed_passes": [
                {"pass_s": sum(p["times"].values()), "jit_ms": p["jit_ms"]} for p in timed]},
            "build_share": build_share,
            "per_query_median_ms": {
                q: _ms(stats.median([p["times"][q] for p in timed if q in p["times"]]))
                for q in self.queries if any(q in p["times"] for p in timed)},
        }

    def check(self, ledger: stats.Ledger) -> dict:
        """Compare each query's first result with its DuckDB oracle."""
        import duckdb
        from scripts.driver_sim import canon, families
        from raise_featurestore_spark.queries import ORACLES

        con = duckdb.connect()
        for path in sorted(os.listdir(self.sf_dir)):
            if path.endswith(".parquet"):
                con.execute(f"CREATE VIEW {path[:-8]} AS SELECT * FROM "
                            f"read_parquet('{os.path.join(self.sf_dir, path)}')")
        out = {}
        for q, pdf in sorted(self.first_pdf.items()):
            t0 = time.perf_counter()
            try:
                want = con.sql(ORACLES[q]).df()
            except Exception as ex:
                ledger.reject(f"{q}: oracle failed: {type(ex).__name__}: {ex}")
                continue
            ok = canon(pdf) == canon(want) and families(pdf) == families(want)
            if not ok:
                ledger.reject(f"{q}: result differs from its DuckDB oracle")
            out[q] = {"match": ok, "oracle_s": round(time.perf_counter() - t0, 3)}
        con.close()
        return out


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path)
               for f in files)


def _jit_reader(spark):
    bean = spark._jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    return lambda: float(bean.getTotalCompilationTime())


# serve_rw op mix: one cycle holds these (kind, count) ops in a seeded order,
# so every timed cycle does the same work (30% 10-id and 30% 100-id gets,
# 10% 5,000-id gets, 10% live-table top-k, 15% upserts, 5% refreshes).
# 10-id lookups take the IN path, 100 ids the InSet path, 5,000 ids the
# broadcast semi-join.
SERVE_CYCLE = (("get10", 6), ("get100", 6), ("get5000", 2), ("live_query", 2),
               ("upsert", 3), ("refresh", 1))
UPSERT_KEYS = 200
FG_COLUMNS = ("o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority")


class ServeWorkload:
    """Feature-group data plane: point lookups, upserts and a live table over
    one feature group loaded from ``orders``, checked against an in-memory
    model of the table (read-your-writes)."""

    name = "serve_rw"

    def __init__(self, sf: float, warm_cycles: int, min_cycles: int) -> None:
        self.sf = sf
        self.warm_cycles = warm_cycles
        self.min_cycles = min_cycles
        self.io_samples: list[tuple[float, float]] = []

    def inputs(self, run_dir: str) -> str:
        self.run_dir = run_dir
        self.sf_dir = write_tables(os.path.join(run_dir, "tables"), self.sf, TABLE_SEED)
        return self.sf_dir

    def build_store(self, spark, tracer) -> None:
        import pandas as pd

        from raise_featurestore_spark.analytics.analysis import Aggregation
        from raise_featurestore_spark.catalog.store import FeatureStore

        fs = FeatureStore(os.path.join(self.run_dir, "store")).with_context("org", "dom", "proj")
        fs.create_organization("org")
        fs.create_domain("org", "dom")
        fs.create_project("org", "dom", "proj")
        g = fs.create_feature_group("orders_fg", entity_key="o_orderkey")
        g.create_features_from_schema({"o_custkey": "int64", "o_orderstatus": "string",
                                       "o_totalprice": "float64", "o_orderdate": "timestamp",
                                       "o_orderpriority": "string"})
        g.create_feature("price_k", "float64", derived_from="o_totalprice / 1000")
        src = spark.read.parquet(os.path.join(self.sf_dir, "orders.parquet"))
        tracer.begin_op("setup", "load")
        g.write(src, mode="overwrite")
        tracer.end_op()
        self.schema = src.schema
        self.group = g
        self.model = pd.read_parquet(os.path.join(self.sf_dir, "orders.parquet")).set_index(
            "o_orderkey", drop=False)
        self.keys = self.model.index.to_numpy()
        self.live = g.create_live_table(
            "cust_spend", Aggregation(features=["o_totalprice"], metrics=["count", "sum"],
                                      group_by="o_custkey"))
        self._refresh_live(spark, tracer)

    # -- ops -----------------------------------------------------------------

    def _refresh_live(self, spark, tracer) -> float:
        tracer.begin_op(self.name, "refresh")
        t0 = time.perf_counter()
        ev = self.live.refresh(spark)
        dt = time.perf_counter() - t0
        tracer.end_op()
        if ev.status != "completed":
            raise RuntimeError(f"live table refresh {ev.status}: {ev.error}")
        expect_rows = self.model["o_custkey"].nunique()
        if ev.rows_affected != expect_rows:
            raise AssertionError(f"refresh wrote {ev.rows_affected} rows, expected {expect_rows}")
        # the live table now reflects the model as of this refresh
        self.live_snapshot = self.model.groupby("o_custkey")["o_totalprice"].sum()
        return dt

    def _get(self, spark, tracer, ids: list[int]) -> float:
        kind = f"get{len(ids)}"
        tracer.begin_op(self.name, kind)
        t0 = time.perf_counter()
        df = self.group.get(spark, ids)
        tracer.begin_action()
        pdf = df.toPandas()
        dt = time.perf_counter() - t0
        tracer.end_op(df, rows=len(pdf), scan=True)
        want = self.model.loc[ids]
        got = pdf.set_index("o_orderkey").sort_index()
        if sorted(got.index.tolist()) != sorted(ids):
            raise AssertionError(f"{kind}: returned ids differ from the requested ids")
        w = want.sort_index()
        if not (got["o_totalprice"].to_numpy() == w["o_totalprice"].to_numpy()).all():
            raise AssertionError(f"{kind}: o_totalprice differs from the last write")
        if not (got["o_orderstatus"].to_numpy() == w["o_orderstatus"].to_numpy()).all():
            raise AssertionError(f"{kind}: o_orderstatus differs from the last write")
        derived = (w["o_totalprice"] / 1000).to_numpy()
        if abs(got["price_k"].to_numpy() - derived).max() > 1e-9:
            raise AssertionError(f"{kind}: derived price_k is wrong")
        return dt

    def _upsert(self, spark, tracer, rng: random.Random) -> float:
        ids = rng.sample(range(len(self.keys)), UPSERT_KEYS)
        batch = self.model.iloc[ids].copy()
        batch["o_totalprice"] = [round(rng.uniform(1000.0, 500000.0), 2) for _ in ids]
        batch["o_orderstatus"] = [rng.choice("FOP") for _ in ids]
        df = spark.createDataFrame(batch[["o_orderkey", *FG_COLUMNS]].reset_index(drop=True),
                                   schema=self.schema)
        tracer.begin_op(self.name, "upsert")
        t0 = time.perf_counter()
        self.group.write(df, mode="upsert")
        dt = time.perf_counter() - t0
        tracer.end_op()
        self.model.loc[batch.index, "o_totalprice"] = batch["o_totalprice"]
        self.model.loc[batch.index, "o_orderstatus"] = batch["o_orderstatus"]
        if tracer.enabled and tracer.timed:
            self._record_io()
        return dt

    def _record_io(self) -> None:
        """Write amplification of the last upsert: bytes of the generation
        it wrote per upserted row, and bytes of every generation on disk
        over the live one's."""
        path = self.group.meta.storage_path
        live = _dir_bytes(os.path.realpath(path))
        total = sum(_dir_bytes(os.path.join(os.path.dirname(path), d))
                    for d in os.listdir(os.path.dirname(path))
                    if d.startswith(os.path.basename(path) + "__gen_"))
        self.io_samples.append((live / UPSERT_KEYS, total / live))

    @property
    def io_stats(self) -> dict[str, float]:
        if not self.io_samples:
            return {}
        return {"io.bytes_written_per_row": stats.median([a for a, _ in self.io_samples]),
                "io.space_amp": stats.median([b for _, b in self.io_samples])}

    def _live_query(self, spark, tracer, k: int) -> float:
        tracer.begin_op(self.name, "live_query")
        t0 = time.perf_counter()
        df = self.live.query(spark, order_by="-sum_o_totalprice", limit=k)
        tracer.begin_action()
        pdf = df.toPandas()
        dt = time.perf_counter() - t0
        tracer.end_op(df, rows=len(pdf))
        # the live table's sums are rounded to a few significant digits, so
        # each returned key must carry its model sum, and the returned sums
        # must be the model's k largest, both to a relative 1e-4
        got = pdf.set_index("o_custkey")["sum_o_totalprice"].to_numpy()
        mine = self.live_snapshot.loc[pdf["o_custkey"]].to_numpy()
        top = self.live_snapshot.sort_values(ascending=False).head(k).to_numpy()
        if len(got) != k or abs(got - mine).max() > 1e-4 * top[0] \
                or abs(got - top).max() > 1e-4 * top[0]:
            raise AssertionError("live_query: top-k differs from the model at last refresh: "
                                 f"{list(got[:3])} != {list(top[:3])}")
        return dt

    def op(self, spark, tracer, kind: str, rng: random.Random) -> float:
        if kind.startswith("get"):
            n = int(kind[3:])
            return self._get(spark, tracer, [int(self.keys[i]) for i in
                                             rng.sample(range(len(self.keys)), n)])
        if kind == "upsert":
            return self._upsert(spark, tracer, rng)
        if kind == "live_query":
            return self._live_query(spark, tracer, rng.choice((5, 10, 20)))
        return self._refresh_live(spark, tracer)

    def run(self, spark, tracer, seed: int, seconds: float, ledger: stats.Ledger,
            on_first_timed_op) -> dict:
        rng = random.Random(seed)
        cycle = [k for k, n in SERVE_CYCLE for _ in range(n)]

        def one_cycle(ops: list[str]) -> list[tuple[str, float]]:
            order = list(ops)
            rng.shuffle(order)
            done = []
            for kind in order:
                try:
                    done.append((kind, self.op(spark, tracer, kind, rng)))
                    ledger.ok()
                except Exception as ex:  # a failing op is a failed op
                    ledger.fail(f"{kind}: {type(ex).__name__}: {ex}")
            return done

        warm = [one_cycle([k for k, _ in SERVE_CYCLE]) for _ in range(self.warm_cycles)]
        on_first_timed_op()
        timed = []
        t_start = time.perf_counter()
        while len(timed) < self.min_cycles or time.perf_counter() - t_start < seconds:
            timed.append(one_cycle(cycle))
        samples = [dt for c in timed for _, dt in c]
        by_kind = {k: [dt for c in timed for kk, dt in c if kk == k] for k, _ in SERVE_CYCLE}
        lookups = by_kind["get10"] + by_kind["get100"]
        writes = by_kind["upsert"]
        per = dict(SERVE_CYCLE)
        m = self.min_cycles
        t = stats.tail(samples, m * len(cycle))
        lt = stats.tail(lookups, m * (per["get10"] + per["get100"]))
        wt = stats.tail(writes, m * per["upsert"])
        return {
            "metrics": {
                "pass_s": (stats.median([sum(dt for _, dt in c) for c in timed]), "s"),
                "op_p50_ms": (_ms(stats.median(samples)), "ms"),
                "op_tail_ms": (_ms(t["value"]), "ms"),
                "ops_per_s": (len(samples) / sum(samples), "1/s"),
            },
            "tails": {"op_tail_ms": t, "lookup_tail_ms": lt, "write_tail_ms": wt},
            "serve": {"lookup_p50_ms": _ms(stats.median(lookups)), "lookup_tail_ms": _ms(lt["value"]),
                      "write_p50_ms": _ms(stats.median(writes)), "write_tail_ms": _ms(wt["value"])},
            "warmup": {"cycles": [sum(dt for _, dt in c) for c in warm],
                       "timed_cycles": [sum(dt for _, dt in c) for c in timed]},
            "op_counts": {k: len(v) for k, v in by_kind.items()},
            "per_kind_median_ms": {k: _ms(stats.median(v)) for k, v in by_kind.items() if v},
        }
