"""``analyst``: the paper's phase 2 — one closed-loop client issuing
interactive reads and, about one in five operations, lakehouse upserts.

Reads are registry queries that carry a DuckDB oracle, over a seeded
table set shaped like the repository's sf0.1 fixtures; snapshot reads of
Delta, Iceberg and Hudi merge-on-read tables built at set-up from
generated tweet scores; and the paper's bigram K-Means model, fit at
set-up, assigning every document to a cluster. Writes upsert seeded
change batches into the lakehouse tables (``merge_delta_dv``,
``upsert_iceberg_mor``, ``upsert_hudi_mor``), so a change that makes
upserts cheaper by leaving more delete work to readers shows in the
reads that follow. Streaming registry queries are left out: they mutate
session conf and are single-threaded by contract.
"""

from __future__ import annotations

import os
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

import duckdb
import pyarrow.parquet as pq

import gen
from harness import Ctx, JobCounter, Result, overhead_ratio
from stats import Tracer, median
from tests.conftest import _key, _norm

#: TPC-H scale factor of the generated table set: the repository's
#: benchmark scale (TESTDATA.md), 600k lineitem rows.
SCALE = 0.1
#: Registry queries read, each checked against its DuckDB oracle.
#: ``tpch_q1_pricing_summary``, ``tpch_q3_shipping_priority`` and
#: ``tpch_q5_local_supplier_volume`` are not in the mix: their oracles
#: round double sums of price x (1 - discount) to the cent, and a group
#: whose exact total ends in half a cent rounds up or down depending on
#: the order the engine adds the doubles in, so Spark and DuckDB disagree
#: on some seeds (q5 on two of three tried, at scale 0.02). The TPC-H reads
#: here (q4 semi-join, q13 outer join, q18 three-table join with an IN
#: subquery) return counts and integer sums.
QUERIES = (
    "flagship_event_type_counts", "a4_groupby_count", "f1_lang_prefix_filter",
    "s5_collector_rows", "tpch_q4_late_orders", "tpch_q13_customer_distribution",
    "tpch_q18_large_volume_customers", "window_topk_orders_per_customer", "text_token_counts",
)
FORMATS = ("delta", "iceberg", "hudi")
TABLE_ROWS = 5_000
BATCH_ROWS = 100
READS_PER_WRITE = 4
#: Operation cycles per measured second: one cycle is every read once
#: plus one write per table, about 20 s on the seed commit (4 cores).
CYCLES_PER_S = 1 / 20
#: Times the table set is generated and written at set-up; the median
#: counts in setup_s (the session start, oracles and warm-up run once).
STAGE_REPEATS = 3
#: The K-Means model is fit at set-up on every FIT_EVERY-th document
#: with KMEANS_ITER iterations (the package default is 20): the fit is
#: set-up cost, the timed operation is the model assigning every document.
FIT_EVERY = 5
KMEANS_ITER = 5


# ------------------------------------------------------------ helpers

def canonical(cols: list[str], rows) -> list:
    """Rows in the registry's oracle comparison form (tests/conftest.py):
    columns sorted by name, type-tagged cells, rows sorted. Floats are
    compared exactly."""
    order = [cols.index(c) for c in sorted(cols)]
    return sorted((tuple(_norm(r[i]) for i in order) for r in rows), key=_key)


def _meta_files(fmt: str, path: str) -> int:
    """Log, metadata and delete files of a table."""
    if fmt == "delta":
        return len(os.listdir(os.path.join(path, "_delta_log")))
    if fmt == "iceberg":
        n = len(os.listdir(os.path.join(path, "metadata")))
        return n + sum(1 for _, _, fs in os.walk(os.path.join(path, "data"))
                       for f in fs if "delete" in f)
    n = sum(len(fs) for _, _, fs in os.walk(os.path.join(path, ".hoodie")))
    return n + sum(1 for _, _, fs in os.walk(path) for f in fs if ".log." in f)


class Lakehouse:
    """One table per format, its Python model, and seeded change batches."""

    def __init__(self, ctx: Ctx):
        rng = gen.rng_for(ctx.seed, "lakehouse")
        self.model = {f: gen.score_table(rng, TABLE_ROWS) for f in FORMATS}
        self.rng = rng
        self.next_id = {f: TABLE_ROWS for f in FORMATS}
        self.paths = {f: os.path.join(ctx.work, "lake", f) for f in FORMATS}

    def build(self, spark, fmt: str) -> None:
        """Write the initial table, then read it once (warm-up)."""
        from sparkstreamingtwitter_presidential_spark.sources.delta import write_delta
        from sparkstreamingtwitter_presidential_spark.sources.hudi import write_hudi
        from sparkstreamingtwitter_presidential_spark.sources.iceberg import write_iceberg

        df = spark.createDataFrame(sorted(self.model[fmt].items()),
                                   "tweet_id long, score long").repartition(2)
        if fmt == "delta":
            write_delta(df, self.paths[fmt])
        elif fmt == "iceberg":
            write_iceberg(df, self.paths[fmt])
        else:
            write_hudi(df, self.paths[fmt], record_key="tweet_id", n_file_groups=2,
                       table_type="MERGE_ON_READ")
        self.read(spark, fmt).count()

    def next_batch(self, fmt: str) -> list[tuple[int, int]]:
        rows, self.next_id[fmt] = gen.change_batch(self.rng, self.model[fmt], BATCH_ROWS,
                                                   self.next_id[fmt])
        return rows

    def read(self, spark, fmt: str):
        from sparkstreamingtwitter_presidential_spark.sources.delta import read_delta
        from sparkstreamingtwitter_presidential_spark.sources.hudi_mor import read_hudi_mor
        from sparkstreamingtwitter_presidential_spark.sources.iceberg import read_iceberg

        fn = {"delta": read_delta, "iceberg": read_iceberg, "hudi": read_hudi_mor}[fmt]
        return fn(spark, self.paths[fmt])

    def upsert(self, spark, fmt: str, src) -> None:
        from sparkstreamingtwitter_presidential_spark.sources.delta_dml import merge_delta_dv
        from sparkstreamingtwitter_presidential_spark.sources.hudi_mor import upsert_hudi_mor
        from sparkstreamingtwitter_presidential_spark.sources.iceberg import upsert_iceberg_mor

        if fmt == "delta":
            merge_delta_dv(spark, self.paths[fmt], src, keys=["tweet_id"])
        elif fmt == "iceberg":
            upsert_iceberg_mor(spark, self.paths[fmt], src, keys=["tweet_id"])
        else:
            upsert_hudi_mor(spark, self.paths[fmt], src, record_key="tweet_id")

    def expected(self, fmt: str) -> tuple[int, int]:
        m = self.model[fmt]
        return len(m), sum(m.values())


def schedule(seed: int, n_cycles: int) -> list[tuple[str, str]]:
    """Seeded operation order. A cycle runs every registry query and the
    model read once, in a shuffled order, with a write after every
    READS_PER_WRITE of them; each table's snapshot read comes right
    after its write, so every lakehouse read sees the same number of
    upserts whatever the seed (one more per cycle)."""
    rng = gen.rng_for(seed, "analyst-order")
    reads = [("query", q) for q in QUERIES] + [("model", "kmeans")]
    ops: list[tuple[str, str]] = []
    for _ in range(n_cycles):
        order = [reads[i] for i in rng.permutation(len(reads))]
        formats = [FORMATS[i] for i in rng.permutation(len(FORMATS))]
        for i, op in enumerate(order):
            ops.append(op)
            if (i + 1) % READS_PER_WRITE == 0 and formats:
                f = formats.pop()
                ops += [("write", f), ("lake", f)]
        ops += [op for f in formats for op in (("write", f), ("lake", f))]
    return ops


class _LoadTableSpans:
    """Traced runs only: wrap ``io.load_table`` as each query module
    imported it, so its calls become child spans of the query build."""

    def __init__(self, tracer: Tracer):
        import sys

        from sparkstreamingtwitter_presidential_spark import io as sio

        self.orig = sio.load_table
        self.mods = [m for n, m in list(sys.modules.items())
                     if n.startswith("sparkstreamingtwitter_presidential_spark.queries")
                     and getattr(m, "load_table", None) is self.orig]
        orig = self.orig

        def traced(*a, **k):
            with tracer.span("io.load_table"):
                return orig(*a, **k)

        self.traced = traced

    def __enter__(self):
        for m in self.mods:
            m.load_table = self.traced

    def __exit__(self, *exc):
        for m in self.mods:
            m.load_table = self.orig


# ------------------------------------------------------------ workload

class Analyst:
    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.sf_dir = os.path.join(ctx.work, "sf")
        self.lake = Lakehouse(ctx)
        self.oracle: dict[str, list] = {}
        self.n_docs = 0

    def stage(self) -> None:
        """Generate the table set and write it as parquet."""
        from sparkstreamingtwitter_presidential_spark.io import table_path

        os.makedirs(self.sf_dir, exist_ok=True)
        tables = gen.analyst_tables(gen.rng_for(self.ctx.seed, "analyst"), SCALE)
        for name, t in tables.items():
            pq.write_table(t, table_path(self.sf_dir, name))
        self.n_docs = tables["documents"].num_rows
        self.tables = list(tables)

    def oracles(self) -> None:
        """Every query's result from its DuckDB oracle, in canonical form."""
        from sparkstreamingtwitter_presidential_spark.io import table_path

        con = duckdb.connect()
        for name in self.tables:
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                        f"read_parquet('{table_path(self.sf_dir, name)}')")
        for q in QUERIES:
            tbl = con.execute(self.registry[q].oracle).arrow()
            cols = list(tbl.schema.names)
            self.oracle[q] = canonical(cols, [tuple(d[c] for c in cols) for d in tbl.to_pylist()])
        con.close()

    def setup(self, tracer: Tracer) -> float:
        """Stage the inputs STAGE_REPEATS times, compute the oracles, then
        build the lakehouse tables, fit the K-Means model and run every
        read once (warm-up), nproc at a time. Returns the set-up seconds
        after the session start: the median staging time plus the rest."""
        from pyspark.sql import functions as F

        from sparkstreamingtwitter_presidential_spark.ml.clustering import bigram_kmeans_pipeline
        from sparkstreamingtwitter_presidential_spark.queries.registry import load_all

        self.registry = load_all()
        staged = []
        for _ in range(STAGE_REPEATS):
            t0 = time.perf_counter()
            self.stage()
            staged.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        self.oracles()
        spark = self.ctx.spark

        def fit():
            with tracer.span("ml.kmeans_fit"):
                self.kmeans = bigram_kmeans_pipeline(max_iter=KMEANS_ITER).fit(
                    self.documents().filter(F.col("doc_id") % FIT_EVERY == 0))
            self._model("kmeans", Tracer(False))

        with ThreadPoolExecutor(max_workers=self.ctx.cpus) as pool:
            futures = [pool.submit(fit)]
            futures += [pool.submit(self.lake.build, spark, f) for f in FORMATS]
            futures += [pool.submit(lambda q: self.registry[q].fn(spark, self.sf_dir).collect(), q)
                        for q in QUERIES]
            for f in futures:
                f.result()
        return median(staged) + time.perf_counter() - t0

    def documents(self):
        """The documents table as the clustering pipeline reads it."""
        from pyspark.sql import functions as F

        from sparkstreamingtwitter_presidential_spark.io import load_table

        docs = load_table(self.ctx.spark, self.sf_dir, "documents")
        return docs.filter(F.col("text").isNotNull()).withColumn("text_clean", F.col("text"))

    def run_ops(self, res: Result, ops, tracer: Tracer, jobs: JobCounter | None) -> dict:
        """Run ``ops`` in order; returns latencies (ms) per operation kind
        (query, lake, model, write). An operation that raises counts as
        failed and the client goes on."""
        out: dict[str, list[float]] = {"query": [], "lake": [], "model": [], "write": []}
        for kind, name in ops:
            group = jobs.group(f"op{tracer.new_op()}") if jobs else None
            try:
                ms, ok, why = getattr(self, f"_{kind}")(name, tracer)
            except Exception as exc:  # noqa: BLE001 - the client keeps running
                traceback.print_exc()
                res.check(False, f"{kind} {name}: {exc!r}")
            else:
                out[kind].append(ms)
                res.check(ok, why)
            if jobs:
                jobs.count(group)
        return out

    def _write(self, fmt: str, tracer: Tracer) -> tuple[float, bool, str]:
        rows = self.lake.next_batch(fmt)
        src = self.ctx.spark.createDataFrame(rows, "tweet_id long, score long")
        t0 = time.perf_counter()
        with tracer.span(f"sources.commit.{fmt}"):
            self.lake.upsert(self.ctx.spark, fmt, src)
        ms = (time.perf_counter() - t0) * 1000.0
        self.lake.model[fmt].update(rows)
        return ms, True, ""

    def _query(self, name: str, tracer: Tracer) -> tuple[float, bool, str]:
        t0 = time.perf_counter()
        with tracer.span("analyst.read", query=name):
            with tracer.span("queries.build"):
                df = self.registry[name].fn(self.ctx.spark, self.sf_dir)
            with tracer.span("queries.exec"):
                rows = df.collect()
        ms = (time.perf_counter() - t0) * 1000.0
        got = canonical(df.columns, rows)
        return ms, got == self.oracle[name], f"{name}: result differs from its DuckDB oracle"

    def _lake(self, fmt: str, tracer: Tracer) -> tuple[float, bool, str]:
        from pyspark.sql import functions as F

        t0 = time.perf_counter()
        with tracer.span("analyst.read", table=fmt):
            with tracer.span(f"sources.read_build.{fmt}"):
                df = self.lake.read(self.ctx.spark, fmt)
            with tracer.span(f"sources.read_exec.{fmt}"):
                got = tuple(df.agg(F.count("*"), F.sum("score")).collect()[0])
        ms = (time.perf_counter() - t0) * 1000.0
        want = self.lake.expected(fmt)
        return ms, got == want, f"{fmt}: read {got} differs from model {want}"

    def _model(self, _name: str, tracer: Tracer) -> tuple[float, bool, str]:
        """Assign every document to one of the model's k clusters."""
        from pyspark.sql import functions as F

        k = self.kmeans.stages[-1].getK()
        t0 = time.perf_counter()
        with tracer.span("analyst.read", model="kmeans"):
            with tracer.span("ml.kmeans_assign"):
                got = tuple(self.kmeans.transform(self.documents())
                            .agg(F.count("prediction"), F.min("prediction"),
                                 F.max("prediction")).collect()[0])
        ms = (time.perf_counter() - t0) * 1000.0
        n, lo, hi = got
        return (ms, n == self.n_docs and lo >= 0 and hi < k,
                f"kmeans: {n} documents assigned to clusters [{lo}, {hi}], "
                f"want {self.n_docs} in [0, {k})")


def run(ctx: Ctx, res: Result) -> None:
    a = Analyst(ctx)
    tracer = Tracer(ctx.trace)
    setup_s = ctx.session_start_s + a.setup(tracer)
    ops = schedule(ctx.seed, max(1, round(ctx.seconds * CYCLES_PER_S)))
    if not ctx.trace:
        m = a.run_ops(res, ops, tracer, None)
        reads = m["query"] + m["lake"] + m["model"]
        all_ms = reads + m["write"]
        # op_ms is the mean read latency over whole cycles (every read
        # kind equally often): the reads' median falls between a fast
        # cluster of registry queries and the slower joins, lakehouse and
        # model reads, and moves by a quarter or more between seeds.
        res.e2e = {
            "setup_s": (setup_s, "s"),
            "op_ms": (sum(reads) / len(reads), "ms"),
            "work_per_s": (len(all_ms) / (sum(all_ms) / 1000.0), "1/s"),
        }
        res.report.append(("setup_s", setup_s, "s", 1))
        res.report.append(("analyst_read_mean_ms", res.e2e["op_ms"][0], "ms", len(reads)))
        res.timing("analyst_read", reads, "_ms")
        res.timing("analyst_query_read", m["query"], "_ms")
        res.timing("analyst_lake_read", m["lake"], "_ms")
        res.timing("analyst_model_read", m["model"], "_ms")
        res.timing("analyst_write", m["write"], "_ms")
        res.report.append(("analyst_ops_per_s", res.e2e["work_per_s"][0], "1/s", len(all_ms)))
        return

    jobs = JobCounter(ctx.spark)
    t0 = time.perf_counter()
    tracer.cost_s = 0.0      # charge only instrumentation inside the measurement
    with _LoadTableSpans(tracer):
        a.run_ops(res, ops, tracer, jobs)
    wall = time.perf_counter() - t0
    ctx.spark.sparkContext.setJobGroup("perfbench", "perfbench")
    builds = (tracer.durations_ms("queries.build")
              + [d for f in FORMATS for d in tracer.durations_ms(f"sources.read_build.{f}")])
    execs = (tracer.durations_ms("queries.exec")
             + [d for f in FORMATS for d in tracer.durations_ms(f"sources.read_exec.{f}")])
    res.layers = {
        "session.start_s": (ctx.session_start_s, "s"),
        "package.build_ms_p50": (median(builds), "ms"),
        "engine.exec_ms_p50": (median(execs), "ms"),
        **jobs.metrics(),
    }
    res.report.append(("trace.overhead_ratio", overhead_ratio(wall, jobs.cost_s + tracer.cost_s),
                       "ratio", len(ops)))
    res.timing("io.load_table_ms", tracer.durations_ms("io.load_table"))
    res.timing("queries.build_ms", tracer.durations_ms("queries.build"))
    res.timing("queries.exec_ms", tracer.durations_ms("queries.exec"))
    for f in FORMATS:
        for kind in ("read_build", "read_exec", "commit"):
            res.timing(f"sources.{kind}_ms", tracer.durations_ms(f"sources.{kind}.{f}"),
                       f".{f}")
        res.report.append((f"sources.table_meta_files_end.{f}",
                           float(_meta_files(f, a.lake.paths[f])), "count", 1))
    res.timing("ml.kmeans_fit_ms", tracer.durations_ms("ml.kmeans_fit"))
    res.timing("ml.kmeans_assign_ms", tracer.durations_ms("ml.kmeans_assign"))
    res.tracer = tracer
