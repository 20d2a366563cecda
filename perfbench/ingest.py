"""``ingest``: the paper's phase 1 — the streaming collector plus a
trending-hashtag window count over one landing directory.

Two concurrent streaming queries read the landing directory:

1. the collector, ``operators.collector.collect_tweets`` run by
   ``streaming.collector.run_bounded_collector`` (foreachBatch parquet
   append), and
2. a trending count: hashtags exploded to ``event_type``, ``created_at``
   as ``ts``, ``streaming.windows.tumbling_aggregate`` over 1-minute
   windows, in update mode.

Both queries start on a landing directory holding one warm-up file.
Each stage begins as soon as the collector has committed the one
before: the backlog of large files appears in bursts, each drained
before the next appears, then the open-loop paced phase releases small
files on a fixed schedule whatever the queries are doing. A paced file's latency runs from its due
instant to the end of the later of the two triggers that committed it.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time

import duckdb
import numpy as np
import pyarrow.parquet as pq

import gen
from harness import Ctx, JobCounter, Result, overhead_ratio, restart_session
from stats import Tracer, file_batches, file_latencies, max_lag, median, trigger_end_s

#: Offered rate of the paced phase, files per second. Half the highest
#: rate the seed commit sustained with a flat backlog (see README.md);
#: fixed here so that every commit is measured at the same load.
RATE_FILES_PER_S = 10.0
PACED_ROWS_PER_FILE = 200
#: Fewest measured paced files per run: enough for p90 to have ten
#: samples beyond it. Longer --seconds measure RATE_FILES_PER_S x seconds
#: files.
MIN_PACED_FILES = 100
#: Paced files released before the measured ones, at the same rate: the
#: queries' per-trigger cost is still falling (JIT) when the paced phase
#: starts.
PACED_WARM_FILES = 30
#: The backlog appears in BACKLOG_BURSTS bursts of FILES_PER_BURST files,
#: each drained before the next appears. The first is a warm-up (part of
#: set-up); the drain rate is the median over the others.
BACKLOG_BURSTS = 6
FILES_PER_BURST = 2
BACKLOG_FILES = BACKLOG_BURSTS * FILES_PER_BURST
BACKLOG_ROWS_PER_FILE = 25_000
#: Times the run's inputs are generated at set-up; the median counts in
#: setup_s (the session start and warm-up run once).
GEN_REPEATS = 3
WARM_FILES = 1
WARM_ROWS_PER_FILE = 10_000
WINDOW = "1 minute"
#: Event-time width of one warm-up or backlog file: the backlog covers
#: the BACKLOG_FILES x 10 minutes before the paced phase's first due
#: instant, the warm-up file the 10 minutes before that.
BACKLOG_SLOT_US = 10 * 60 * 1_000_000


class Phase:
    """One landing directory and its three stages of files: warm-up
    (staged before the queries start), backlog, paced."""

    STAGES = ("warm", "backlog", "paced")

    def __init__(self, root: str, warm: tuple[list, list], backlog: tuple[list, list],
                 paced: tuple[list, list]):
        self.root = root
        self.landing = os.path.join(root, "landing")
        self.tables, self.truths, self.names = [], [], []
        self.index: dict[str, list[int]] = {}
        for stage, (tables, truths) in zip(self.STAGES, (warm, backlog, paced)):
            self.index[stage] = list(range(len(self.tables), len(self.tables) + len(tables)))
            self.names += [f"{stage}-{i:05d}.parquet" for i in range(len(tables))]
            self.tables += tables
            self.truths += truths
        os.makedirs(self.landing, exist_ok=True)
        self.write_hidden(self.index["warm"] + self.index["backlog"])
        self.publish(self.index["warm"])

    def stage_names(self, stage: str) -> list[str]:
        return [self.names[i] for i in self.index[stage]]

    def bursts(self) -> list[list[int]]:
        """The backlog's files, in release order, grouped by burst."""
        b = self.index["backlog"]
        return [b[i:i + FILES_PER_BURST] for i in range(0, len(b), FILES_PER_BURST)]

    def rows(self, key: str, stage: str | None = None) -> int:
        idx = self.index[stage] if stage else range(len(self.truths))
        return sum(self.truths[i][key] for i in idx)

    def write_hidden(self, idx: list[int]) -> None:
        """Write files under hidden names, which the file source skips."""
        for i in idx:
            pq.write_table(self.tables[i], self._tmp(i), compression="snappy")

    def publish(self, idx: list[int]) -> float:
        """Rename hidden files into view: the file source lists whole
        files only. Returns the instant they became visible."""
        t = time.time()
        for i in idx:
            os.rename(self._tmp(i), os.path.join(self.landing, self.names[i]))
        return t

    def _tmp(self, i: int) -> str:
        return os.path.join(self.landing, f".{self.names[i]}.tmp")


def _tweet_files(seed: int, stream: str, n_files: int, rows: int,
                 start_us: int, slot_us: int, spread: bool) -> tuple[list, list]:
    """``n_files`` tables; file i's events are stamped at its slot start
    (``spread`` scatters them over the slot instead)."""
    rng = gen.rng_for(seed, stream)
    tables, truths = [], []
    for i in range(n_files):
        lo = start_us + i * slot_us
        ts = (np.sort(lo + rng.integers(0, slot_us, size=rows)) if spread
              else np.full(rows, lo, dtype=np.int64))
        t, truth = gen.tweets(rng, rows, ts)
        tables.append(t)
        truths.append(truth)
    return tables, truths


def _build_streams(spark, landing: str, tracer: Tracer):
    from pyspark.sql import functions as F

    from sparkstreamingtwitter_presidential_spark.operators.collector import collect_tweets
    from sparkstreamingtwitter_presidential_spark.schemas import RAW_TWEETS
    from sparkstreamingtwitter_presidential_spark.streaming.windows import tumbling_aggregate

    raw = spark.readStream.schema(RAW_TWEETS).parquet(landing)
    with tracer.span("operators.collect_tweets"):
        collected = collect_tweets(raw)
    events = raw.select(
        F.explode("hashtags").alias("event_type"),
        F.col("created_at").alias("ts"),
        F.length("text").cast("double").alias("value"),
    )
    with tracer.span("streaming.tumbling_aggregate"):
        trending = tumbling_aggregate(events, width=WINDOW)
    return collected, trending


def _source_log(checkpoint: str) -> dict[str, int]:
    """File name -> the file source's metadata-log offset, from its log
    in the query checkpoint (plain and compacted entries). For the
    collector, which runs no no-data batches, this is the micro-batch id."""
    out: dict[str, int] = {}
    for p in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        if os.path.basename(p).startswith("."):
            continue
        with open(p) as fh:
            for line in fh:
                line = line.strip()
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


class PhaseRun:
    """Outcome of running both queries over one phase."""

    def __init__(self):
        self.progress: list[list[dict]] = [[], []]   # [collector, trending]
        self.file_batch: list[dict[str, int]] = [{}, {}]
        self.collected_rows = 0
        self.window_updates: list[tuple[int, list]] = []
        self.start_s = 0.0
        self.warm_done_s = 0.0
        self.burst_s: list[float] = []
        self.release_s: list[float] = []
        self.due_s: list[float] = []

    def batches(self, q: int) -> list[dict]:
        """Progress of triggers that ran a micro-batch (idle-poll events
        carry no addBatch timing)."""
        return [p for p in self.progress[q] if "addBatch" in p["durationMs"]]

    def batch_end_s(self, q: int) -> dict[int, float]:
        return {p["batchId"]: trigger_end_s(p) for p in self.batches(q)}

    def drain_s(self, names: list[str]) -> float:
        """Seconds the slower query spent on the triggers that read
        ``names``: from the start of the first to the end of the last.
        A burst that lands while the trending query runs a no-data
        batch (its watermark advancing) waits for it; that wait is not
        draining and is left out."""
        spans = []
        for q in (0, 1):
            batches = {self.file_batch[q][f] for f in names}
            ends = [trigger_end_s(p) for p in self.batches(q) if p["batchId"] in batches]
            starts = [trigger_end_s(p) - p["durationMs"]["triggerExecution"] / 1000.0
                      for p in self.batches(q) if p["batchId"] in batches]
            spans.append(max(ends) - min(starts))
        return max(spans)

    def files_done_s(self, names: list[str]) -> float:
        """When both queries had committed every file in ``names``."""
        ends = [self.batch_end_s(q) for q in (0, 1)]
        return max(ends[q][self.file_batch[q][f]] for q in (0, 1) for f in names)

    def latencies_s(self, names: list[str], queries=(0, 1)) -> dict[str, float | None]:
        """Per file, due instant to the end of the later covering trigger
        of ``queries``."""
        due = dict(zip(names, self.due_s))
        return file_latencies(due, [self.file_batch[q] for q in queries],
                              [self.batch_end_s(q) for q in queries])


def _wait_committed(checkpoint: str, names: list[str], collector: threading.Thread,
                    timeout_s: float = 120.0) -> float:
    """Block until the query with ``checkpoint`` has committed the
    micro-batches that read ``names`` (file-source log plus commit log),
    or its thread has ended; returns the instant seen."""
    deadline = time.monotonic() + timeout_s
    while collector.is_alive() and time.monotonic() < deadline:
        batches = _source_log(checkpoint)
        if all(n in batches for n in names):
            done = [int(f) for f in os.listdir(os.path.join(checkpoint, "commits"))
                    if f.isdigit()]
            if done and max(batches[n] for n in names) <= max(done):
                break
        # 20 ms: well inside the collector's 0.2 s drained-exit window,
        # and the checkpoint listing stays off the cores the queries use
        time.sleep(0.02)
    return time.time()


def run_phase(ctx: Ctx, phase: Phase, tracer: Tracer,
              jobs: JobCounter | None = None) -> PhaseRun:
    """Start both queries on the warm-up file, then release the backlog
    and the paced files stage by stage. Returns when both queries have
    consumed every row and stopped."""
    from sparkstreamingtwitter_presidential_spark.streaming.collector import run_bounded_collector

    spark = ctx.spark
    out = PhaseRun()
    ck_c = os.path.join(phase.root, "ck-collector")
    ck_w = os.path.join(phase.root, "ck-trending")
    collected, trending = _build_streams(spark, phase.landing, tracer)

    def sink(df, batch_id):
        out.window_updates.append((batch_id, [tuple(r) for r in df.collect()]))

    out.start_s = time.time()
    wq = (trending.writeStream.outputMode("update").foreachBatch(sink)
          .option("checkpointLocation", ck_w).start())
    res: dict = {}

    def collector():
        # stop_after above the phase's kept rows: the collector ends on
        # its drained exit, after its last batch has committed
        res["r"] = run_bounded_collector(
            collected, os.path.join(phase.root, "collected"), ck_c,
            stop_after=phase.rows("kept") + 1, timeout_s=150.0)

    th = threading.Thread(target=collector, name="collector")
    th.start()
    cq = None
    deadline = time.monotonic() + 60
    while cq is None and th.is_alive() and time.monotonic() < deadline:
        cq = next((q for q in spark.streams.active if q.id != wq.id), None)
        time.sleep(0.005)
    # Each stage is released the moment the collector has committed the
    # previous one: its drained-exit check fires after 0.2 s of idleness.
    out.warm_done_s = _wait_committed(ck_c, phase.stage_names("warm"), th)
    for burst in phase.bursts():
        out.burst_s.append(phase.publish(burst))
        _wait_committed(ck_c, [phase.names[i] for i in burst], th)
    t0 = time.time()
    for k, i in enumerate(phase.index["paced"]):
        due = t0 + k / RATE_FILES_PER_S
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        out.due_s.append(due)
        phase.write_hidden([i])
        out.release_s.append(phase.publish([i]))
    th.join(timeout=170)
    deadline = time.monotonic() + 60
    while time.monotonic() < deadline:
        if sum(p["numInputRows"] for p in wq.recentProgress) >= phase.rows("rows") \
                and not wq.status["isTriggerActive"]:
            break
        time.sleep(0.05)
    wq.stop()
    wq.awaitTermination(30)
    queries = (cq, wq)
    for q in (0, 1):
        if queries[q] is not None:
            out.progress[q] = [json.loads(p.json) for p in queries[q].recentProgress]
            if jobs is not None:
                jobs.count(str(queries[q].runId), ops=len(out.progress[q]))
    out.file_batch = [file_batches(_source_log(ck), out.progress[q])
                      for q, ck in enumerate((ck_c, ck_w))]
    out.collected_rows = res["r"].rows_collected if "r" in res else 0
    return out


# ---------------------------------------------------------- correctness

_KEYWORDS_SQL = "[" + ", ".join("'" + k + "'" for k in gen.KEYWORDS) + "]"
_SCRUB_SQL = ("regexp_replace(translate(coalesce(text, ''), ',\t\"' || chr(13) || chr(10), ''''), "
              "'\\p{C}', '', 'g')")


def check_phase(res: Result, phase: Phase, run: PhaseRun, label: str) -> None:
    """Committed rows against generator truth, cleaned texts against a
    DuckDB twin of the s5_collector_rows scrub, window counts against a
    batch recompute, and every file committed by both queries."""
    names = phase.names
    for f in names:
        res.check(all(f in fb for fb in run.file_batch), f"{label}: {f} not read by both queries")
    kept = phase.rows("kept")
    res.check(run.collected_rows == kept,
              f"{label}: collector counted {run.collected_rows} rows, truth {kept}")
    con = duckdb.connect()
    raw = os.path.join(phase.landing, "*.parquet")
    out_glob = os.path.join(phase.root, "collected", "*.parquet")
    con.execute(f"CREATE VIEW raw AS SELECT * FROM read_parquet('{raw}')")
    con.execute(f"CREATE VIEW got AS SELECT * FROM read_parquet('{out_glob}')")
    fr, kw = con.execute(
        f"SELECT count(*) FILTER (WHERE starts_with(\"user\".lang, 'fr')), "
        f"count(*) FILTER (WHERE list_has_any(hashtags, {_KEYWORDS_SQL})) FROM raw").fetchone()
    res.check(fr == phase.rows("fr_rows") and kw == phase.rows("keyword_rows"),
              f"{label}: landing files disagree with generator truth")
    con.execute(
        f"CREATE VIEW want AS SELECT {_SCRUB_SQL} AS text FROM raw "
        f"WHERE list_has_any(hashtags, {_KEYWORDS_SQL}) "
        f"AND \"user\".lang IS NOT NULL AND starts_with(\"user\".lang, 'fr')")
    diff = con.execute(
        "SELECT (SELECT count(*) FROM (SELECT text FROM got EXCEPT ALL SELECT text FROM want)) + "
        "(SELECT count(*) FROM (SELECT text FROM want EXCEPT ALL SELECT text FROM got))").fetchone()[0]
    n_got = con.execute("SELECT count(*) FROM got").fetchone()[0]
    res.check(diff == 0 and n_got == kept,
              f"{label}: {diff} cleaned texts differ from the scrub twin ({n_got} committed)")
    want = {
        (w, e): (n, v) for w, e, n, v in con.execute(
            "SELECT strftime(date_trunc('minute', created_at), '%Y-%m-%d %H:%M:%S'), event_type, "
            "count(*), floor(sum(length(text)) * 100 + 0.5) / 100 "
            "FROM (SELECT unnest(hashtags) AS event_type, created_at, text FROM raw) "
            "GROUP BY ALL").fetchall()
    }
    con.close()
    got: dict = {}
    for _, rows in sorted(run.window_updates, key=lambda b: b[0]):
        for ws, _we, et, n, v in rows:
            got[(ws, et)] = (n, v)
    bad = sum(1 for k in want.keys() | got.keys() if want.get(k) != got.get(k))
    res.check(bad == 0, f"{label}: {bad} window counts differ from the batch recompute")


# ----------------------------------------------------------- workload

class Inputs:
    """Every file of one run, generated once from the seed."""

    def __init__(self, ctx: Ctx):
        start = gen.BASE_US
        self.backlog = _tweet_files(ctx.seed, "backlog", BACKLOG_FILES, BACKLOG_ROWS_PER_FILE,
                                    start - BACKLOG_FILES * BACKLOG_SLOT_US, BACKLOG_SLOT_US,
                                    True)
        n_paced = PACED_WARM_FILES + max(MIN_PACED_FILES, int(RATE_FILES_PER_S * ctx.seconds))
        self.paced = _tweet_files(ctx.seed, "paced", n_paced, PACED_ROWS_PER_FILE, start,
                                  int(1_000_000 / RATE_FILES_PER_S), False)
        # event time only moves forward across stages (warm-up, backlog,
        # paced), so the trending query's watermark drops no row as late
        self.warm = _tweet_files(ctx.seed, "warm", WARM_FILES, WARM_ROWS_PER_FILE,
                                 start - (BACKLOG_FILES + WARM_FILES) * BACKLOG_SLOT_US,
                                 BACKLOG_SLOT_US, True)


def measure(ctx: Ctx, res: Result, inputs: Inputs, tag: str, tracer: Tracer,
            jobs: JobCounter | None = None, paced: bool = True) -> dict:
    phase = Phase(os.path.join(ctx.work, tag), inputs.warm, inputs.backlog,
                  inputs.paced if paced else ([], []))
    run = run_phase(ctx, phase, tracer, jobs)
    check_phase(res, phase, run, tag)
    bursts = [[phase.names[i] for i in burst] for burst in phase.bursts()]
    rows = [sum(phase.truths[i]["rows"] for i in burst) for burst in phase.bursts()]
    busy = [run.drain_s(names) for names in bursts]
    out = {
        "phase": phase, "run": run,
        # the queries' start on the warm-up file, and the warm-up burst
        "warm_s": (run.warm_done_s - run.start_s
                   + run.files_done_s(bursts[0]) - run.burst_s[0]),
        "drain_rows": sum(rows[1:]),
        "drain_rows_per_s": median([n / s for n, s in zip(rows[1:], busy[1:])]),
    }
    if paced:
        lat = run.latencies_s(phase.stage_names("paced"))
        done = [None if v is None else due + v for due, v in zip(run.due_s, lat.values())]
        measured = list(lat.values())[PACED_WARM_FILES:]
        for q, name in enumerate(("collector", "trending")):
            one = list(run.latencies_s(phase.stage_names("paced"), (q,)).values())
            out[f"lat_ms_{name}"] = [v * 1000.0 for v in one[PACED_WARM_FILES:] if v is not None]
        out.update(
            n_paced=len(measured),
            lat_ms=[v * 1000.0 for v in measured if v is not None],
            lag_files_max=max_lag(run.release_s, done),
            late_ms_max=max(r - d for r, d in zip(run.release_s, run.due_s)) * 1000.0,
        )
    return out


def _progress_layers(run: PhaseRun, tracer: Tracer) -> dict[str, list[float]]:
    """Per-trigger streaming/sources timings from query progress, also
    laid out as spans (trigger -> its phases) for self time. Rows per
    batch come from the trending query: the collector's sink scans each
    batch twice (count, then write), which doubles its input-row count."""
    acc: dict[str, list[float]] = {k: [] for k in (
        "latest_offset", "get_batch", "trigger", "planning", "commit", "add_batch",
        "rows", "state_rows", "state_commit", "state_mem")}
    for q in (0, 1):
        for pr in run.batches(q):
            dm = pr["durationMs"]
            trig = dm.get("triggerExecution", 0)
            acc["trigger"].append(trig)
            acc["latest_offset"].append(dm.get("latestOffset", 0))
            acc["get_batch"].append(dm.get("getBatch", 0))
            acc["planning"].append(dm.get("queryPlanning", 0))
            acc["commit"].append(dm.get("walCommit", 0) + dm.get("commitOffsets", 0))
            acc["add_batch"].append(dm.get("addBatch", 0))
            if q == 1:
                acc["rows"].append(pr["numInputRows"])
            for so in pr.get("stateOperators", []):
                acc["state_rows"].append(so["numRowsTotal"])
                acc["state_commit"].append(so.get("commitTimeMs", 0))
                acc["state_mem"].append(so.get("memoryUsedBytes", 0))
            end = trigger_end_s(pr)
            start = end - trig / 1000.0
            root = tracer.add("streaming.trigger", start, end, query=q)
            t = start
            for name, key in (("sources.latest_offset", "latestOffset"),
                              ("sources.get_batch", "getBatch"),
                              ("streaming.planning", "queryPlanning"),
                              ("operators.add_batch" if q == 0 else "streaming.add_batch",
                               "addBatch"),
                              ("streaming.commit", "walCommit"),
                              ("streaming.commit", "commitOffsets")):
                ms = dm.get(key, 0) / 1000.0
                tracer.add(name, t, t + ms, root)
                t += ms
    return acc


def run(ctx: Ctx, res: Result) -> None:
    gen_s = []
    for _ in range(GEN_REPEATS):
        t0 = time.perf_counter()
        inputs = Inputs(ctx)
        gen_s.append(time.perf_counter() - t0)
    tracer = Tracer(ctx.trace)
    jobs = JobCounter(ctx.spark) if ctx.trace else None
    m = measure(ctx, res, inputs, "run", tracer, jobs)
    # set-up: session, generation, and the queries' start on the warm-up file
    setup_s = ctx.session_start_s + median(gen_s) + m["warm_s"]
    n_paced = m["n_paced"]
    if not ctx.trace:
        res.e2e = {
            "setup_s": (setup_s, "s"),
            "op_ms": (median(m["lat_ms"]), "ms"),
            "work_per_s": (m["drain_rows_per_s"], "1/s"),
        }
        res.report += [
            ("setup_s", setup_s, "s", 1),
            ("ingest_drain_rows_per_s", m["drain_rows_per_s"], "rows/s", m["drain_rows"]),
        ]
        res.timing("ingest_latency", m["lat_ms"], "_ms")
        res.timing("ingest_latency_collector", m["lat_ms_collector"], "_ms")
        res.timing("ingest_latency_trending", m["lat_ms_trending"], "_ms")
        res.report += [
            ("ingest_offered_files_per_s", RATE_FILES_PER_S, "1/s", n_paced),
            ("ingest_generator_late_ms_max", m["late_ms_max"], "ms", n_paced),
            ("sources.lag_files_max", float(m["lag_files_max"]), "count", n_paced),
        ]
        return

    phase, prun = m["phase"], m["run"]
    acc = _progress_layers(prun, tracer)
    keep = prun.collected_rows / phase.rows("rows")
    res.check(keep == phase.rows("kept") / phase.rows("rows"),
              "operators.collector_keep_ratio differs from generator truth")
    wall = prun.files_done_s(phase.names) - prun.start_s

    restart_session(ctx, 1)
    res.check(ctx.spark.sparkContext.defaultParallelism == 1, "local[1] session not on one core")
    local1 = measure(ctx, res, inputs, "local1", Tracer(False), paced=False)

    res.layers = {
        "session.start_s": (ctx.session_start_s, "s"),
        "package.build_ms_p50": (median(tracer.durations_ms("operators.collect_tweets")
                                        + tracer.durations_ms("streaming.tumbling_aggregate")),
                                 "ms"),
        "engine.exec_ms_p50": (median(acc["trigger"]), "ms"),
        **jobs.metrics(),
    }
    # every instrument reads query progress and checkpoint logs after the
    # queries stop, so nothing is charged inside the measured interval
    res.report.append(("trace.overhead_ratio", overhead_ratio(wall, 0.0), "ratio",
                       len(phase.names)))
    n_trig = len(acc["trigger"])
    res.timing("sources.latest_offset_ms", acc["latest_offset"])
    res.timing("sources.get_batch_ms", acc["get_batch"])
    res.report += [
        ("sources.lag_files_max", float(m["lag_files_max"]), "count", n_paced),
        ("operators.collector_keep_ratio", keep, "ratio", phase.rows("rows")),
    ]
    res.timing("streaming.trigger_ms", acc["trigger"])
    res.timing("streaming.planning_ms", acc["planning"])
    res.timing("streaming.commit_ms", acc["commit"])
    res.timing("streaming.add_batch_ms", acc["add_batch"])
    res.timing("streaming.rows_per_batch", acc["rows"], unit="rows")
    res.timing("streaming.state_commit_ms", acc["state_commit"])
    res.report += [
        ("streaming.batches", float(n_trig), "count", n_trig),
        ("streaming.state_rows", float(max(acc["state_rows"])), "rows", len(acc["state_rows"])),
        ("streaming.state_memory_bytes", float(max(acc["state_mem"])), "bytes",
         len(acc["state_mem"])),
        ("streaming.drain_rows_per_s_local1", local1["drain_rows_per_s"], "rows/s",
         local1["drain_rows"]),
    ]
    res.tracer = tracer
