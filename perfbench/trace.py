"""Traced run: per-layer table, kernel replay and tracing overhead.

Each layer is timed from outside: its public function is called on the
materialized output of the layer before it, and its result is materialized
(`localCheckpoint(eager=True)`) inside `sc.setJobGroup(<layer>)`. Spark's
event log, enabled for this session through `get_spark(extra_conf=...)`, is
parsed by job group afterwards into jobs, shuffle write, spill and task skew.
CPU time is read from /proc for the JVM and its Python workers together.
Row counts are taken outside the layer's job group.

Besides the layer chain the traced run measures `checkpoint.run_resumable`
(crash at half the buckets, then resume) and a short
`streaming.run_stream_triples(merge=True)` drain on the head slice of the
workload's input, the scan kernel replayed with no Spark on the Arrow-sized
batch of the input that holds its longest turn, and `predict` throughput
with and without tracing.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import threading
import time
import tracemalloc

import pyarrow.parquet as pq

from perfbench import gate
from perfbench.host import Stopwatch, descendants, log, peak_rss_mb

# run_resumable and run_stream_triples cost ~10 s per call on a 4-core host
# whatever the input size, so both run on the input's head slice
STREAM_FILES = 2  # micro-batches of the traced streaming drain
ARROW_BATCH_ROWS = 10_000  # session.py's spark.sql.execution.arrow.maxRecordsPerBatch
N_BUCKETS = 64  # run_resumable's default

LAYERS = (
    "tokenization.drop_blank_turns",
    "mentions.scan_mentions_udf",
    "link.link_mentions",
    "canonicalize.canonical_concept_map",
    "triples.build_triples",
    "triples.hot_conversations",
    "triples.write_triples",
)
LAYER_STATS = (
    ("wall_s", "s"), ("cpu_s", "s"), ("jobs", "count"), ("rows_out", "rows"),
    ("shuffle_write_bytes", "B"), ("spill_bytes", "B"), ("task_skew", "ratio"),
)


def cpu_seconds(jvm_pid: int) -> float:
    """CPU time so far of the JVM and every process under it (Python
    workers included, exited ones through their parent's child times)."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in [jvm_pid] + descendants(jvm_pid):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (FileNotFoundError, ProcessLookupError):
            continue
        # utime, stime, cutime, cstime are fields 14-17 of stat(5)
        total += sum(int(x) for x in fields[11:15])
    return total / tick


class EventLog:
    """Jobs and task metrics from one Spark event log, grouped by job group."""

    def __init__(self, path: str):
        self.jobs = []  # (group, submit_ms, stage ids)
        self.tasks = {}  # stage id -> list of task records
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    self.jobs.append((props.get("spark.jobGroup.id"),
                                      ev.get("Submission Time", 0),
                                      ev.get("Stage IDs", [])))
                elif kind == "SparkListenerTaskEnd":
                    info = ev.get("Task Info", {})
                    m = ev.get("Task Metrics") or {}
                    self.tasks.setdefault(ev["Stage ID"], []).append({
                        "ms": info.get("Finish Time", 0) - info.get("Launch Time", 0),
                        "shuffle_write": (m.get("Shuffle Write Metrics") or {})
                        .get("Shuffle Bytes Written", 0),
                        "spill": m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0),
                        "bytes_read": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                    })

    def select(self, group=None, t0_ms=None, t1_ms=None) -> tuple[int, list[dict]]:
        """(jobs, their tasks) of one job group, or of a submission window."""
        jobs, stages = 0, set()
        for g, ts, sids in self.jobs:
            if group is not None and g != group:
                continue
            if t0_ms is not None and not (t0_ms <= ts <= t1_ms):
                continue
            jobs += 1
            stages.update(sids)
        return jobs, [t for s in stages for t in self.tasks.get(s, [])]


def task_stats(tasks: list[dict]) -> dict:
    ms = [t["ms"] for t in tasks]
    med = statistics.median(ms) if ms else 0
    return {
        "shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks),
        "spill_bytes": sum(t["spill"] for t in tasks),
        "task_skew": max(ms) / med if med else 1.0,
        "bytes_read": sum(t["bytes_read"] for t in tasks),
    }


def find_event_log(event_dir: str) -> str:
    logs = [os.path.join(event_dir, f) for f in os.listdir(event_dir)
            if not f.startswith(".") and not f.endswith(".inprogress")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished event log in {event_dir}, found {logs}")
    return logs[0]


def layer_chain(bench, run_dir: str) -> dict:
    """Run the predict layers one by one; {layer: {wall_s, cpu_s, rows_out}}."""
    from cliner_spark import fixtures
    from cliner_spark.canonicalize import canonical_concept_map
    from cliner_spark.link import link_mentions
    from cliner_spark.mentions import scan_mentions_udf
    from cliner_spark.session import ensure_parallelism
    from cliner_spark.tokenization import drop_blank_turns
    from cliner_spark.triples import build_triples, hot_conversations, write_triples

    spark = bench.spark
    sc = spark.sparkContext
    sc.setJobGroup("prep", "layer inputs")
    tx = spark.read.parquet(bench.inputs.full.path)
    gaz = fixtures.gazetteer_df(spark)
    terms = [r["term"] for r in gaz.select("term").distinct().collect()]
    out_path = os.path.join(run_dir, "layer_sink")
    state = {}

    def write():
        write_triples(state["triples.build_triples"], out_path,
                      hot=state["triples.hot_conversations"])

    steps = {
        # run_pipeline applies ensure_parallelism right before this filter
        "tokenization.drop_blank_turns":
            lambda: drop_blank_turns(ensure_parallelism(tx)),
        "mentions.scan_mentions_udf":
            lambda: scan_mentions_udf(state["tokenization.drop_blank_turns"], terms),
        "link.link_mentions":
            lambda: link_mentions(state["mentions.scan_mentions_udf"], gaz),
        "canonicalize.canonical_concept_map": lambda: canonical_concept_map(gaz),
        "triples.build_triples": lambda: build_triples(
            state["link.link_mentions"],
            canon_map=state["canonicalize.canonical_concept_map"]),
        "triples.hot_conversations":
            lambda: hot_conversations(tx, threshold=bench.inputs.hot_threshold),
        "triples.write_triples": write,
    }
    out = {}
    for name in LAYERS:
        sc.setJobGroup(name, name)
        cpu0 = cpu_seconds(bench.jvm_pid)
        with Stopwatch() as sw:
            df = steps[name]()
            if df is not None:
                df = df.localCheckpoint(eager=True)
        cpu = cpu_seconds(bench.jvm_pid) - cpu0
        sc.setJobGroup("rows", "row counts")
        if df is None:
            rows = pq.read_table(out_path, columns=["subj"]).num_rows
        else:
            state[name] = df
            rows = df.count()
        out[name] = {"wall_s": sw.s, "cpu_s": cpu, "rows_out": rows}
    return out


def checkpoint_phase(bench) -> dict:
    """Crash after half the buckets, then resume, into a fresh out_dir; the
    resumed sink must hold the oracle's triples as a set (buckets run
    apart, so SAME_AS edges may repeat)."""
    from cliner_spark import checkpoint

    head = bench.inputs.head
    spark = bench.spark
    sc = spark.sparkContext
    tx = spark.read.parquet(head.path)
    sc.setJobGroup("prep", "bucket list")
    buckets = sorted(r[0] for r in tx.select(checkpoint.bucket_col(N_BUCKETS))
                     .distinct().collect())
    out_dir = os.path.join(bench.run_dir, "resumable")
    bench.attempted += 1
    try:
        sc.setJobGroup("checkpoint.first", "run_resumable crash")
        with Stopwatch() as first:
            r1 = checkpoint.run_resumable(spark, tx, out_dir, n_buckets=N_BUCKETS,
                                          run_id="bench",
                                          only_buckets=buckets[: len(buckets) // 2])
        sc.setJobGroup("checkpoint.resume", "run_resumable resume")
        with Stopwatch() as resume:
            r2 = checkpoint.run_resumable(spark, tx, out_dir, n_buckets=N_BUCKETS,
                                          run_id="bench")
        keys = gate.read_keys(os.path.join(out_dir, "triples"))
        why = gate.check(keys, head.digest, head.n_keys, one_row_per_key=False)
    except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
        why = f"{type(e).__name__}: {e}"
    shutil.rmtree(out_dir, ignore_errors=True)
    if why is not None:
        bench.failed += 1
        log(f"run_resumable FAILED: {why}")
        return {}
    needed = head.turns - r1["rows_in"]
    tracker = sc.statusTracker()
    return {
        "jobs": sum(len(tracker.getJobIdsForGroup(g))
                    for g in ("checkpoint.first", "checkpoint.resume")),
        "first_s": first.s,
        "resume_s": resume.s,
        "useful_row_ratio": needed / r2["rows_in"] if r2["rows_in"] else 0.0,
    }


class ProgressLog:
    """StreamingQueryListener collecting every micro-batch's progress."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self
        self.progress = []
        self.done = threading.Event()

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                outer.progress.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                outer.done.set()

        self.listener = Listener()
        spark.streams.addListener(self.listener)


def streaming_phase(bench) -> dict:
    """Drain the head slice as STREAM_FILES one-file micro-batches through
    run_stream_triples(merge=True); the sink must hold exactly the oracle's
    triples of those turns, one row per key."""
    from cliner_spark import fixtures, streaming

    head = bench.inputs.head
    spark = bench.spark
    run_dir = bench.run_dir
    land = os.path.join(run_dir, "landing")
    os.makedirs(land)
    table = pq.read_table(head.path)
    per_file = math.ceil(table.num_rows / STREAM_FILES)
    for i in range(STREAM_FILES):
        pq.write_table(table.slice(i * per_file, per_file),
                       os.path.join(land, f"part-{i:03d}.parquet"))
    sink = os.path.join(run_dir, "stream_sink")
    plog = ProgressLog(spark)
    bench.attempted += 1
    t0_ms = time.time() * 1000
    try:
        spark.sparkContext.setJobGroup("streaming", "run_stream_triples")
        with Stopwatch() as sw:
            streaming.run_stream_triples(
                spark, land, sink, os.path.join(run_dir, "stream_ckpt"),
                fixtures.gazetteer_df(spark), merge=True, max_files=1)
        plog.done.wait(timeout=30)
        why = gate.check(gate.read_keys(sink), head.digest, head.n_keys,
                         one_row_per_key=True)
    except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
        why = f"{type(e).__name__}: {e}"
    finally:
        spark.streams.removeListener(plog.listener)
    t1_ms = time.time() * 1000
    if why is not None:
        bench.failed += 1
        log(f"run_stream_triples FAILED: {why}")
        return {}
    batches = [p for p in plog.progress if p.get("numInputRows", 0) > 0]
    dur = [p["durationMs"] for p in batches]
    trig = [d["triggerExecution"] for d in dur]
    return {
        "wall_s": sw.s,
        "window_ms": (t0_ms, t1_ms),
        "batches": len(batches),
        "input_rows": sum(p["numInputRows"] for p in batches),
        "addBatch_ms_p50": statistics.median(d["addBatch"] for d in dur),
        "walCommit_ms_p50": statistics.median(d["walCommit"] for d in dur),
        "triggerExecution_ms_p50": statistics.median(trig),
    }


def kernel_replay(bench) -> dict:
    """The scan kernel with no Spark, on the batch of the input that holds
    its longest turn (where the dominance filter pads widest).

    Batch size mirrors the traced plan: ensure_parallelism deals the single
    input file round-robin into 2*nproc partitions, and Arrow cuts each
    into batches of at most ARROW_BATCH_ROWS. Slices here are contiguous in
    file order, so which turns share the longest turn's batch differs from
    Spark's; the counts are exact and repeatable for a seed. The batch is
    replayed twice: once timed, once under tracemalloc for the peak, since
    tracing allocations slows the kernel."""
    from cliner_spark import fixtures
    from cliner_spark.mentions import MAX_TERM_TOKENS
    from cliner_spark.tagger import flatten_batch, kept_ngram_spans

    texts = pq.read_table(bench.inputs.full.path, columns=["text"]).column("text").to_pandas()
    texts = texts[texts.fillna("").str.strip().str.len() > 0].reset_index(drop=True)
    rows = min(ARROW_BATCH_ROWS, math.ceil(len(texts) / (2 * bench.nproc)))
    longest = int(texts.str.count(" ").idxmax())
    start = longest - longest % rows
    batch = texts.iloc[start:start + rows].reset_index(drop=True)
    term_map = {t.lower(): t.lower() for (t, *_r) in fixtures.CLINICAL_GAZETTEER}

    with Stopwatch() as flat_sw:
        flat, turn_ids, _lengths = flatten_batch(batch)
    low = flat.str.lower()
    with Stopwatch() as kept_sw:
        kept, _kln, _ty = kept_ngram_spans(low, turn_ids, term_map, MAX_TERM_TOKENS)
    tracemalloc.start()
    try:
        kept_ngram_spans(low, turn_ids, term_map, MAX_TERM_TOKENS)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    return {
        "tagger.flatten_batch.s": (flat_sw.s, "s"),
        "tagger.kept_ngram_spans.s": (kept_sw.s, "s"),
        "tagger.kept_ngram_spans.peak_alloc_mb": (peak / 2**20, "MB"),
        "tagger.turns": (len(batch), "count"),
        "tagger.tokens": (len(flat), "count"),
        "tagger.kept_spans": (len(kept), "count"),
    }


def run(bench) -> dict:
    """The traced run; returns {metric: (value, unit)}."""
    n_turns = bench.inputs.full.turns
    run_dir = bench.run_dir
    metrics = {}

    # Untraced session. The checkpoint phase comes first: its crash call is
    # the first pipeline run in the JVM, so it also does the JIT warm-up the
    # later calls need (resume_s is warm, first_s is not).
    bench.start()
    metrics["session.get_spark.s"] = (bench.get_spark_s, "s")
    with Stopwatch() as sw:
        ckpt = checkpoint_phase(bench)
    log(f"checkpoint phase {sw.s:.2f}s")
    # The untraced and the traced `predict` each run first in a session of
    # their own, so both start with a fresh Python worker pool.
    bench.stop()
    bench.start()
    untraced = bench.checked_predict(bench.inputs.full)
    bench.stop()

    event_dir = os.path.join(run_dir, "eventlog")
    bench.start(event_log=event_dir)
    bench.spark.sparkContext.setJobGroup("predict", "predict")
    traced = bench.checked_predict(bench.inputs.full)
    if untraced and traced:
        u, t = n_turns / untraced[0], n_turns / traced[0]
        metrics["trace.untraced_turns_per_s"] = (u, "turns/s")
        metrics["trace.traced_turns_per_s"] = (t, "turns/s")
        metrics["trace.overhead_turns_per_s"] = (t - u, "turns/s")
    with Stopwatch() as sw:
        layers = layer_chain(bench, run_dir)
    log(f"layer chain {sw.s:.2f}s")
    with Stopwatch() as sw:
        stream = streaming_phase(bench)
    log(f"streaming phase {sw.s:.2f}s")
    metrics["session.jvm_peak_rss_mb"] = (peak_rss_mb(bench.jvm_pid), "MB")
    bench.stop()  # closes the event log

    ev = EventLog(find_event_log(event_dir))
    for name in LAYERS:
        jobs, tasks = ev.select(group=name)
        row = {**layers[name], "jobs": jobs, **task_stats(tasks)}
        for stat, unit in LAYER_STATS:
            metrics[f"{name}.{stat}"] = (row[stat], unit)
    if ckpt:
        metrics["checkpoint.run_resumable.first_s"] = (ckpt["first_s"], "s")
        metrics["checkpoint.run_resumable.resume_s"] = (ckpt["resume_s"], "s")
        metrics["checkpoint.run_resumable.jobs"] = (ckpt["jobs"], "count")
        metrics["checkpoint.useful_row_ratio"] = (ckpt["useful_row_ratio"], "ratio")
    if stream:
        jobs, tasks = ev.select(t0_ms=stream["window_ms"][0], t1_ms=stream["window_ms"][1])
        n = stream["batches"]
        metrics.update({
            "streaming.wall_s": (stream["wall_s"], "s"),
            "streaming.batches": (n, "count"),
            "streaming.input_rows": (stream["input_rows"], "rows"),
            "streaming.addBatch_ms_p50": (stream["addBatch_ms_p50"], "ms"),
            "streaming.walCommit_ms_p50": (stream["walCommit_ms_p50"], "ms"),
            "streaming.triggerExecution_ms_p50": (stream["triggerExecution_ms_p50"], "ms"),
            "streaming.jobs_per_batch": (jobs / n, "count"),
            "streaming.bytes_read_per_batch": (task_stats(tasks)["bytes_read"] / n, "B"),
        })
    with Stopwatch() as sw:
        metrics.update(kernel_replay(bench))
    log(f"kernel replay {sw.s:.2f}s")
    return metrics
