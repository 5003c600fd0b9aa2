"""KG-pipeline benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload predict_dense --seed 1 --seconds 1 --trace 0

Run from the repository root. The program is driven only through its
public entry points: the `predict` verb in process
(`pipeline.main(["predict", ...])`) for the timed operations, and, in the
traced run, the layer functions, `checkpoint.run_resumable` and
`streaming.run_stream_triples`. Single process, closed loop with one
client, at local[nproc].

--trace 0 prints the end-to-end metrics of BENCHMARK.json; --trace 1 the
per-layer ones (perfbench/trace.py). Every operation's sink is checked
against the plain-Python oracle (perfbench/gate.py); an exception or a
failed check counts as a failed operation. The last stdout line is
{"correct", "attempted", "failed", "metrics"}; the host record and the input
shape go to stderr and to perfbench/.work/results/.
"""

from __future__ import annotations

import time

PROCESS_T0 = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.host import Stopwatch, log  # noqa: E402

WORK = os.path.join(ROOT, "perfbench", ".work")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


class Bench:
    """State of one benchmark process: its work dirs, the current Spark
    session and the operation tally."""

    def __init__(self, workload: str, inputs, nproc: int, driver_mem: str):
        self.workload = workload
        self.inputs = inputs
        self.nproc = nproc
        self.driver_mem = driver_mem
        self.run_dir = os.path.join(WORK, f"run-{os.getpid()}")
        os.makedirs(self.run_dir)
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.jvm_pid = None
        self.last_sink = None

    # -- sessions -----------------------------------------------------------

    def start(self, event_log: str | None = None) -> None:
        """Start a session at local[nproc], launching the JVM if none runs."""
        from cliner_spark.session import get_spark

        conf = {
            "spark.driver.memory": self.driver_mem,
            # -XX:-UsePerfData: the JVM would otherwise map a file in /tmp
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={WORK}/tmp -XX:-UsePerfData",
            "spark.local.dir": f"{WORK}/spark-local",
            "spark.sql.warehouse.dir": f"{self.run_dir}/warehouse",
            "spark.ui.showConsoleProgress": "false",
            # options set while building a SparkSession outlive a stopped one,
            # so the event log is always set one way or the other
            "spark.eventLog.enabled": "false",
        }
        if event_log:
            os.makedirs(event_log, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{event_log}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        with Stopwatch() as sw:
            self.spark = get_spark(
                f"perfbench.{self.workload}", master=f"local[{self.nproc}]",
                shuffle_partitions=self.nproc, extra_conf=conf,
            )
        self.get_spark_s = sw.s
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = int(
            self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        )

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown_jvm(self) -> None:
        """Stop the session, then the JVM, and wait for both to end."""
        from pyspark import SparkContext

        self.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 - must not leave the JVM behind
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None

    # -- operations ---------------------------------------------------------

    def predict(self, src, out: str) -> None:
        from cliner_spark import pipeline

        with contextlib.redirect_stdout(sys.stderr):
            pipeline.main([
                "predict", "--input", src.path, "--output", out,
                "--scanner", "udf",
                "--hot-threshold", str(self.inputs.hot_threshold),
            ])

    def checked_predict(self, src) -> tuple[float, float] | None:
        """One `predict` call over `src` (an inputs.Oracle), its sink checked
        against the oracle: (wall seconds, peak worker RSS MB), or None if it
        failed."""
        from perfbench import gate
        from perfbench.host import WorkerRssSampler

        self.attempted += 1
        out = os.path.join(self.run_dir, f"predict{self.attempted}")
        try:
            with WorkerRssSampler(self.jvm_pid) as rss, Stopwatch() as sw:
                self.predict(src, out)
            keys = gate.read_keys(out)
            why = gate.check(keys, src.digest, src.n_keys, one_row_per_key=True)
        except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
            why = f"{type(e).__name__}: {e}"
        shutil.rmtree(out, ignore_errors=True)
        if why is not None:
            self.failed += 1
            log(f"predict {src.path} FAILED: {why}")
            return None
        self.last_sink = (keys, src)
        log(f"predict {src.turns} turns {sw.s:.3f}s, worker peak {rss.peak_mb:.0f} MB")
        return sw.s, rss.peak_mb

    def warm_up(self) -> bool:
        """JIT and worker-pool warm-up: one checked `predict` over the head
        slice (it spawns the Python workers and compiles the plans the timed
        calls reuse), then one read of the workload input."""
        if self.checked_predict(self.inputs.head) is None:
            return False
        self.spark.read.parquet(self.inputs.full.path).count()
        return True


def result(correct: bool, bench: Bench, metrics: dict) -> dict:
    return {
        "correct": correct,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {
            k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()
        },
    }


def end_to_end(bench: Bench, seconds: float, prepare_s: float) -> dict:
    """One set-up, then warm `predict` calls over the workload input until
    `seconds` have passed (always one at the committed run_seconds)."""
    bench.start()
    if not bench.warm_up():
        return {}
    setup_s = time.perf_counter() - PROCESS_T0 - prepare_s
    ops = []
    t0 = time.perf_counter()
    while not ops or time.perf_counter() - t0 < seconds:
        r = bench.checked_predict(bench.inputs.full)
        if r is None:
            return {}
        ops.append(r)
    return {
        "turns_per_s": (bench.inputs.full.turns / statistics.median(w for w, _ in ops),
                        "turns/s"),
        "setup_s": (setup_s, "s"),
        "worker_peak_rss_mb": (statistics.median(r for _, r in ops), "MB"),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import cliner_spark.pipeline  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2

    from perfbench import gate, host, inputs

    if args.workload not in inputs.SHAPES:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(inputs.SHAPES)}", file=sys.stderr)
        return 2

    for d in ("tmp", "spark-local", "cache", "results"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    # Python workers import the program from this checkout and write
    # temporaries inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # predict's own get_spark call sizes shuffles from this
    os.environ["SPARK_GRAFT_CPUS"] = str(host.nproc())
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # the short-lived JVM that spark-submit runs first would map a file in /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"

    with Stopwatch() as prep:
        inp = inputs.prepare(args.workload, args.seed, os.path.join(WORK, "cache"),
                             host.nproc())
    log(f"inputs ready in {prep.s:.2f}s: {json.dumps(inp.shape)}")

    bench = Bench(args.workload, inp, host.nproc(), host.driver_memory())
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "host": host.host_record(ROOT, bench.driver_mem), "input_shape": inp.shape,
    }
    log(f"host {json.dumps(record['host'])}")
    try:
        if args.trace:
            from perfbench import trace

            metrics = trace.run(bench)
        else:
            metrics = end_to_end(bench, args.seconds, prep.s)
    finally:
        bench.shutdown_jvm()
        shutil.rmtree(bench.run_dir, ignore_errors=True)

    missed = []
    if bench.last_sink is not None:
        keys, src = bench.last_sink
        missed = gate.self_test(keys, src.digest, src.n_keys)
        log("gate self-test: " + (f"ACCEPTED corrupt sinks {missed}" if missed
                                  else "planted, dropped and duplicated triples all rejected"))
    correct = bench.failed == 0 and bench.last_sink is not None and not missed
    out = result(correct, bench, metrics)
    record["result"] = out
    with open(os.path.join(WORK, "results",
                           f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}.json"),
              "w") as f:
        json.dump(record, f, indent=1)
    log("done")
    print(json.dumps(out))
    return 0 if metrics else 1


if __name__ == "__main__":
    sys.exit(main())
