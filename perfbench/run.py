"""Outside-in benchmark of the span-sanitize pipeline and the dedup chain.

    python3 perfbench/run.py --workload skew_ckpt --seed 1 --seconds 10 --trace 0

Load shape: a closed loop. One driver process runs Spark at
``local[<cores>]`` (the CPUs this process may use) and runs one job at a
time; the next job starts when the previous one returns.

A run:
  1. sets up once, as a CLI run does: ``get_spark`` launches the JVM, and a
     warm-up job on the golden docs spawns the Python workers. That is
     ``setup_s``. (A second set-up in the same run would cost about 6 s
     more and, in a warm JVM, would not measure what a CLI user pays.)
  2. generates the workload's input from ``--seed`` (not timed);
  3. times the workload's fixed number of calls of its entry point, the
     first after set-up, sampling the process tree's memory from /proc.
     The count does not depend on speed; ``--seconds`` is a floor the
     calls meet on a 4-CPU host, and a run whose calls are shorter says
     so on stderr;
  4. checks the last call's output (the gate, not timed).

With ``--trace 1`` the run first makes an untraced run's set-up, input
and calls in a JVM of its own: they are the untraced reference. It then
does the same in a new JVM with the Spark UI enabled,
with spans around every benchmark-side call, and reads Spark's stage and
SQL-node metrics from the local REST API. It then runs the workload's
sub-measurements and repeats the call untraced at ``local[<cores>]`` and
at ``local[1]``. It prints the per-layer metrics instead of the
end-to-end ones and writes the spans to ``.perfbench/results/``.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. The line before it,
``record <json>``, carries the whole result record: every metric, the
per-call timings, and the input and host fingerprints. Each record is
also appended to ``.perfbench/results/records.jsonl``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
RESULTS = ROOT / ".perfbench" / "results"


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("skew_ckpt", "tame_nested", "dedup_chain"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(work: Path) -> None:
    """Keep every file Spark, the JVM and Python workers write inside the
    work directory, and let the workers import the package from source."""
    for sub in ("tmp", "local", "jtmp"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    # spark-submit first runs a small launcher JVM; keep its files here too
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'jtmp'}")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))


class Sessions:
    """Starts, restarts and finally stops the one Spark session a run uses,
    including the JVM behind it."""

    def __init__(self, work: Path):
        self.work = work
        self.spark = None

    def conf(self, ui: bool) -> dict:
        return {
            "spark.ui.enabled": str(ui).lower(),
            "spark.ui.port": "0",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(self.work / "local"),
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            # the driver heap keeps the program's own default size
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.work / 'jtmp'} -XX:-UsePerfData",
        }

    def start(self, cores: int, tracer, ui: bool = False) -> tuple[float, float]:
        """(get_spark seconds, warm-up seconds) of one set-up."""
        from html_sanitizer_spark.pipeline.job import sanitize_spans
        from html_sanitizer_spark.pipeline.session import get_spark
        from html_sanitizer_spark.pipeline.synth import golden_spans_df

        if self.spark is not None:
            self.spark.stop()
        with tracer.span("get_spark", cores=cores, ui=ui):
            t0 = time.perf_counter()
            self.spark = get_spark("perfbench", parallelism=cores,
                                   extra_conf=self.conf(ui))
            t1 = time.perf_counter()
        self.spark.sparkContext.setLogLevel("ERROR")
        with tracer.span("warm_up"):
            sanitize_spans(self.spark, golden_spans_df(self.spark),
                           explode="auto").write.format("noop").mode(
                "overwrite").save()
        return t1 - t0, time.perf_counter() - t1

    def close(self) -> None:
        """Stop the session and the JVM, then wait until every process the
        run started (the JVM, the Python daemon and workers) has ended."""
        from pyspark import SparkContext

        from perfbench.host import alive, descendants

        started = descendants(os.getpid())
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        deadline = time.monotonic() + 30
        while left := [p for p in started if alive(p)]:
            if time.monotonic() > deadline:
                for pid in left:
                    try:
                        os.kill(pid, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
            time.sleep(0.2)


def timed_calls(wl, spark, tracer) -> float:
    """Seconds of the workload's timed region: its fixed number of calls,
    the first ones after set-up, as one batch run of the program makes
    them. The count does not depend on speed."""
    t0 = time.perf_counter()
    for _ in range(wl.calls):
        wl.reset()
        with tracer.span("timed_call", entry=wl.entry):
            wl.run(spark)
    return time.perf_counter() - t0


def code_hash() -> str:
    """Hash of the package's and the benchmark's Python sources."""
    h = hashlib.sha256()
    files = [*(ROOT / "html_sanitizer_spark").rglob("*.py"),
             *(ROOT / "perfbench").glob("*.py")]
    for f in sorted(files):
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def measure(args, wl, sessions: Sessions, tracer, cores: int,
            record: dict) -> None:
    """An untraced run: set-up, input, timed calls, gate."""
    from perfbench.host import PeakRss

    start_s, warm_s = sessions.start(cores, tracer)
    record["setup"] = {"start_s": start_s, "warm_s": warm_s}
    t0 = time.perf_counter()
    record["input"] = wl.generate(sessions.spark)
    record["generate_s"] = time.perf_counter() - t0
    with PeakRss() as rss:
        timed_s = timed_calls(wl, sessions.spark, tracer)
    record["calls"] = wl.calls
    record["timed_s"] = timed_s
    if timed_s < args.seconds:
        print(f"perfbench: the timed calls took {timed_s:.1f} s, less than "
              f"--seconds {args.seconds}", file=sys.stderr)
    t0 = time.perf_counter()
    record["gate"] = wl.gate(sessions.spark)
    record["gate_s"] = time.perf_counter() - t0
    record["metrics"] = {
        "docs_per_s": wl.calls * wl.docs / timed_s,
        "setup_s": start_s + warm_s,
        "peak_worker_rss_mb": rss.peak["workers"] / 2**20,
    }
    record["peak_rss"] = rss.peak


def measure_traced(args, wl, sessions: Sessions, tracer, cores: int,
                   record: dict) -> None:
    """A traced run, in three parts:

    1. the untraced reference: an untraced run's set-up, input and timed
       calls, in a JVM of its own;
    2. the same again in a new JVM with the Spark UI on, with Spark's
       metrics read back over REST after the timed calls, so they are as
       warm as the reference calls; then the gate and sub-measurements;
    3. the call again in that JVM at local[cores] and at local[1]."""
    from perfbench.engine_replay import replay
    from perfbench.host import PeakRss
    from perfbench.layers import derive
    from perfbench.spark_rest import (
        SparkRest, jvm_heap_peak_mb, python_node_totals, task_skew)
    from perfbench.tracing import Tracer

    quiet = Tracer(enabled=False)
    with tracer.span("untraced_reference", ui=False):
        sessions.start(cores, quiet)
        reference_input = wl.generate(sessions.spark)
        with PeakRss() as rss:
            untraced_s = timed_calls(wl, sessions.spark, quiet)
        sessions.close()
    record["peak_rss"] = rss.peak
    with tracer.span("setup", ui=True):
        start_s, warm_s = sessions.start(cores, tracer, ui=True)
    record["setup"] = {"start_s": start_s, "warm_s": warm_s}
    spark = sessions.spark
    rest = SparkRest(spark.sparkContext.uiWebUrl,
                     spark.sparkContext.applicationId)

    def measured(name, fn):
        mark = rest.high_water()
        with tracer.span(name, entry=wl.entry) as sid:
            t0 = time.perf_counter()
            value = fn()
            elapsed = time.perf_counter() - t0
        window = rest.window(mark)
        tracer.add_spark_children(sid, window)
        return value, elapsed, window

    with tracer.span("generate"):
        record["input"] = wl.generate(spark)
    if record["input"] != reference_input:
        raise RuntimeError("the traced and the reference input differ: "
                           f"{record['input']} != {reference_input}")
    with PeakRss():  # the same sampling load as the reference calls
        _, traced_s, timed = measured(
            "timed_calls", lambda: timed_calls(wl, spark, tracer))
    with tracer.span("gate"):
        record["gate"] = wl.gate(spark)
    extra: dict = {"dps_traced": wl.calls * wl.docs / traced_s,
                   "dps_untraced": wl.calls * wl.docs / untraced_s,
                   "peak_rss": rss.peak,
                   "jvm_heap_peak_mb": jvm_heap_peak_mb(rest.executors())}
    if wl.name == "dedup_chain":
        kind = "dedup"
        extra.update(measured("pair_counts", lambda: wl.counts(spark))[0])
    else:
        kind = "checkpoint" if wl.name == "skew_ckpt" else "nested"
        df, extra["exchanges"] = wl.plan_only(spark)
        _, extra["plan_only_s"], _ = measured(
            "plan_only",
            lambda: df.write.format("noop").mode("overwrite").save())
        stages = python_node_totals(timed["executions"])["stages"]
        extra["udf_task_skew"] = 0.0
        if stages:
            (stage_id, attempt), _ = max(stages, key=lambda s: s[1])
            extra["udf_task_skew"] = task_skew(rest.tasks(stage_id, attempt))
        with tracer.span("engine_replay"):
            extra["engine"] = replay(wl.sample_texts())
        extra["text_spans"] = wl.text_spans()
        extra["buckets"] = getattr(wl, "n_buckets", 1)
        extra["input_bytes"] = record["input"]["input_bytes"]
    # scaling: the same call, untraced and with warm code caches, at
    # local[cores] and at local[1], both in this JVM
    for n in (cores, 1):
        with tracer.span("setup", cores=n):
            sessions.start(n, tracer)
        wl.reset()
        with tracer.span("scaling_call", cores=n):
            t0 = time.perf_counter()
            wl.run(sessions.spark)
            extra[f"dps_{n}core"] = wl.docs / (time.perf_counter() - t0)
    record["per_layer"] = derive(kind, timed, traced_s, cores,
                                 record["setup"], extra)
    record["per_layer"]["trace.spans"] = float(len(tracer.spans))


def result_line(record: dict) -> dict:
    """The last stdout line: the end-to-end metrics of an untraced run,
    the per-layer metrics of a traced one."""
    from perfbench.layers import END_TO_END, PER_LAYER

    if record["trace"]:
        names = [(n, u) for n, u, _ in PER_LAYER]
        values = record.get("per_layer", {})
    else:
        names = [(n, u) for n, u, _, _ in END_TO_END]
        values = record.get("metrics", {})
    failed = record["gate"]["failed"]
    return {
        "correct": failed == 0 and "error" not in record,
        "attempted": record["gate"]["attempted"],
        "failed": failed,
        "metrics": {n: {"value": values.get(n, 0.0), "unit": u}
                    for n, u in names},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "html_sanitizer_spark").is_dir():
        print(f"perfbench: no html_sanitizer_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    from perfbench.host import host_fingerprint, loadavg
    from perfbench.tracing import Tracer
    from perfbench.workloads import WORKLOADS

    work = (ROOT / ".perfbench" / "work"
            / f"{args.workload}-{args.seed}-{os.getpid()}")
    prepare_env(work)
    cores = len(os.sched_getaffinity(0))
    host = host_fingerprint(ROOT)
    host["loadavg_before"] = loadavg()
    tracer = Tracer(enabled=bool(args.trace))
    wl = WORKLOADS[args.workload](work, args.seed)
    sessions = Sessions(work)
    record: dict = {"workload": args.workload, "seed": args.seed,
                    "seconds": args.seconds, "trace": args.trace,
                    "cores": cores, "entry": wl.entry, "code": code_hash()}
    try:
        (measure_traced if args.trace else measure)(
            args, wl, sessions, tracer, cores, record)
    except Exception:
        # a run that raises fails every document it attempted
        traceback.print_exc()
        record["error"] = traceback.format_exc(limit=4)
        attempted = record.get("input", {}).get("docs", 1)
        record["gate"] = {"attempted": attempted, "failed": attempted}
    finally:
        sessions.close()
        shutil.rmtree(work, ignore_errors=True)
    host["loadavg_after"] = loadavg()
    record["host"] = host
    attempted = record["gate"]["attempted"]
    failed = record["gate"]["failed"]
    record["failed_ratio"] = failed / attempted
    RESULTS.mkdir(parents=True, exist_ok=True)
    if args.trace:
        spans_path = RESULTS / f"spans-{args.workload}-seed{args.seed}.json"
        tracer.write(spans_path)
        record["spans_file"] = str(spans_path.relative_to(ROOT))
    with open(RESULTS / "records.jsonl", "a") as fh:
        fh.write(json.dumps(record) + "\n")
    print(f"failed_ratio {record['failed_ratio']} ratio")
    print("record " + json.dumps(record))
    print(json.dumps(result_line(record)))
    return 1 if "error" in record else 0


if __name__ == "__main__":
    sys.exit(main())
