#!/usr/bin/env python3
"""Benchmark of the link-graph engine: one workload per run, outputs checked.

    python3 perfbench/run.py --workload crawl --seed 1 --seconds 10 --trace 0

A closed loop: one client, one Spark job at a time, on local[<cpus>]. The
run sets up (session start, input generation from the seed, edge-table
build, one warm-up pass), then runs passes of the workload until
``--seconds`` have passed, checking every output against a reference
computed without the engine.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer metrics of a traced session
(Spark event log on, one job group per span), plus the ratio of the
traced to the untraced pass time measured in the same run. The line
before it is the full report: every metric, the per-pass samples and the
run's validity record. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

# crawl/resume pages; the skewed edges drawn and their vertex range
SIZES = {"pages": 20_000, "skew_edges": 600_000, "skew_vertices": 60_000}
SETUP_REPS = 3
WORK_ROOT = os.path.join(REPO, ".perfbench_work")
OUT_ROOT = os.path.join(REPO, ".perfbench_out")

# The end-to-end metrics the last line of an untraced run carries: the
# aggregates steady enough run to run to be held to a bound. The per-job
# times and pagerank_eps, each a few seconds of wall time, vary too much
# with the host's speed, and peak_rss_mb with the JVM's heap sizing; they
# are in the full report line.
END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
}
# Per-job times, each the median over passes of the span timing that layer
# call; they are in the full report line.
JOB_METRICS = {
    "extract_s": "extract",
    "pagerank_s": "algorithms.pagerank",
    "cc_s": "algorithms.components",
    "lpa_s": "algorithms.labelprop",
    "triangles_s": "algorithms.triangles",
    "hits_s": "algorithms.hits",
    "resume_s": "resume",
}
SPAN_LAYERS = (
    "extract",
    "algorithms.pagerank",
    "algorithms.components",
    "algorithms.labelprop",
    "algorithms.triangles",
    "algorithms.hits",
)
SPAN_METRICS = ("wall_s", "jobs", "stages", "tasks", "shuffle_read_mb", "shuffle_write_mb",
                "spill_mb", "executor_run_s", "executor_cpu_s", "gc_s", "driver_gap_s")
UNITS = {"_s": "s", "_mb": "MB", "_ratio": "ratio", "_rate": "ratio", "_eps": "edges/s"}


def unit_of(name: str) -> str:
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def per_layer_names() -> list[str]:
    """Per-layer metrics in the last line of a traced run. Every metric is
    reported on every workload: 0 for a layer the workload does not run."""
    names = [f"{layer}.{m}" for layer in SPAN_LAYERS for m in SPAN_METRICS]
    names += [
        "algorithms.pagerank.iter_s", "algorithms.pagerank.n_hubs", "algorithms.pagerank.partitions",
        "algorithms.components.rounds", "algorithms.components.endgame_s",
        "algorithms.components.pointer_edges", "algorithms.labelprop.last_changed",
        "algorithms.hits.iter_s",
        "checkpoint.commits", "checkpoint.commit_s", "checkpoint.commit_mb", "checkpoint.files",
        "checkpoint.latest_s", "checkpoint.read_state_s",
        "tuning.partitions", "fixtures.gen_s", "session.start_s", "session.gc_s", "session.local_dir_peak_mb",
        "session.jvm_peak_rss_mb", "session.driver_peak_rss_mb",
        "trace.overhead_ratio",
    ]
    return names


# --------------------------------------------------------------------------
# process hygiene
# --------------------------------------------------------------------------


def dir_size_mb(path: str) -> float:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(root, f)).st_size
            except OSError:  # removed while walking
                pass
    return total / (1 << 20)


class DirSampler:
    """Peak size of a directory, sampled from a background thread."""

    def __init__(self, path: str, interval: float = 0.25):
        self.path = path
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.wait(self.interval):
            self.peak_mb = max(self.peak_mb, dir_size_mb(self.path))

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


def free_mb(path: str) -> float:
    st = os.statvfs(path)
    return st.f_bavail * st.f_frsize / (1 << 20)


def reset_peak_rss(pid: int) -> None:
    """Restart a process's peak resident set (VmHWM) from its current
    resident set."""
    with open(f"/proc/{pid}/clear_refs", "w") as f:
        f.write("5")


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set of a process (VmHWM), in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_jvm() -> None:
    """Stop the Spark context, then the JVM the gateway launched and every
    process under it (Python workers), waiting until each has ended."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        try:
            SparkContext._active_spark_context.stop()
        except Exception:  # an interrupted gateway call; the JVM is killed below
            traceback.print_exc()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    pids = descendants(proc.pid) if proc else []
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 15
    for pid in pids:
        while alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def sweep_stale_work_dirs() -> None:
    """Remove work directories left by runs that were killed outright."""
    if not os.path.isdir(WORK_ROOT):
        return
    for name in os.listdir(WORK_ROOT):
        pid = name.rsplit("-", 1)[-1]
        if pid.isdigit() and not alive(int(pid)):
            shutil.rmtree(os.path.join(WORK_ROOT, name), ignore_errors=True)


# --------------------------------------------------------------------------
# the run
# --------------------------------------------------------------------------


def start_session(work: str, cpus: int):
    from scalemine_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
    }
    t0 = time.monotonic()
    spark = get_spark("perfbench", cores=cpus, shuffle_partitions=2 * cpus, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.monotonic() - t0


@contextlib.contextmanager
def event_log(spark, log_dir: str):
    """Write the session's Spark event log under ``log_dir`` while the
    block runs. Attaching the listener to the running session lets one
    warm session measure passes with and without tracing."""
    sc = spark.sparkContext
    jsc, jvm = sc._jsc.sc(), sc._jvm
    os.makedirs(log_dir, exist_ok=True)
    conf = jsc.conf().clone().set("spark.eventLog.compress", "false")
    listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
        jsc.applicationId(), jvm.scala.Option.apply(None), jvm.java.net.URI(f"file://{log_dir}"),
        conf, sc._jsc.hadoopConfiguration(),
    )
    listener.start()
    jsc.addSparkListener(listener)
    try:
        yield
    finally:
        jsc.listenerBus().waitUntilEmpty()
        jsc.removeSparkListener(listener)
        listener.stop()


def load1() -> float:
    return os.getloadavg()[0]


def measure(wl, tracer, seconds: float, first_pass: int, loads: list) -> list[int]:
    """Run passes until ``seconds`` have passed (at least one)."""
    ids = []
    t0 = time.monotonic()
    while not ids or time.monotonic() - t0 < seconds:
        pid = first_pass + len(ids)
        run_pass(wl, tracer, pid, loads)
        ids.append(pid)
    return ids


def run_pass(wl, tracer, pass_id: int, loads: list, warmup: bool = False) -> None:
    tracer.pass_id = pass_id
    before = load1()
    with tracer.span("pass"):
        wl.run_pass(pass_id, warmup)
    loads.append({"pass": pass_id, "load1_start": before, "load1_end": load1()})
    tracer.pass_id = None


def infos(wl, layer, passes) -> list[dict]:
    return [i for i in wl.infos.get(layer, []) if i["pass"] in passes]


def steady_iter_s(wl, layer, passes) -> float | None:
    """Median iteration time over the given passes, first two iterations
    of each call left out (bench.py's steady-state definition)."""
    pooled = [t for i in infos(wl, layer, passes) for t in i["iter_seconds"][2:]]
    return statistics.median(pooled) if pooled else None


def run(args, work: str) -> dict:
    from perfbench import spans
    from perfbench.workloads import WORKLOADS
    from scalemine_spark.tuning import adaptive_partitions

    cpus = len(os.sched_getaffinity(0))
    local_dir = os.environ["SPARK_LOCAL_DIRS_OVERRIDE"]
    validity = {
        "cpus": cpus,
        "seed": args.seed,
        "workload": args.workload,
        "sizes": SIZES,
        "local_dir_free_mb_at_start": free_mb(os.path.dirname(local_dir)),
        "dev_shm_free_mb_at_start": free_mb("/dev/shm") if os.path.isdir("/dev/shm") else None,
    }
    loads: list = []
    metrics: dict = {}
    report: dict = {"validity": validity, "metrics": metrics, "per_layer": None}

    with contextlib.ExitStack() as stack:
        sampler = stack.enter_context(DirSampler(local_dir)) if args.trace else None
        spark, session_start_s = start_session(work, cpus)
        validity["spark_version"] = spark.version
        validity["driver_memory"] = spark.conf.get("spark.driver.memory")
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        tracer = spans.Tracer(args.workload)
        wl = WORKLOADS[args.workload](spark, tracer, args.seed, SIZES, work)

        # ---- set-up: inputs and edge table built SETUP_REPS times from
        # scratch (median taken), then the warm-up pass
        preps = []
        for rep in range(1 if args.trace else SETUP_REPS):
            if rep:
                spark.catalog.clearCache()
                shutil.rmtree(os.path.join(work, f"inputs{rep - 1}"))
            t0 = time.monotonic()
            wl.prepare(os.path.join(work, f"inputs{rep}"))
            preps.append(time.monotonic() - t0)
        validity["n_edges"] = wl.n_edges
        partitions = adaptive_partitions(wl.edges)
        wl.load_references()
        t0 = time.monotonic()
        run_pass(wl, tracer, 0, loads, warmup=True)
        warmup_s = time.monotonic() - t0
        report["setup"] = {"session_start_s": session_start_s, "prep_s": preps, "warmup_pass_s": warmup_s}

        # ---- measured passes, tracing off. The driver's peak memory counts
        # from here, so the references computed in this process are not in
        # it; the JVM's covers its whole life.
        reset_peak_rss(os.getpid())
        window = args.seconds / 2 if args.trace else args.seconds
        passes = measure(wl, tracer, window, 1, loads)
        report["peak_rss"] = {"jvm_mb": vm_hwm_mb(jvm_pid), "driver_mb": vm_hwm_mb(os.getpid())}
        metrics["peak_rss_mb"] = sum(report["peak_rss"].values())
        pass_s = statistics.median(tracer.durations("pass", passes))
        metrics["setup_s"] = session_start_s + statistics.median(preps) + warmup_s
        metrics["pass_s"] = pass_s
        samples = {"pass_s": tracer.durations("pass", passes)}
        for metric, layer in JOB_METRICS.items():
            if layer in wl.layers:
                samples[metric] = tracer.durations(layer, passes)
                metrics[metric] = statistics.median(samples[metric])
        steady = steady_iter_s(wl, "algorithms.pagerank", passes)
        if steady:  # None when PageRank failed in every measured pass
            metrics["pagerank_eps"] = wl.n_edges / steady
        report["samples"] = samples

        if args.trace:
            # ---- traced passes: event log on, one job group per span
            event_dir = os.path.join(work, "eventlog")
            tracer.sc = spark.sparkContext
            with event_log(spark, event_dir):
                traced = measure(wl, tracer, args.seconds / 2, 1001, loads)
            tracer.sc = None
            traced_pass_s = statistics.median(tracer.durations("pass", traced))
            groups = spans.counters_by_group(spans.read_events(spans.event_log_files(event_dir)))
            records = [r for r in spans.span_metrics(tracer.spans, groups) if r["pass_id"] in traced]
            layer = layer_metrics(wl, tracer, records, traced)
            layer.update({
                "tuning.partitions": partitions,
                "fixtures.gen_s": statistics.median(wl.gen_s),
                "session.start_s": session_start_s,
                "session.jvm_peak_rss_mb": report["peak_rss"]["jvm_mb"],
                "session.driver_peak_rss_mb": report["peak_rss"]["driver_mb"],
                "trace.overhead_ratio": traced_pass_s / pass_s,
            })
            report["per_layer"] = layer
            report["layers"] = spans.summarize(records, sorted({r["name"] for r in records}))
            samples["traced_pass_s"] = tracer.durations("pass", traced)
            os.makedirs(OUT_ROOT, exist_ok=True)
            tracer.write(os.path.join(OUT_ROOT, f"spans-{args.workload}-seed{args.seed}.json"))
    if sampler:
        report["per_layer"]["session.local_dir_peak_mb"] = sampler.peak_mb

    attempted, failed = wl.attempted, len(wl.failures)
    metrics["error_rate"] = failed / attempted
    report.update(attempted=attempted, failed=failed, failures=wl.failures)
    validity["loadavg"] = loads
    # bench.py's rule: a load above 1.25x the cores means the host was shared
    validity["contended"] = max(max(x["load1_start"], x["load1_end"]) for x in loads) > 1.25 * cpus
    return report


def layer_metrics(wl, tracer, records: list[dict], passes: list[int]) -> dict:
    """The per-layer values of the result line: medians over the traced
    calls, or over the traced passes for per-pass totals. The report's
    ``layers`` summary adds their minimum and maximum."""
    out: dict = {}
    for layer in SPAN_LAYERS:
        calls = [r for r in records if r["name"] == layer]
        for m in SPAN_METRICS:
            out[f"{layer}.{m}"] = statistics.median(r[m] for r in calls) if calls else 0.0
    out["session.gc_s"] = statistics.median(r["gc_s"] for r in records if r["name"] == "pass")
    pr = infos(wl, "algorithms.pagerank", passes)
    cc = infos(wl, "algorithms.components", passes)
    lpa = infos(wl, "algorithms.labelprop", passes)
    out["algorithms.pagerank.iter_s"] = steady_iter_s(wl, "algorithms.pagerank", passes)
    out["algorithms.pagerank.n_hubs"] = statistics.median(i["n_hubs"] for i in pr)
    out["algorithms.pagerank.partitions"] = statistics.median(i["num_partitions"] for i in pr)
    out["algorithms.components.rounds"] = statistics.median(i["rounds"] for i in cc)
    out["algorithms.components.endgame_s"] = statistics.median(i["endgame_seconds"] or 0.0 for i in cc)
    out["algorithms.components.pointer_edges"] = statistics.median(i["n_pointer_edges"] for i in cc)
    out["algorithms.labelprop.last_changed"] = statistics.median(i["last_changed"] for i in lpa)
    out["algorithms.hits.iter_s"] = steady_iter_s(wl, "algorithms.hits", passes)
    # checkpoint calls: totals per pass
    ck = {"commits": [], "commit_s": [], "commit_mb": [], "files": [], "latest_s": [], "read_state_s": []}
    for p in passes:
        calls = [s for s in tracer.spans if s["pass_id"] == p and s["name"].startswith("checkpoint.")]
        commits = [s for s in calls if s["name"] == "checkpoint.commit"]
        ck["commits"].append(len(commits))
        ck["commit_mb"].append(sum(s.get("mb", 0.0) for s in commits))
        ck["files"].append(sum(s.get("files", 0) for s in commits))
        for name in ("commit", "latest", "read_state"):
            ck[f"{name}_s"].append(
                sum((s["end"] - s["start"] for s in calls if s["name"] == f"checkpoint.{name}"), 0.0)
            )
    for k, v in ck.items():
        out[f"checkpoint.{k}"] = statistics.median(v)
    return out


# --------------------------------------------------------------------------


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=("crawl", "skewed", "resume"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0, help="measuring window")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def with_units(values: dict) -> dict:
    return {n: {"value": v, "unit": unit_of(n)} for n, v in values.items()}


def contract_line(report: dict, trace_on: bool) -> dict:
    if trace_on:
        values = {n: report["per_layer"][n] for n in per_layer_names()}
    else:
        values = {n: report["metrics"][n] for n in END_TO_END}
    return {
        "correct": report["failed"] == 0,
        "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": with_units(values),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    # import the benchmark as the ``perfbench`` package, never its modules
    # by bare name from the script's own directory
    sys.path[:] = [REPO] + [p for p in sys.path if os.path.abspath(p or ".") != HERE]
    try:
        import pyspark  # noqa: F401

        import scalemine_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {REPO}: {e}", file=sys.stderr)
        return 2

    # Everything the run writes stays under its own work directory: inputs,
    # the Spark local dir (shuffle files), checkpoints, event logs, temp files.
    sweep_stale_work_dirs()
    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["SPARK_LOCAL_DIRS_OVERRIDE"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # Spark's Python workers import the engine too
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (REPO, os.environ.get("PYTHONPATH")) if p)

    # stdout carries only the result lines: the JVM and the workers inherit
    # fd 1, so point it at stderr for the run and keep a copy for the end
    out_fd = os.dup(1)
    os.dup2(2, 1)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        report = run(args, work)
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        try:
            stop_jvm()
        finally:
            shutil.rmtree(work, ignore_errors=True)
    last = contract_line(report, bool(args.trace))
    report["metrics"] = with_units(report["metrics"])
    if report["per_layer"]:
        report["per_layer"] = with_units(report["per_layer"])
    os.makedirs(OUT_ROOT, exist_ok=True)
    with open(os.path.join(OUT_ROOT, f"report-{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(report, f, indent=1)
    with os.fdopen(out_fd, "w") as out:
        out.write(json.dumps({"report": report}) + "\n")
        out.write(json.dumps(last) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
