"""The bistro_spark benchmark: one command, every metric, every output checked.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Workloads (see BENCHMARK.json for why
each was chosen; ``stream_sketch`` is left out of it, see ``STREAM``):

- ``batch_calculus``: whole-table calc -> link -> accumulate
  (``build_pipeline`` facts write + ``flagship()`` rollup).
- ``stream_sketch``: ``jobs/stream_pipeline.py --sketch`` under
  spark-submit, draining a backlog of parquet files with ``availableNow``.
- ``incremental_retention``: ``IncrementalRunner`` add + ``result()`` per
  delta, with count retention on the un-fold path.

Each run is closed loop: the next step starts when the previous result is
back. The load generator (``loadgen.py``) writes the inputs from the seed
before the workload process starts and caches them per (seed, size) under
``.bench_cache/``. The workload then runs in its own child process on
``local[<cpus>]``: ``workloads.py`` for the in-process workloads, and
spark-submit for the stream job, with the ``--py-files`` zip built from the
working tree into the run's own directory. A run measures a fixed amount of
work sized from ``--seconds``, so its figures compare across runs.

End-to-end metrics (``--trace 0``; one step is one pass, trigger or delta):

- ``setup_s``: child process start to its first result (session start and
  warm-up step included, input generation excluded);
- ``wall_s``: duration of the timed region, input to complete result;
- ``seq_per_s``/``tok_per_s``: sequences and tokens completed per second;
- ``step_p50_s``/``step_tail_s``: step latency median, and the highest
  percentile with at least ten samples beyond it, or a quarter of the
  samples when there are fewer than 40 (``tail``); the sample count and
  every step's latency go to the record;
- ``cpu_s``: CPU time of the whole process tree per step;
- ``peak_rss_mb``: peak resident memory of the process tree, polled every
  0.25 s, with Python processes counted by PSS so that pages the workers
  share with their daemon count once (``proctree.py``).

``--trace 1`` runs the workload with Spark's event log on and reports the
per-layer table: the benchmark's spans around each call into a layer, the
event-log folds of ``eventlog.py``, the stream job's own metrics log, and
the tracing overhead (traced ``wall_s`` minus the median of the untraced
runs of the same workload, size and sources on record, of which it first
makes one if there is none; every seed has inputs of the same size).
``trace.coverage`` is the sum of the layer figures that split a step
(``STEP_PARTS``) over the median step latency; a traced run outside
0.9-1.1 counts as failed. Metric names and units come from BENCHMARK.json.

Every output is checked outside the timed region; a failed check or an
exception counts against ``attempted``. The last line of stdout is one JSON
object; a record with host, cpus, PySpark version, source digest and seed
is appended to ``.bench_out/records.jsonl``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import socket
import statistics
import subprocess
import sys
import time
import zipfile
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
import loadgen  # noqa: E402
from proctree import MemorySampler, tree_cpu  # noqa: E402

CACHE = os.path.join(ROOT, ".bench_cache")
OUT = os.path.join(ROOT, ".bench_out")
PACKAGE = os.path.join(ROOT, "bistro_spark")
STREAM_JOB = os.path.join(PACKAGE, "jobs", "stream_pipeline.py")
# The in-process workloads' driver heap, committed whole at start (-Xms): a
# heap left to grow reaches a different size by the end of each run, and
# peak memory with it.
DRIVER_MEM = "2g"
CHILD_TIMEOUT = 160

# A run times round(seconds / step_s) steps (at least ``min``), which take
# 10 to 25 s on a 4-core host. After the first result, ``warmup`` more steps
# run untimed so the JIT settles: on a 4-core host the first three deltas
# after it still run up to 30% slower than the rest, and would set the tail.
BATCH = {"rows": 200_000, "files": 8, "step_s": 5.0, "min": 3, "warmup": 2}
INCREMENTAL = {"rows_per_file": 5_000, "retention": 20_000, "step_s": 2.0, "min": 4, "warmup": 4}
# Not in BENCHMARK.json: launched as shipped, the job keeps Spark's default
# 200 shuffle and state partitions, so one 6k-row trigger takes 14-30 s and
# a run about two minutes on a 4-core host, too long for the driven
# benchmark's time budget.
STREAM = {"rows_per_file": 1_500, "files_per_trigger": 4, "window_s": 60, "step_s": 30.0,
          "min": 2, "warmup": 1, "timeout": 900}

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    _BENCHMARK = json.load(_f)
END_TO_END = {m["name"]: m["unit"] for m in _BENCHMARK["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _BENCHMARK["per_layer"]}
# layer figures that together make up one step, checked against its latency
STEP_PARTS = {
    "batch_calculus": ("sources.read_s", "schema.build_s", "schema.facts_s", "schema.rollup_s"),
    "incremental_retention": ("sources.read_s", "incremental.add_s", "incremental.result_s"),
    "stream_sketch": ("trigger.plan_s", "trigger.add_batch_s", "trigger.wal_s"),
}
COVERAGE = (0.9, 1.1)
# event-log folds reported per step; the rest are already per step or gauges
_PER_STEP = {m for m in eventlog.METRICS if m not in ("tasks.peak_mem_bytes", "tasks.skew")}


def tail(samples: list[float]) -> tuple[float, int]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it, or a quarter of them when there are fewer than 40
    (at least one). A run has 4 to 10 steps, and their maximum alone would
    follow whichever step a host hiccup hit."""
    xs = sorted(samples)
    n = len(xs)
    beyond = max(1, min(10, n // 4))
    if n <= beyond:
        return xs[-1], 100
    return xs[n - 1 - beyond], math.floor(100 * (n - beyond) / n)


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def source_digest() -> str:
    h = hashlib.sha256()
    for base, _dirs, files in sorted(os.walk(PACKAGE)):
        for fn in sorted(files):
            if fn.endswith(".py"):
                with open(os.path.join(base, fn), "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def git_commit() -> str:
    try:
        return subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        ).stdout.strip() or "none"
    except OSError:
        return "none"


def build_zip(dest: str) -> str:
    """The --py-files zip, from the working tree (never a committed one)."""
    path = os.path.join(dest, "bistro_spark.zip")
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        for base, _dirs, files in os.walk(PACKAGE):
            for fn in files:
                if fn.endswith(".py"):
                    p = os.path.join(base, fn)
                    z.write(p, os.path.relpath(p, ROOT))
    return path


def spark_conf(work: str, trace: bool) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    # off unless traced: the stream check's session shares the job's JVM,
    # whose spark-submit settings it would otherwise inherit
    conf["spark.eventLog.enabled"] = str(trace).lower()
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    return conf


def child_env(work: str, with_repo: bool) -> dict[str, str]:
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(cpus()),
        "BISTRO_DRIVER_MEM": DRIVER_MEM,
        "TMPDIR": os.path.join(work, "tmp"),
        # the JVM spark-submit starts first to build the driver's command line
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    if with_repo:
        env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    else:
        env.pop("PYTHONPATH", None)
    return env


@contextmanager
def child(cmd: list[str], env: dict, log_path: str):
    """Start ``cmd`` in its own session, logging to ``log_path``. On leaving,
    whether normally, on an error or on SIGTERM, kill whatever is left of
    the session and wait for it."""
    with open(log_path, "ab") as log:
        proc = subprocess.Popen(
            cmd, cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT, start_new_session=True
        )
    try:
        yield proc
    finally:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()


def run_in_process(workload: str, spec: dict, work: str) -> dict:
    """Run a ``workloads.py`` child; returns its result plus the launch time
    and the process tree's memory samples."""
    spec = dict(spec, workload=workload, cpus=cpus(), result=os.path.join(work, f"{workload}.json"))
    spec["spark_conf"]["spark.driver.extraJavaOptions"] += f" -Xms{DRIVER_MEM}"
    spec_path = os.path.join(work, f"{workload}.spec.json")
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    cmd = [sys.executable, os.path.join(HERE, "workloads.py"), workload, spec_path]
    t_launch = time.time()
    with child(cmd, child_env(work, with_repo=True), os.path.join(work, "child.log")) as proc, \
            MemorySampler(proc.pid) as memory:
        try:
            proc.wait(timeout=CHILD_TIMEOUT)
        except subprocess.TimeoutExpired:
            pass
    if not os.path.exists(spec["result"]):
        return {"error": f"{workload} exited {proc.returncode} without a result", "checks": [],
                "steps": [], "spans": [], "layer": {}, "t_launch": t_launch, "memory": memory}
    with open(spec["result"]) as f:
        res = json.load(f)
    if proc.returncode and not res.get("error"):
        res["error"] = f"{workload} exited {proc.returncode}"
    res.update(t_launch=t_launch, memory=memory)
    return res


# -- workloads ----------------------------------------------------------------


def steps_for(seconds: int, size: dict) -> int:
    return max(size["min"], round(seconds / size["step_s"]))


def batch_calculus(seed: int, seconds: int, work: str, trace: bool) -> dict:
    n = BATCH["rows"]
    first = loadgen.first_row(seed, n)
    inp = os.path.join(CACHE, f"batch-{seed}-{n}")
    loadgen.write_files(inp, first, n, BATCH["files"])
    spec = {"input_dir": inp, "first": first, "rows": n, "warmup": BATCH["warmup"],
            "steps": 1 + BATCH["warmup"] + steps_for(seconds, BATCH),
            "spark_conf": spark_conf(work, trace)}
    return run_in_process("batch_calculus", spec, work)


def incremental_retention(seed: int, seconds: int, work: str, trace: bool) -> dict:
    per = INCREMENTAL["rows_per_file"]
    files = 1 + INCREMENTAL["warmup"] + steps_for(seconds, INCREMENTAL)
    first = loadgen.first_row(seed, per * files)
    inp = os.path.join(CACHE, f"deltas-{seed}-{per}x{files}")
    paths = loadgen.write_files(inp, first, per * files, files)
    spec = {"input_files": paths, "first": first, "rows_per_file": per, "warmup": INCREMENTAL["warmup"],
            "retention": INCREMENTAL["retention"], "spark_conf": spark_conf(work, trace)}
    return run_in_process("incremental_retention", spec, work)


def stream_sketch(seed: int, seconds: int, work: str, trace: bool) -> dict:
    per, fpt = STREAM["rows_per_file"], STREAM["files_per_trigger"]
    warmup = STREAM["warmup"]
    triggers = 1 + warmup + steps_for(seconds, STREAM)
    files = triggers * fpt
    first = loadgen.first_row(seed, per * files)
    inp = os.path.join(CACHE, f"stream-{seed}-{per}x{files}")
    paths = loadgen.write_files(inp, first, per * files, files)
    ck, sink, metrics = (os.path.join(work, d) for d in ("checkpoint", "sink", "metrics.jsonl"))
    check = {"sink": sink, "input_files": paths, "window_s": STREAM["window_s"], "seed": seed,
             "first": first, "rows": per * files,
             "metrics": metrics, "workload": "stream_check", "cpus": cpus(),
             "result": os.path.join(work, "stream_check.json"), "spark_conf": spark_conf(work, False)}
    check_path = os.path.join(work, "stream_check.spec.json")
    with open(check_path, "w") as f:
        json.dump(check, f)
    # launched as the job's docstring launches it: master and --py-files,
    # plus only where to keep temp files and the event log; the job's own
    # settings (Spark's defaults, 200 shuffle and state partitions) stand
    cmd = [spark_submit(), "--master", f"local[{cpus()}]"]
    for k, v in spark_conf(work, trace).items():
        cmd += ["--conf", f"{k}={v}"]
    cmd += ["--py-files", build_zip(work), os.path.join(HERE, "stream_driver.py"), check_path,
            STREAM_JOB, "--input", inp, "--checkpoint", ck, "--sink", sink, "--metrics", metrics,
            "--files-per-trigger", str(fpt), "--window", f"{STREAM['window_s']} seconds", "--sketch"]
    t_launch = time.time()
    # (time the line appeared, tree CPU seconds then, listener event)
    seen: list[tuple[float, float, dict]] = []
    with child(cmd, child_env(work, with_repo=False), os.path.join(work, "child.log")) as proc, \
            MemorySampler(proc.pid) as memory:
        while proc.poll() is None and time.time() < t_launch + STREAM["timeout"]:
            _tail_events(metrics, seen, proc.pid)
            time.sleep(0.02)
    res = {"checks": [], "steps": [], "spans": [], "layer": {}, "error": None,
           "t_launch": t_launch, "memory": memory}
    ended = [t for t, _, e in seen if e["event"] == "terminated"]
    progress = [(t, cpu, e) for t, cpu, e in seen if e["event"] == "progress"]
    data = [p for p in progress if p[2]["num_input_rows"]]
    if not ended or len(data) < 2 + warmup or not os.path.exists(check["result"]):
        res["error"] = f"stream job exited {proc.returncode} after {len(data)} data triggers"
        return res
    with open(check["result"]) as f:
        checked = json.load(f)
    res["checks"], res["error"] = checked["checks"], checked["error"]
    res["first_result"] = data[0][0]
    res["region"] = [data[warmup][0], data[-1][0]]
    res["cpu"] = [data[warmup][1], data[-1][1]]
    res["memory_until"] = ended[0]
    timed = [e for _, _, e in data[1 + warmup:]]
    res["steps"] = [e["duration_ms"]["triggerExecution"] / 1e3 for e in timed]
    skipped = sum(e["num_input_rows"] for _, _, e in data[:1 + warmup])
    res["rows_total"] = sum(e["num_input_rows"] for e in timed)
    res["tokens_total"] = loadgen.token_count(first + skipped, res["rows_total"])
    res["layer"] = _stream_layers(progress, timed, ck, sink)
    return res


def spark_submit() -> str:
    """spark-submit of the Spark install pyspark runs on."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isfile(os.path.join(home, "bin", "spark-submit")):
        return os.path.join(home, "bin", "spark-submit")
    return shutil.which("spark-submit") or "spark-submit"


def _tail_events(path: str, seen: list, root: int) -> None:
    """Append listener events not yet in ``seen``, stamped with the time and
    the process tree's CPU seconds at which they were read."""
    if not os.path.exists(path):
        return
    with open(path) as f:
        new = [json.loads(line) for line in f if line.endswith("\n")][len(seen):]
    if new:
        now, cpu = time.time(), tree_cpu(root)
        seen.extend((now, cpu, e) for e in new)


def _stream_layers(progress: list, measured: list[dict], ck: str, sink: str) -> dict:
    """Layer figures of the stream job: its timed triggers' duration split,
    the zero-row trigger, the state store and the committed sink."""

    def med(key):
        return statistics.median(e["duration_ms"].get(key, 0) / 1e3 for e in measured)

    empty = [e["duration_ms"]["triggerExecution"] / 1e3 for _, _, e in progress if not e["num_input_rows"]]
    last_state = (measured[-1].get("state_operators") or [{}])[0]
    state_dir = os.path.join(ck, "state", "0")
    sink_bytes = sum(
        os.path.getsize(os.path.join(base, fn))
        for base, _dirs, files in os.walk(sink) for fn in files if fn.endswith(".parquet")
    )
    return {
        "trigger.plan_s": med("queryPlanning"),
        "trigger.add_batch_s": med("addBatch"),
        "trigger.wal_s": med("walCommit"),
        "trigger.empty_s": empty[-1] if empty else 0.0,
        "state.partitions": sum(d.isdigit() for d in os.listdir(state_dir)) if os.path.isdir(state_dir) else 0,
        "state.rows_total": last_state.get("num_rows_total", 0),
        "state.mem_bytes": last_state.get("memory_used_bytes", 0),
        "sink.bytes": sink_bytes / len(progress),
    }


WORKLOADS = {
    "batch_calculus": batch_calculus,
    "stream_sketch": stream_sketch,
    "incremental_retention": incremental_retention,
}


# -- metrics ------------------------------------------------------------------


def step_times(res: dict) -> list[float]:
    return [s if isinstance(s, float) else s[1] - s[0] for s in res["steps"]]


def end_to_end(res: dict) -> dict[str, float]:
    steps = step_times(res)
    t0, t1 = res["region"]
    wall = t1 - t0
    return {
        "setup_s": res["first_result"] - res["t_launch"],
        "wall_s": wall,
        "seq_per_s": res["rows_total"] / wall,
        "tok_per_s": res["tokens_total"] / wall,
        "step_p50_s": statistics.median(steps),
        "step_tail_s": tail(steps)[0],
        "cpu_s": (res["cpu"][1] - res["cpu"][0]) / len(steps),
        "peak_rss_mb": res["memory"].peak(res.get("memory_until", float("inf"))) / 2**20,
    }


def per_layer(workload: str, res: dict, work: str, untraced_wall: float) -> dict[str, float]:
    m = dict.fromkeys(PER_LAYER, 0.0)
    m.update(res["layer"])
    n = len(res["steps"])
    spans = [s for s in res["spans"] if s["step"] is not None]
    m["session.start_s"] = sum(s["end"] - s["start"] for s in res["spans"] if s["name"] == "session.start")
    for name in ("sources.read", "schema.build", "schema.facts", "schema.rollup",
                 "incremental.add", "incremental.result"):
        xs = [s["end"] - s["start"] for s in spans if s["name"] == name]
        m[name + "_s"] = statistics.median(xs) if xs else 0.0
    t0, t1 = res["region"]
    events = eventlog.read_events(os.path.join(work, "eventlog"))
    for k, v in eventlog.summarize(events, [[t0, t1]]).items():
        if k in m:
            m[k] = v / n if k in _PER_STEP else v
    adds = [[s["start"], s["end"]] for s in spans if s["name"] == "incremental.add"]
    if adds:
        m["incremental.jobs_per_delta"] = eventlog.summarize(events, adds)["jobs.count"] / n
    wall = t1 - t0
    m["trace.wall_s"] = wall
    m["trace.overhead_s"] = wall - untraced_wall
    # share of the step latency the layer figures account for
    m["trace.coverage"] = sum(m[k] for k in STEP_PARTS[workload]) / statistics.median(step_times(res))
    return m


# -- main ---------------------------------------------------------------------


def run_once(workload: str, seed: int, seconds: int, trace: bool, work: str) -> dict:
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    return WORKLOADS[workload](seed, seconds, work, trace)


def counts(res: dict) -> tuple[int, int]:
    attempted = max(1, len(res["checks"]), len(res["steps"]))
    if res.get("error"):
        return attempted, attempted
    return attempted, sum(1 for ok in res["checks"] if not ok)


def table(title: str, metrics: dict[str, float], units: dict[str, str]) -> str:
    lines = [title] + [f"  {k:32s} {v:16.6g} {units[k]}" for k, v in metrics.items()]
    return "\n".join(lines)


def record(args, trace: bool, res: dict, metrics: dict, digest: str) -> None:
    """Append one run's record to ``.bench_out/records.jsonl``."""
    attempted, failed = counts(res)
    rec = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": int(trace),
        "cpus": cpus(), "host": socket.gethostname(), "pyspark": _pyspark_version(),
        "commit": git_commit(), "source_digest": digest, "time": time.time(),
        "steps": len(res["steps"]), "step_s": step_times(res), "tail_pct": tail(step_times(res))[1] if res["steps"] else None,
        "attempted": attempted, "failed": failed, "error": res.get("error"), "metrics": metrics,
    }
    with open(os.path.join(OUT, "records.jsonl"), "a") as f:
        f.write(json.dumps(rec) + "\n")


def recorded_wall(args, digest: str) -> float | None:
    """Median ``wall_s`` of the untraced runs of this workload, size and
    source on record, if there are any."""
    path = os.path.join(OUT, "records.jsonl")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        recs = [json.loads(line) for line in f]
    walls = [
        r["metrics"]["wall_s"] for r in recs
        if (r["workload"], r["seconds"], r["trace"], r["source_digest"]) == (
            args.workload, args.seconds, 0, digest
        ) and r["metrics"] and not r["failed"]
    ]
    return statistics.median(walls) if walls else None


def measure(args, trace: bool, digest: str) -> tuple[dict, dict]:
    """One run of the workload: (raw result, its metrics, empty on error)."""
    work = os.path.join(OUT, args.workload)
    res = run_once(args.workload, args.seed, args.seconds, trace, work)
    if res.get("error"):
        print(f"{args.workload}: {res['error']}", file=sys.stderr)
        metrics = {}
    elif trace:
        metrics = per_layer(args.workload, res, work, recorded_wall(args, digest))
        # the layer table must account for the step latency
        covered = COVERAGE[0] <= metrics["trace.coverage"] <= COVERAGE[1]
        if not covered:
            print(f"{args.workload}: layer figures cover {metrics['trace.coverage']:.3f} of a step",
                  file=sys.stderr)
        res["checks"].append(covered)
    else:
        metrics = end_to_end(res)
    record(args, trace, res, metrics, digest)
    return res, metrics


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a stop request unwinds through ``child``, which stops the workload
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(PACKAGE, "__init__.py")) or not os.path.isfile(STREAM_JOB):
        print(f"bistro_spark sources not found under {ROOT}", file=sys.stderr)
        return 2
    os.makedirs(CACHE, exist_ok=True)
    os.makedirs(OUT, exist_ok=True)
    digest = source_digest()
    attempted = failed = 0
    if args.trace and recorded_wall(args, digest) is None:
        # the tracing overhead needs an untraced wall time of the same code
        res, metrics = measure(args, False, digest)
        if not metrics:
            return 1
        attempted, failed = counts(res)
    res, metrics = measure(args, bool(args.trace), digest)
    a, f = counts(res)
    attempted, failed = attempted + a, failed + f
    if not metrics:
        return 1
    units = PER_LAYER if args.trace else END_TO_END
    print(table(f"{args.workload} seed={args.seed} steps={len(res['steps'])}", metrics, units))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


def _pyspark_version() -> str:
    from importlib.metadata import PackageNotFoundError, version

    try:
        return version("pyspark")
    except PackageNotFoundError:
        return "unknown"


if __name__ == "__main__":
    sys.exit(main())
