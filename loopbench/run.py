"""Closed-loop benchmark of the snowalert_spark engine.

Usage (from the repository root):

    python3 loopbench/run.py --workload alert_tick --seed 1 --seconds 10 --trace 0

Workloads: ``alert_tick``, ``alert_backfill``, ``curation_chain`` (see
``workloads.py``). One process, one client, ``local[nproc]`` Spark.
The run sets up (session start, data generation, rule registration,
landing the starting state), then runs scheduled units back to back
until ``--seconds`` have passed (at least one unit), then checks every
output against the generator's ground truth.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the
same loop with per-layer spans and the Spark event log and prints the
per-layer metrics (per unit). The tracing overhead is the traced
``trace.run_p50_s`` minus the untraced ``run_p50_s``, as medians over
runs (``baseline.py``); a traced run prints its own difference to the
committed baseline in the detail line. The last stdout line is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``. The
exit code is 1 when any output check fails, 2 when the engine cannot
be imported.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

SETUP_REPEATS = 3


def host_facts(seed: int) -> dict:
    cpus = len(os.sched_getaffinity(0))
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    src = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(os.path.join(ROOT, "snowalert_spark"))):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                with open(os.path.join(d, name), "rb") as fh:
                    src.update(fh.read())
    git = "none"
    head = os.path.join(ROOT, ".git", "HEAD")
    if os.path.exists(head):
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            p = os.path.join(ROOT, ".git", ref[5:])
            ref = open(p).read().strip() if os.path.exists(p) else ref
        git = ref[:12]
    import pyspark

    return {"nproc": cpus, "mem_gb": round(mem_kb / 2**20, 1),
            "spark": pyspark.__version__, "python": platform.python_version(),
            "git": git, "src_sha": src.hexdigest()[:12], "seed": seed}


def configure_env(work: str, facts: dict) -> None:
    """Host-sized engine settings through the engine's own env knobs:
    ``local[nproc]`` and a Spark heap of a tenth of RAM (1-4 GB).
    Scratch, warehouse and temp files stay inside the work dir."""
    mb = max(1024, min(4096, int(facts["mem_gb"] * 1024 / 10) // 256 * 256))
    os.environ["SPARK_GRAFT_CPUS"] = str(facts["nproc"])
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{mb}m"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    facts["heap"] = f"{mb}m"


def start_session(work: str, events: str | None):
    from snowalert_spark.session import get_session

    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # a fixed heap (initial = max): without it the peak RSS follows
        # G1's contention-timed heap growth and varies ~40% run to run
        "spark.driver.extraJavaOptions": f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} "
                                         f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    # set either way: PySpark's session factory keeps options across sessions
    conf["spark.eventLog.enabled"] = "true" if events else "false"
    if events:
        os.makedirs(events, exist_ok=True)
        conf.update({"spark.eventLog.dir": events,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    spark = get_session(app_name="loopbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_hwm_mb(spark) -> float:
    """Peak RSS (VmHWM) of the Spark JVM."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def du(paths: list[str]) -> int:
    n = 0
    for p in paths:
        for d, _, files in os.walk(p):
            n += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return n


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid``, from ``/proc``."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def stop_processes(grace: float = 30.0) -> None:
    """Stop Spark, end its JVM (it exits when its stdin closes) and wait
    until every process this one started has ended; whatever is left
    after ``grace`` seconds is killed."""
    from pyspark import SparkContext

    procs = descendants(os.getpid())
    sc = SparkContext._active_spark_context
    if sc is not None:
        try:
            sc.stop()
        except Exception as e:  # the JVM is ended below either way
            print(f"loopbench: stopping Spark: {e}", file=sys.stderr)
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=grace)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + grace
    for pid in procs:
        while alive(pid):
            if time.monotonic() > deadline:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
            time.sleep(0.05)


def run(name: str, seed: int, seconds: float, work: str, traced: bool) -> dict:
    """One session: set up, run units until ``seconds`` have passed
    (at least one), check, measure storage and memory, stop."""
    import spans
    import workloads

    cls = workloads.WORKLOADS[name]
    events = os.path.join(work, "events") if traced else None
    t0 = time.perf_counter()
    spark = start_session(work, events)
    session_s = time.perf_counter() - t0
    off = spans.Tracer()
    state_s, w = [], None
    for k in range(SETUP_REPEATS):
        if w is not None:
            shutil.rmtree(w.root, ignore_errors=True)
        t0 = time.perf_counter()
        w = cls(spark, os.path.join(work, f"data{k}"), seed, off)
        w.setup()
        state_s.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    w.prime()
    prime_s = time.perf_counter() - t0

    tr = spans.Tracer(spark.sparkContext, enabled=traced)
    w.tr = tr
    if traced:
        tr.install()
    walls, rows, raised = [], 0, 0
    v0 = versions(w.root)
    start = time.perf_counter()
    try:
        while not walls or time.perf_counter() - start < seconds:
            w.prepare(len(walls))
            t0 = time.perf_counter()
            with tr.unit():
                rows += w.unit(len(walls))
            walls.append(time.perf_counter() - t0)
    except Exception as e:  # a unit that raised is a failed operation
        raised = 1
        print(f"unit {len(walls)} raised: {type(e).__name__}: {e}", file=sys.stderr)
    finally:
        tr.uninstall()
    t0 = time.perf_counter()
    try:
        bad, detail = w.check()
    except Exception as e:  # e.g. tables a raised unit never wrote
        bad, detail = [f"check raised: {type(e).__name__}: {e}"], {
            "checks": 1, "operations": 0, "op_failures": 0, "handler_failures": 0}
    detail.update(
        units=len(walls), session_s=round(session_s, 3), prime_s=round(prime_s, 3),
        state_setup_s=[round(x, 3) for x in state_s],
        check_s=round(time.perf_counter() - t0, 3))
    stored = du(w.stored_paths())
    rss = jvm_hwm_mb(spark) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    spark.stop()
    out = {
        "setup_s": session_s + statistics.median(state_s) + prime_s,
        "walls": walls, "rows": rows, "stored_bytes_per_row": stored / w.ingested,
        "peak_rss_mb": rss, "bad": bad, "detail": detail, "raised": raised,
    }
    if traced:
        jobs = spans.read_event_log(events)
        layers = spans.layer_metrics(tr, jobs)
        units = max(1, len(walls))
        if name == "curation_chain":
            layers.update(w.state_rows())
        else:
            layers["alert_dispatcher.handler_failures"] = detail["handler_failures"] / units
            layers["store.versions"] = (versions(w.root) - v0) / units
        layers["trace.run_p50_s"] = statistics.median(walls) if walls else 0.0
        out["layers"] = layers
    return out


def versions(root: str) -> int:
    """Results-store versions published so far, over all tables."""
    base = os.path.join(root, "results")
    n = 0
    for t in os.listdir(base) if os.path.isdir(base) else ():
        vs = [int(v[2:]) for v in os.listdir(os.path.join(base, t)) if v.startswith("v=")]
        n += max(vs) + 1 if vs else 0
    return n


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        import pyspark  # noqa: F401
        import snowalert_spark
        import spans
        import workloads
    except ImportError as e:
        print(f"loopbench: cannot import the engine: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(snowalert_spark.__file__).startswith(ROOT + os.sep):
        # the engine must come from this checkout, not an installed copy
        print(f"loopbench: no engine under {ROOT}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"loopbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    facts = host_facts(args.seed)
    work = os.path.join(os.getcwd(), ".loopbench-work", f"{args.workload}-{os.getpid()}")
    configure_env(work, facts)
    # a SIGTERM unwinds like an exception, so the cleanup below still runs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        r = run(args.workload, args.seed, args.seconds, work, bool(args.trace))
    finally:
        stop_processes()
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)

    d, walls = r["detail"], r["walls"]
    # operations: units, rule runs, handler calls and output checks
    attempted = len(walls) + r["raised"] + d["operations"] + d["checks"]
    failed = r["raised"] + d["op_failures"] + len(r["bad"])
    correct = not r["bad"] and not r["raised"]
    if not walls:
        metrics = {}
    elif args.trace:
        layers = dict.fromkeys(spans.PER_LAYER, 0.0) | r["layers"]
        metrics = {k: (float(layers[k]), _unit(k)) for k in spans.PER_LAYER}
    else:
        metrics = {
            "setup_s": (r["setup_s"], "s"),
            "run_p50_s": (statistics.median(walls), "s"),
            "rows_per_s": (r["rows"] / sum(walls), "rows/s"),
            "peak_rss_mb": (r["peak_rss_mb"], "MB"),
            "stored_bytes_per_row": (r["stored_bytes_per_row"], "B/row"),
        }
    if args.trace:
        # tracing overhead against the committed untraced baseline
        try:
            with open(os.path.join(HERE, "baseline.json")) as f:
                base = json.load(f)["workloads"][args.workload]["batches"][0]["run_p50_s"]
            d["trace_overhead_vs_baseline_s"] = round(
                metrics["trace.run_p50_s"][0] - base["median"], 4)
        except (OSError, KeyError, IndexError):
            pass
        if walls:
            # the top-level spans should account for the unit wall time
            cov = metrics["trace.coverage"][0]
            d["trace_coverage_ok"] = abs(cov - 1) <= 0.05
            if not d["trace_coverage_ok"]:
                print(f"loopbench: top-level spans cover {cov:.3f} of unit time",
                      file=sys.stderr)
    # detail only: the failure share (0 when nothing fails, so it is no
    # gated metric) and the slowest unit (no tail percentile has ten
    # samples beyond it at these unit counts)
    d.update(facts, workload=args.workload, ops_failed_frac=failed / attempted,
             run_max_s=round(max(walls), 4) if walls else None)
    for msg in r["bad"]:
        print(f"CHECK FAILED: {msg}", file=sys.stderr)
    print("detail " + json.dumps(d, sort_keys=True))
    for k, (v, u) in metrics.items():
        print(f"  {k:<40} {v:>16.4f} {u}")
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


def _unit(name: str) -> str:
    field = name.rsplit(".", 1)[1]
    if field.endswith("_s"):
        return "s"
    if field.endswith("_bytes"):
        return "B"
    if field in ("coverage", "write_amplification"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
