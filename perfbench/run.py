"""Repository benchmark: one workload, one process, ``local[<cores>]``.

    python3 perfbench/run.py --workload eager_operators --seed 1 --seconds 12 --trace 0

Run from the repository root. The run

1. prepares, in a child process of its own: generates the workload's
   inputs from the seed (``gen_star``, ``gen_bar``) under ``.perfbench/``
   in the checkout and computes the DuckDB oracle answers on them, so that
   neither counts in the measured process's memory;
2. sets up (``setup_s``): starts the Spark session pinned to every core the
   process may use, with a driver heap below physical memory and no
   console progress, and runs one warm-up pass;
3. checks the warm-up's outputs against the oracle answers, untimed;
4. runs whole passes of the workload, closed loop, until ``--seconds``
   have passed and the workload's ``min_passes`` are done, so that the
   number of passes does not flip with the speed of the box; outputs are
   checked after every pass (``bar_etl``: every load), outside the timing;
5. prints every metric with its unit, writes an artifact with the samples,
   the environment and (traced) the spans to ``.perfbench/results/``, and
   prints one JSON result line last;
6. on every way out, stops Spark and waits for every process the run
   started, directly or not: the run is their subreaper, so the pyspark
   daemon's workers that outlive the JVM are its children too.

``peak_rss_mb`` is the peak resident set of the measured Python process
plus that of the driver JVM, whose heap is capped but not pinned. How far
G1 grows the heap depends on the box's speed, so the figure moves from run
to run more than the times do.

With ``--trace 1`` the first two passes are untraced, then traced and
untraced passes alternate, ending untraced. ``trace.overhead_s`` is the
median, over traced passes, of the pass less the mean of the untraced
passes on either side, so that a linear trend of a warming JVM cancels out;
the first pass, still warming faster than linearly, only leads in.
The traced passes give the per-layer metrics of ``BENCHMARK.json``. Exit
status is 0 only when every op and every check succeeded.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_MEM = "1g"  # heap cap, well below physical memory


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _hwm_mb(pid: int | str) -> float:
    """Peak resident set of a process, from /proc."""
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _become_subreaper() -> None:
    """Adopt every orphaned descendant, such as the pyspark daemon and its
    workers once the JVM that forked them has exited, so that ``_reap``
    can wait for it."""
    pr_set_child_subreaper = 36
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(pr_set_child_subreaper, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _children() -> list[int]:
    me, pids = str(os.getpid()), []
    for d in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{d}/stat", encoding="ascii", errors="replace") as f:
                stat = f.read()
        except OSError:
            continue
        if stat[stat.rfind(")") + 2:].split()[1] == me:
            pids.append(int(d))
    return pids


def _reap(grace: float = 30.0) -> None:
    """Wait until every process this run started, directly or not, has
    ended; kill what is left after ``grace`` seconds."""
    deadline = time.monotonic() + grace
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for pid in _children():
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def _start_spark(work: str):
    """The program's own session factory, pinned from the outside."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        # two malloc arenas: glibc's per-thread arenas moved the JVM's peak
        # resident set by up to 10% between runs of the same code
        "MALLOC_ARENA_MAX": "2",
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
        # every JVM the launch starts: temp files in the checkout, and no
        # hsperfdata file, which HotSpot would write under /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    from cocktailsdb_spark.session import get_spark

    spark = get_spark("perfbench", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark, cores


def _stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, which exits when its stdin
    closes, and wait for it."""
    from pyspark import SparkContext

    jvm = SparkContext._gateway.proc
    spark.stop()
    jvm.stdin.close()
    jvm.wait(timeout=60)


def _measure(args, wl, work: str, layer_names) -> dict:
    """Inputs, set-up, checks, the timed window and (traced) the span readings."""
    from perfbench.trace import Tracer, layer_metrics
    from perfbench.workloads import Checks

    m = {"env": {"nproc": len(os.sched_getaffinity(0)), "loadavg_before": os.getloadavg(),
                 "python": platform.python_version()},
         "phases": {}, "checks": Checks(), "ops": [], "pass_s": {},
         "traced_passes": [], "layers": {}, "tracer": None}
    spark = None
    try:
        t = time.perf_counter()
        subprocess.run([sys.executable, "-c",
                        "import sys; from perfbench.workloads import prepare; "
                        "prepare(sys.argv[1], sys.argv[2], int(sys.argv[3]))",
                        args.workload, work, str(args.seed)], cwd=ROOT, check=True)
        m["phases"]["prepare_s"] = time.perf_counter() - t
        t = time.perf_counter()
        spark, cores = _start_spark(work)
        wl.warm_up(spark)
        m["setup_s"] = time.perf_counter() - t
        t = time.perf_counter()
        wl.check(spark, m["checks"])
        m["phases"]["check_s"] = time.perf_counter() - t

        tracer = m["tracer"] = Tracer(spark.sparkContext) if args.trace else None
        t0 = time.perf_counter()
        p = 0
        while (time.perf_counter() - t0 < args.seconds or p < wl.min_passes
               or (args.trace and (p < 4 or p % 2 == 1))):
            traced = bool(args.trace and p > 0 and p % 2 == 0)
            if traced:
                wl.instrument(tracer)
                m["traced_passes"].append(p)
            try:
                done = wl.run_pass(spark, p, tracer if traced else None)
            finally:
                if traced:
                    tracer.unwrap_all()
            m["ops"] += done
            m["pass_s"][p] = sum(o.latency or 0.0 for o in done)
            p += 1
        m["phases"]["window_s"] = time.perf_counter() - t0

        from pyspark import SparkContext

        m["env"]["spark"] = spark.version
        m["env"]["java"] = spark.sparkContext._jvm.System.getProperty("java.version")
        rss = m["env"]["peak_rss_mb"] = {
            "python": _hwm_mb("self"), "jvm": _hwm_mb(SparkContext._gateway.proc.pid)}
        m["peak_rss_mb"] = rss["python"] + rss["jvm"]
        if tracer is not None:
            tracer.resolve()
            per_pass = [{**layer_metrics(tracer.spans, layer_names, q, m["pass_s"][q], cores),
                         **wl.extras[q]} for q in m["traced_passes"]]
            m["layers"] = {k: statistics.median(pp[k] for pp in per_pass) for k in layer_names}
    finally:
        t = time.perf_counter()
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        m["phases"]["teardown_s"] = time.perf_counter() - t
    m["env"]["loadavg_after"] = os.getloadavg()
    return m


def run(argv=None) -> int:
    _become_subreaper()
    try:
        return _run(argv)
    finally:
        _reap()


def _run(argv) -> int:
    args = _args(argv)
    sys.path.insert(0, ROOT)
    from perfbench import metrics, stats
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    try:
        import cocktailsdb_spark.registry  # noqa: F401
        import tools.selfcheck  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not in {ROOT}: {e}", file=sys.stderr)
        return 2

    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer_units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    m = _measure(args, WORKLOADS[args.workload](work, args.seed), work, list(layer_units))

    ops, pass_s, traced = m["ops"], m["pass_s"], m["traced_passes"]
    attempted = len(ops) + m["checks"].attempted
    failed = sum(o.latency is None for o in ops) + m["checks"].failed
    untraced = [o for o in ops if not o.traced and o.latency is not None]
    lat = [o.latency for o in untraced]
    untraced_passes = [pass_s[q] for q in pass_s if q not in traced]
    e2e = {
        "setup_s": m["setup_s"],
        "pass_s": statistics.median(untraced_passes),
        "peak_rss_mb": m["peak_rss_mb"],
    }
    extra = {"query_p50_s": statistics.median(lat), "error_rate": failed / attempted}
    try:
        extra["query_tail_s"], pct, n = stats.tail(lat)
        tail_note = f"p{pct:.1f} of {n} samples"
    except ValueError as e:
        tail_note = f"unsupported: {e}"
    for kind in ("full", "incr", "noop"):
        kl = [o.latency for o in untraced if o.kind == kind]
        if kl:
            extra[f"load_{kind}_s"] = statistics.median(kl)
    layers = m["layers"]
    if traced:
        layers["trace.overhead_s"] = statistics.median(
            pass_s[q] - (pass_s[q - 1] + pass_s[q + 1]) / 2 for q in traced)

    units.update(metrics.E2E_EXTRA)
    for name, value in {**e2e, **extra}.items():
        note = f"  ({tail_note})" if name == "query_tail_s" else ""
        print(f"{name:16s} {value:14.6f} {units[name]}{note}")
    if "query_tail_s" not in extra:
        print(f"query_tail_s     {tail_note}")
    for name, value in layers.items():
        print(f"{name:32s} {value:18.6f} {layer_units[name]}")

    correct = failed == 0
    artifact = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "env": m["env"], "phases": m["phases"],
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {**e2e, **extra}, "query_tail": tail_note, "layers": layers,
        "layer_moves": {k: {"moves": v[0], "workload": v[1]}
                        for k, v in metrics.MOVES.items()},
        "passes": [{"pass": q, "pass_s": pass_s[q], "traced": q in traced} for q in pass_s],
        "ops": [vars(o) for o in ops],
        "spans": m["tracer"].dump() if m["tracer"] is not None else [],
    }
    out_dir = os.path.join(ROOT, ".perfbench", "results")
    os.makedirs(out_dir, exist_ok=True)
    out = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(out, "w", encoding="utf-8") as f:
        json.dump(artifact, f, indent=1)
    print(f"artifact {os.path.relpath(out, ROOT)}")

    chosen, table = (layers, layer_units) if args.trace else (e2e, units)
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": table[k]} for k, v in chosen.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(run())
