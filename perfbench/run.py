"""Benchmark of the pages → extract → spatial join → lineage pipeline and
the raster tiling half, on local Spark sized to this host.

    python3 perfbench/run.py --workload join_scan --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --smoke

Run from the repository root. One process runs one workload as a closed
loop: one iteration in flight, iterations back to back, each output
checked against an answer computed without the code under test. The
last line of stdout is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``; a readable report goes to stderr.

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json's
``end_to_end``. ``--trace 1`` reports its ``per_layer`` metrics:
iterations alternate between traced (each layer materialized at its
boundary, spans tagged as Spark job groups) and untraced, and the
spans are written to ``perfbench/_work/`` when the run ends.

``--smoke`` runs every workload at a tiny size in both modes and checks
that every named metric is printed with its unit and that every output
check passes.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")

# Set-ups per end-to-end run; setup_s is their median. The first runs
# from process start (interpreter, JVM launch); the others stop the
# session and build a new one in the same JVM.
N_SETUPS = 3
# The heap is fixed and touched at JVM start, so the JVM's share of
# peak_rss_mb does not depend on when the collector grows the heap.
DRIVER_MEMORY = "1g"

# name → sizes. Chosen so that a whole run, three set-ups included,
# ends in about 40 s on a 4-core host: a warm iteration takes 1.3 s
# (join_scan) to 2.5 s (join_checkpoint), so 10 s hold 4 to 8 of them.
SIZES = {
    "join_scan": {"n_pages": 200_000},
    "join_checkpoint": {"n_pages": 20_000},
    "tile_pyramid": {"n_pages": 20_000, "zoom": 2},
}
SMOKE_SIZES = {
    "join_scan": {"n_pages": 2_000},
    "join_checkpoint": {"n_pages": 2_000},
    "tile_pyramid": {"n_pages": 2_000, "zoom": 2},
}


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def host_cpus() -> list[int]:
    """The CPUs this process may use: its affinity mask, cut to the
    cgroup's CPU quota when there is one."""
    cpus = sorted(os.sched_getaffinity(0))
    try:
        with open("/sys/fs/cgroup/cpu.max") as f:
            quota, period = f.read().split()
        if quota != "max":
            cpus = cpus[:max(1, -(-int(quota) // int(period)))]
    except (OSError, ValueError):
        pass
    return cpus


def configure_host() -> int:
    """Pin this process (and so the JVM and Python workers it starts) to
    the host's CPUs, point temp and Spark local dirs into the work dir,
    and give the workers the engine's module path. Returns the CPU
    count, which sizes local[N]."""
    cpus = host_cpus()
    os.sched_setaffinity(0, cpus)
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + ([path] if path else []))
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # the launcher JVM of spark-submit would write its perf data to /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        os.environ.get("SPARK_LAUNCHER_OPTS", "") + " -XX:-UsePerfData")
    import tempfile

    tempfile.tempdir = tmp
    return len(cpus)


def new_session(cores: int):
    from gdal_spark.session import get_spark

    tmp = os.path.join(WORK, "tmp")
    return get_spark(
        app_name="perfbench",
        cores=cores,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(WORK, "spark-warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch "
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                f"-Dderby.system.home={tmp}",
        },
    )


def _proc_tree(root_pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_hwm_mb(root_pid: int) -> tuple[float, float, int]:
    """Peak resident memory (VmHWM) of the JVM, and summed over the
    processes under it (the Python worker daemon and its workers):
    (jvm MB, python MB, python process count)."""
    jvm = py = 0
    n = 0
    for pid in _proc_tree(root_pid):
        try:
            with open(f"/proc/{pid}/status") as f:
                kb = next(int(line.split()[1]) for line in f
                          if line.startswith("VmHWM:"))
        except (OSError, StopIteration):
            continue
        if pid == root_pid:
            jvm = kb
        else:
            py += kb
            n += 1
    return jvm / 1024.0, py / 1024.0, n


def make_workload(name: str, sizes: dict):
    import workloads

    cls = {
        "join_scan": workloads.JoinScan,
        "join_checkpoint": workloads.JoinCheckpoint,
        "tile_pyramid": workloads.TilePyramid,
    }[name]
    return cls(WORK, **sizes[name])


class Loop:
    """Closed-loop iterations of one workload, with their checks."""

    def __init__(self, wl, tracer_off):
        self.wl = wl
        self.off = tracer_off
        self.attempted = 0
        self.failed = 0

    def once(self, tr) -> tuple[float, bool]:
        """One timed iteration (cleanup untimed). Returns (s, ok)."""
        t0 = time.perf_counter()
        try:
            out = self.wl.iteration(tr)
            seconds = time.perf_counter() - t0
            ok = self.wl.check(out)
        except Exception:  # a failed iteration is counted, not fatal
            seconds = time.perf_counter() - t0
            traceback.print_exc()
            ok = False
        finally:
            tr.end_iteration()
            self.wl.cleanup()
        if not ok:
            log(f"# iteration {self.attempted} of {self.wl.name}: CHECK FAILED")
        return seconds, ok

    def timed(self, tr, walls: list) -> None:
        """A counted iteration. Its time is kept even when it fails: a
        failed run reports correct=false, whatever its times."""
        seconds, ok = self.once(tr)
        walls.append(seconds)
        self.attempted += 1
        self.failed += not ok


def run(name: str, seed: int, seconds: float, trace: bool, sizes: dict,
        cores: int, t_start: float) -> dict:
    """One workload in one mode on local[cores]. ``t_start`` is when this
    run began: the first set-up is timed from there, less the fixture
    time."""
    from spans import Tracer

    wl = make_workload(name, sizes)
    wl.cleanup()  # output a killed run may have left
    t_fix = time.perf_counter()
    wl.prepare(seed)
    fixture_s = time.perf_counter() - t_fix
    log(f"# {name} seed={seed}: fixtures ready in {fixture_s:.2f} s "
        f"(excluded from setup_s)")

    setups: list[float] = []
    spark = None
    warm_ok = True
    loop = Loop(wl, Tracer(None, False))
    for k in range(1 if trace else N_SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = new_session(cores)
        wl.open(spark)
        warm_ok &= loop.once(loop.off)[1]  # untimed warm-up
        setups.append(time.perf_counter() - t0 if k else
                      time.perf_counter() - t_start - fixture_s)
    try:
        if trace:
            metrics = _traced(loop, spark, seconds, name, seed)
        else:
            metrics = _end_to_end(loop, spark, seconds, setups)
    finally:
        spark.stop()
    return {
        "correct": warm_ok and loop.failed == 0,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": metrics,
    }


def _end_to_end(loop: Loop, spark, seconds: float, setups: list) -> dict:
    jvm_pid = spark.sparkContext._gateway.proc.pid
    walls: list[float] = []
    mem = tree_hwm_mb(jvm_pid)
    deadline = time.perf_counter() + seconds
    while time.perf_counter() < deadline or loop.attempted < 3:
        loop.timed(loop.off, walls)
        now = tree_hwm_mb(jvm_pid)
        if now[0] + now[1] > mem[0] + mem[1]:
            mem = now
    peak = mem[0] + mem[1]
    wall = statistics.median(walls)
    wl = loop.wl
    log(f"# wall_s       {wall:.4f} s   (median of {len(walls)} iterations; "
        f"min {min(walls):.4f}, max {max(walls):.4f})")
    log(f"# {wl.items_name:<12} {wl.items / wall:.1f} 1/s ({wl.items} per iteration)")
    log(f"# setup_s      {statistics.median(setups):.4f} s   "
        f"(median of {[round(s, 3) for s in setups]})")
    log(f"# peak_rss_mb  {peak:.1f} MB   (JVM {mem[0]:.1f} + {mem[2]} Python "
        f"processes {mem[1]:.1f})")
    log(f"# failed_frac  {loop.failed / max(loop.attempted, 1):.4f} "
        f"({loop.failed} of {loop.attempted})")
    return {
        "wall_s": {"value": wall, "unit": "s"},
        "items_per_s": {"value": wl.items / wall, "unit": "1/s"},
        "setup_s": {"value": statistics.median(setups), "unit": "s"},
        "peak_rss_mb": {"value": peak, "unit": "MB"},
    }


def _traced(loop: Loop, spark, seconds: float, name: str, seed: int) -> dict:
    from spans import COUNTS, SPAN_FIELDS, SPANS, Tracer

    tr = Tracer(spark.sparkContext, True)
    traced: list[float] = []
    base: list[float] = []
    deadline = time.perf_counter() + seconds
    while time.perf_counter() < deadline or len(traced) < 2 or len(base) < 2:
        loop.timed(tr, traced)
        loop.timed(loop.off, base)
    base_wall = statistics.median(base)
    values = tr.metrics()
    values["trace.overhead_frac"] = statistics.median(traced) / base_wall - 1
    values["trace.base_wall_s"] = base_wall
    tr.write(os.path.join(WORK, f"trace-{name}-s{seed}.json"),
             {"workload": name, "seed": seed, "traced_walls": traced,
              "untraced_walls": base})
    units = {f"{s}.s": "s" for s in SPANS}
    units.update({f"{s}.{f}": "count" for s in SPANS for f in SPAN_FIELDS})
    units.update(COUNTS)
    units.update({"trace.overhead_frac": "frac", "trace.base_wall_s": "s"})
    for key, value in values.items():
        if value:
            log(f"# {key:<32} {value:.6g} {units[key]}")
    log(f"# trace.overhead_frac is median traced wall over median untraced "
        f"wall ({base_wall:.4f} s, {len(base)} iterations) minus 1")
    return {k: {"value": values[k], "unit": units[k]} for k in units}


def smoke(cores: int) -> int:
    """Every workload at a tiny size, both modes: every metric of
    BENCHMARK.json is printed with its unit and every check passes."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = []
    for w in spec["workloads"]:
        for trace, kind in ((False, "end_to_end"), (True, "per_layer")):
            res = run(w["name"], 0, 1.0, trace, SMOKE_SIZES, cores,
                      time.perf_counter())
            want = {m["name"]: m["unit"] for m in spec[kind]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want:
                problems.append(f"{w['name']} {kind}: metrics {got} != {want}")
            if not res["correct"] or res["failed"]:
                problems.append(f"{w['name']} {kind}: output check failed")
    for p in problems:
        log(f"# SMOKE FAILURE: {p}")
    print(json.dumps({"smoke_ok": not problems}))
    return 1 if problems else 0


def stop_jvm() -> None:
    """Stop the JVM that pyspark launched and wait until it has ended
    (its Python workers end with the session)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits on end of its stdin
    gateway.proc.wait(timeout=60)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "gdal_spark", "session.py")):
        log(f"error: the engine (gdal_spark/) is not under {ROOT}")
        return 2
    if args.seed < 0:
        ap.error("--seed must be >= 0")
    sys.path.insert(0, ROOT)
    if args.workload is None and not args.smoke:
        ap.error("--workload is required")
    cores = configure_host()
    try:
        if args.smoke:
            return smoke(cores)
        res = run(args.workload, args.seed, args.seconds, bool(args.trace),
                  SIZES, cores, T_START)
    finally:
        stop_jvm()
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
