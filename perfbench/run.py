"""Benchmark runner for stackstac_spark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. One run is one fresh process with
one local Spark session: set-up (session start, seeded inputs and their
oracles, an untimed warm-up), then whole rounds of the workload's fixed
work until ``--seconds`` have passed (at least one round). The last line
of standard output is the result JSON; the line before it carries the
run's environment and the workload-specific figures. ``--trace 1`` adds one
traced round after the timed ones and reports per-layer metrics instead of
the end-to-end ones. See README.md in this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")
DRIVER_MEMORY = "2g"
SETUP_REPEATS = 3

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "first_result_s": "s",
    "peak_rss_mb": "MB",
}


def _layer_units() -> dict[str, str]:
    units = {}
    for layer, metrics in (
        ("prepare", ("s", "jobs")),
        ("grid", ("rows",)),
        ("scan", ("s", "tiles", "mb", "read_warnings")),
        ("explode", ("s", "rows")),
        ("mosaic_pixels", ("s",)),
        ("mosaic_tiles", ("s", "tile_s")),
        ("median", ("s",)),
        ("ndvi", ("s",)),
        ("resample", ("s",)),
        ("display_range", ("s",)),
        ("write_tiles", ("s", "mb")),
        ("read_tiles", ("s",)),
        ("warp", ("s",)),
        ("pyramid", ("s",)),
        ("png", ("s", "kb")),
        ("register", ("s",)),
        ("tile", ("s", "jobs", "stages", "tasks")),
        *((op, ("s", "jobs", "stages", "shuffle_mb")) for op in GRAPH_OPS),
        *((op, ("s", "jobs", "pairs")) for op in LINKAGE_OPS),
    ):
        for m in metrics:
            units[f"{layer}.{m}"] = {"s": "s", "tile_s": "s", "mb": "MB", "shuffle_mb": "MB", "kb": "KB"}.get(m, "count")
    for m in ENGINE:
        units[f"engine.{m}"] = "s" if m.endswith("_s") else "MB"
    units["trace.overhead_s"] = "s"
    return units


GRAPH_OPS = ("adamic_adar", "neighbor_jaccard", "triangle_count", "cc_star")
LINKAGE_OPS = ("edit_distance", "jaro_winkler")
ENGINE = ("build_s", "plan_s", "exec_s", "task_s", "gc_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb")
PER_LAYER = _layer_units()


def _prepare_env(trace: bool) -> None:
    """Everything the run writes stays under the checkout's work dir; the
    driver heap is fixed so two commits run on the same JVM settings."""
    shutil.rmtree(WORK, ignore_errors=True)
    tmp = os.path.join(WORK, "tmp")
    for d in (tmp, os.path.join(WORK, "spark-local"), os.path.join(WORK, "events")):
        os.makedirs(d)
    conf = {
        # no hsperfdata under /tmp; JVM temp files under the work dir
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(WORK, "events"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    args = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items())
    os.environ.update(
        {
            "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
            "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
            "TMPDIR": tmp,
            "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
            "PYSPARK_SUBMIT_ARGS": f"{args} pyspark-shell",
        }
    )
    os.environ.pop("SPARK_GRAFT_CPUS", None)
    sys.path[:0] = [ROOT, HERE]


def _spark_cores() -> int:
    """Task slots for ``local[N]``: at most four, and one core fewer than
    the machine has, left to the driver Python, the JVM's own threads and
    the tile server. With all four cores of a four-core guest busy, runs
    read slower and spread wider (more CPU steal)."""
    return max(1, min(4, os.cpu_count() or 1) - 1)


def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def _java_version() -> str:
    try:
        out = subprocess.run(["java", "-version"], capture_output=True, text=True, timeout=30)
        return (out.stderr or out.stdout).splitlines()[0]
    except (OSError, subprocess.SubprocessError, IndexError):
        return "unknown"


def _shutdown(spark) -> None:
    """Stop Spark, end the JVM it launched, and wait for every descendant
    (Python workers included) to exit."""
    from pyspark import SparkContext

    from tracing import descendants

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while (left := descendants(os.getpid())) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for pid in left:
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


def _engine_totals(ops: list[dict], groups: list[str], events: dict) -> dict:
    out = {m: 0.0 for m in ENGINE}
    for rec in ops:
        for m in ("build_s", "plan_s", "exec_s"):
            out[m] += rec[m]
    for g in [r["group"] for r in ops] + groups:
        for m, v in events.get(g, {}).items():
            out[m] += v
    return out


def run(workload: str, seed: int, seconds: int, trace: bool) -> dict:
    from tracing import OpRunner, RssSampler, Tracer
    from workloads import make

    load_start = os.getloadavg()[0]
    rss = RssSampler().start()
    wl = make(workload, seed, os.path.join(WORK, "data"))

    def generate() -> list[float]:
        times = []
        for _ in range(SETUP_REPEATS):
            t = time.perf_counter()
            wl.generate()
            times.append(time.perf_counter() - t)
        return times

    # the seeded generations (inputs + oracles) run beside the session start
    with ThreadPoolExecutor(1, thread_name_prefix="generate") as pool:
        gen_future = pool.submit(generate)
        t0 = time.perf_counter()
        from stackstac_spark import get_spark

        ncpu = _spark_cores()
        spark = get_spark("perfbench", master=f"local[{ncpu}]", shuffle_partitions=ncpu)
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
    try:
        gen_s = gen_future.result()
        t = time.perf_counter()
        wl.load(spark)
        wl.warmup(spark)
        warm_s = time.perf_counter() - t
        setup_s = session_s + statistics.median(gen_s) + warm_s

        runner = OpRunner(spark, Tracer(False))
        rounds = []
        rss.reset()
        steal0 = _steal_s()
        t_timed = time.perf_counter()
        while not rounds or time.perf_counter() - t_timed < seconds:
            rounds.append(wl.round(spark, runner, runner.tracer))
        steal_s = _steal_s() - steal0
        peak_rss_mb = rss.peak
        attempted, failed, failures = runner.attempted, runner.failed, list(runner.failures)

        layers: dict = {}
        tracer = Tracer(trace)
        if trace:
            traced_runner = OpRunner(spark, tracer)
            traced = wl.round(spark, traced_runner, tracer)
            layers = dict(traced.get("layers", {}))
            layers["trace.overhead_s"] = traced["wall_s"] - statistics.median(r["wall_s"] for r in rounds)
            attempted += traced_runner.attempted
            failed += traced_runner.failed
            failures += traced_runner.failures
        versions = {"pyspark": spark.version, "java": _java_version()}
    finally:  # also on failure: no JVM or Python worker outlives the run
        _shutdown(spark)
        rss.stop()

    info: dict = {
        "workload": workload,
        "seed": seed,
        "rounds": len(rounds),
        "nproc": os.cpu_count(),
        "spark_master": f"local[{ncpu}]",
        "driver_memory": DRIVER_MEMORY,
        "loadavg_start": load_start,
        "loadavg_end": os.getloadavg()[0],
        "cpu_steal_s_timed": steal_s,
        **versions,
        "setup_parts_s": {"session": session_s, "generate_median": statistics.median(gen_s), "warmup": warm_s},
        "error_rate": {"value": failed / max(attempted, 1), "unit": "ratio"},
        "failures": failures[:10],
        "op_wall_s": [[op["kind"], op["wall_s"]] for op in runner.ops],
    }
    info.update(wl.info(rounds))

    if trace:
        from tracing import event_log_metrics

        os.makedirs(OUT, exist_ok=True)
        tracer.dump(os.path.join(OUT, f"spans-{workload}-{seed}.jsonl"))
        events = event_log_metrics(os.path.join(WORK, "events"))
        engine = _engine_totals(traced_runner.ops, traced.get("groups", []), events)
        layers.update({f"engine.{m}": v for m, v in engine.items()})
        by_kind = {r["kind"]: r["group"] for r in traced_runner.ops}
        for op in GRAPH_OPS:
            if op in by_kind:
                ev = events.get(by_kind[op], {})
                layers[f"{op}.shuffle_mb"] = ev.get("shuffle_write_mb", 0.0)
        not_called = sorted(k for k in PER_LAYER if k not in layers)
        info["layers_not_called"] = not_called
        info["unmeasured"] = [] if events else sorted(f"engine.{m}" for m in ENGINE[3:])
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}
        info["per_op"] = [
            {k: r[k] for k in ("kind", "build_s", "plan_s", "exec_s", "wall_s", "ok")} | events.get(r["group"], {})
            for r in traced_runner.ops
        ]
    else:
        values = {
            "setup_s": setup_s,
            "wall_s": statistics.median(r["wall_s"] for r in rounds),
            "first_result_s": statistics.median(r["first_result_s"] for r in rounds),
            "peak_rss_mb": peak_rss_mb,
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    return {
        "info": info,
        "result": {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics},
    }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "stackstac_spark", "__init__.py")):
        print(f"perfbench: no stackstac_spark package under {ROOT}; run from a source checkout", file=sys.stderr)
        return 2
    _prepare_env(bool(args.trace))
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {', '.join(WORKLOADS)}", file=sys.stderr)
        return 2
    try:
        out = run(args.workload, args.seed, args.seconds, bool(args.trace))
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps({"perfbench_info": out["info"]}))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
