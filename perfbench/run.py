"""Benchmark entry point.

    python3 perfbench/run.py --workload lake_sf0.01 --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout, on ``local[<cores>]`` with shuffle
partitions pinned to the core count, in a private temp root under
``.perfbench_run/`` that is removed afterwards. The roster workloads read
the test fixtures in ``fixtures/`` in a seed-shuffled order; the refresh
workload generates its pages from ``--seed``. Set-up is cold: the engine
boots (imports, session start, ``load_all``) in a fresh interpreter three
times (this process, then two child processes side by side after the
measurement), and ``setup_s`` is the median boot plus this process's
warm-up. Operations
run closed-loop with one client; how many follows from ``--seconds`` alone
(two roster passes, or eight ticks, at 10 s). Each operation counts its
cheapest execution. Every result is checked outside the timed region.
Human-readable lines go first; the last line of stdout is the JSON result.
A sidecar with per-operation records (and spans, with ``--trace 1``) is
written to ``.perfbench_run/<workload>-seed<seed>-trace<0|1>.json``.

With ``--trace 1`` operations run in pairs, one traced and one untraced,
back to back, and the pairs alternate which goes first. The per-layer
metrics are the means over the traced operations, and ``trace.overhead_s``
is the median over pairs of traced minus untraced latency.
See README.md for the workloads, the metrics and why they were chosen.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_DIR = os.path.join(ROOT, ".perfbench_run")
WORKLOADS = ("lake_sf0.01", "dedup_sf0.1", "traffic_refresh")
# files of the program under test the benchmark drives
REQUIRED = ("trafficanalysisbigdata_spark/__init__.py", "bench.py", "tests/oracle_harness.py")
SETUPS = 3


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def build_session(tmp: str, cores: int):
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.driver.memory", "2g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(tmp, "spark-local"))
        # no hsperfdata file: the JVM would write it under /tmp
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        .config("spark.sql.warehouse.dir", os.path.join(tmp, "warehouse"))
        .config("spark.sql.catalogImplementation", "in-memory")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def host_probes(spark) -> dict[str, float]:
    """Diagnostics for a noisy host, not metrics: bench.py's CPU calibration
    shape at 1/64 of its rows, and a one-row, two-stage query whose wall
    is Spark's fixed per-query overhead."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    (
        spark.range(0, 1_000_000, 1, 32)
        .selectExpr("pmod(xxhash64(id), 1048576) AS h", "pmod(xxhash64(id, 7), 64) AS g")
        .groupBy("g")
        .agg({"h": "sum"})
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    t1 = time.perf_counter()
    spark.range(1).groupBy((F.col("id") % 2).alias("k")).count().collect()
    t2 = time.perf_counter()
    return {"calib_s": t1 - t0, "fixed_overhead_s": t2 - t1}


def jvm_peak_rss_mb(spark) -> float:
    """The driver JVM's resident high-water mark (a diagnostic: it moves
    with the collector's heap sizing as much as with the program)."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from the driver JVM's status")


def jvm_retained_mb(spark) -> dict[str, float]:
    """Heap and non-heap memory the driver JVM still holds after a full
    collection: what caches, memos and retained plans cost in memory."""
    jvm = spark.sparkContext._jvm
    # the second collection frees what the context cleaner released after
    # the first (shuffle and broadcast state of collected plans)
    for pause in (0.5, 0.0):
        jvm.java.lang.System.gc()
        time.sleep(pause)
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return {
        "heap_mb": mx.getHeapMemoryUsage().getUsed() / 2**20,
        "non_heap_mb": mx.getNonHeapMemoryUsage().getUsed() / 2**20,
    }


def stop_spark(spark) -> None:
    """Stop the session and the driver JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def fastest(records, attr: str) -> list[float]:
    """Each operation's cheapest execution in the run, as bench.py takes the
    min over passes: host stalls and warm-up only ever inflate a sample. A
    roster query runs once per pass; the refresh tick is one operation
    repeated."""
    best: dict[str, float] = {}
    for r in records:
        v = getattr(r, attr)
        best[r.op] = min(v, best.get(r.op, v))
    return list(best.values())


def end_to_end(records, setup_s: float, retained_mb: float) -> dict[str, tuple[float, str]]:
    cpu = fastest(records, "cpu_s")
    return {
        "setup_s": (setup_s, "s"),
        "cpu_s_per_op": (sum(cpu) / len(cpu), "s"),
        "jvm_retained_mb": (retained_mb, "MB"),
    }


def wall_figures(records) -> dict[str, float]:
    """Wall-clock latency and throughput: reported, not gated, because on a
    shared host they move with the neighbours (see README.md)."""
    wall = fastest(records, "wall_s")
    return {"latency_p50_s": _median(wall), "ops_per_s": len(wall) / sum(wall)}


def per_layer(records, layer_units: dict[str, str], cores: int) -> dict[str, tuple[float, str]]:
    traced = [r for r in records if r.traced]
    layers = [r.layer_metrics(cores) for r in traced]
    out = {}
    for name, unit in layer_units.items():
        if not name.startswith("trace."):
            out[name] = (sum(m.get(name, 0.0) for m in layers) / len(layers), unit)
    # operations run in pairs "op<j>-0", "op<j>-1": one traced, one not
    pairs = {}
    for r in records:
        pairs.setdefault(r.trace.rsplit("-", 1)[0], []).append(r)
    deltas = [
        next(r.wall_s for r in p if r.traced) - next(r.wall_s for r in p if not r.traced)
        for p in pairs.values()
        if len(p) == 2
    ]
    out["trace.overhead_s"] = (_median(deltas), layer_units["trace.overhead_s"])
    out["trace.attributed_share_min"] = (
        min(r.attributed_share() for r in traced),
        layer_units["trace.attributed_share_min"],
    )
    return out


def set_up(args, tmp: str, boot_only: bool = False) -> dict:
    """A cold set-up in this interpreter. The boot imports the engine,
    starts the session and (roster workloads) runs ``load_all``; then the
    workload's inputs are made (not timed) and it warms up: one roster
    query, or the first-tick fill. Returns the session, the workload and
    the seconds of each step."""
    t0 = time.perf_counter()
    import workloads as W

    spark = build_session(tmp, _cores())
    out = {"spark": spark}
    try:
        if args.workload == "traffic_refresh":
            wl = W.TrafficWorkload(os.path.join(tmp, "live"), tmp, args.seed)
        else:
            roster = W.ROSTERS[args.workload]
            wl = W.RosterWorkload(roster, args.data_dir or os.path.join(HERE, "fixtures", roster.scale))
        out.update(wl=wl, boot_s=time.perf_counter() - t0)
        if not boot_only:
            t1 = time.perf_counter()
            wl.inputs = wl.make_inputs()
            t2 = time.perf_counter()
            wl.warm_up(spark)
            out.update(gen_s=t2 - t1, warm_up_s=time.perf_counter() - t2)
    except BaseException:
        stop_spark(spark)
        raise
    return out


def child_boots(args, n: int) -> list[float]:
    """The boots of ``n`` set-ups, each in a fresh interpreter with a
    private temp root of its own; returns their seconds. They run at the
    same time, which keeps a run near a minute."""
    cmd = [
        sys.executable, os.path.abspath(__file__),
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", "0", "--boot-only",
    ]
    if args.data_dir:
        cmd += ["--data-dir", args.data_dir]
    procs = [subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True) for _ in range(n)]
    try:
        outs = [p.communicate(timeout=150)[0] for p in procs]
    finally:
        for p in procs:
            if p.poll() is None:
                p.kill()
                p.wait()
    if any(p.returncode for p in procs):
        raise RuntimeError(f"a child boot failed: exit codes {[p.returncode for p in procs]}")
    return [json.loads(out.strip().splitlines()[-1])["boot_s"] for out in outs]


def run(args, tmp: str) -> tuple[dict, dict]:
    cores = _cores()
    spark = None
    try:
        setup = set_up(args, tmp)
        spark, wl = setup["spark"], setup["wl"]
        from spans import Tracer, spans_json
        import workloads as W

        probes = host_probes(spark)
        tracer = None
        if args.trace:
            tracer = Tracer(spark)
            if isinstance(wl, W.RosterWorkload):
                W.install_roster_hooks(tracer)
            else:
                tracer.streaming_listener()
        records = wl.measure(spark, tracer, args.seconds, random.Random(args.seed))
        memory = {"peak_rss_mb": jvm_peak_rss_mb(spark), **jvm_retained_mb(spark)}
    finally:
        if spark is not None:
            stop_spark(spark)
    # setup_s is an end-to-end metric: traced runs skip the extra boots
    boots = [setup["boot_s"]] + child_boots(args, 0 if args.trace else SETUPS - 1)

    failed = len(wl.failures)
    if args.trace:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            units = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
        metrics = per_layer(records, units, cores)
        failed += sum(r.attributed_share() < 0.9 for r in records if r.traced)
    else:
        setup_s = _median(boots) + setup["warm_up_s"]
        metrics = end_to_end(records, setup_s, memory["heap_mb"] + memory["non_heap_mb"])
    result = {
        "correct": failed == 0,
        "attempted": wl.attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    sidecar = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cores": cores,
        "inputs": wl.inputs,
        "input_gen_s": setup["gen_s"],
        "boots_s": boots,
        "warm_up_s": setup["warm_up_s"],
        "host_probes": probes,
        "memory_mb": memory,
        "wall": wall_figures(records),
        "failures": wl.failures,
        "ops": [
            {"trace": r.trace, "op": r.op, "wall_s": r.wall_s, "cpu_s": r.cpu_s, "traced": r.traced, "layers": r.layer_metrics(cores)}
            for r in records
        ],
        "spans": spans_json(records),
        "result": result,
    }
    return result, sidecar


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--data-dir", help="roster fixtures (default: fixtures/<scale> beside this file)")
    p.add_argument("--boot-only", action="store_true", help=argparse.SUPPRESS)
    args = p.parse_args()
    if args.data_dir:
        args.data_dir = os.path.abspath(args.data_dir)

    missing = [f for f in REQUIRED if not os.path.isfile(os.path.join(ROOT, f))]
    if missing:
        print(f"perfbench: not a checkout of the engine, missing {missing}", file=sys.stderr)
        return 2

    os.makedirs(RUN_DIR, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=RUN_DIR)
    # Everything the engine and Spark write goes under the private root,
    # including paths the engine derives from the temp dir at import time.
    os.environ["TMPDIR"] = tmp
    # spark-submit's launcher JVM takes no Spark conf; keep it out of /tmp too
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)
    try:
        if args.boot_only:
            setup = set_up(args, tmp, boot_only=True)
            stop_spark(setup["spark"])
            print(json.dumps({"boot_s": setup["boot_s"]}))
            return 0
        result, sidecar = run(args, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    out = os.path.join(RUN_DIR, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(out, "w") as f:
        json.dump(sidecar, f, indent=1)
    print(f"workload {args.workload} seed {args.seed} cores {sidecar['cores']} inputs {sidecar['inputs']}")
    print(f"boots_s {[round(s, 3) for s in sidecar['boots_s']]} warm_up_s {sidecar['warm_up_s']:.3f} memory_mb {sidecar['memory_mb']}")
    print(f"host_probes {sidecar['host_probes']} wall {sidecar['wall']}")
    for name, m in result["metrics"].items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    for line in sidecar["failures"]:
        print(f"FAILED {line}")
    print(f"sidecar {os.path.relpath(out, ROOT)}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
