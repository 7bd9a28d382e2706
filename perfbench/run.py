"""Benchmark entry point.

    python3 perfbench/run.py --workload sync_tail --seed 1 --seconds 20 --trace 0

Runs one workload (see workloads.py) from the root of a checkout:
sets up (session start, input generation, history build, warm-up —
the ``setup_s`` metric), measures for ``--seconds``, checks the
outputs outside the timed section, and prints one result line of
JSON last. ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
measures an untraced phase, a traced phase and an untraced one again,
all of the same length, and reports the per-layer metrics of the
traced one (its cost over the last is ``trace.overhead_ratio``).
Every file the run writes lives under ``.perfbench/`` in the checkout
and is removed at exit, except the traced run's span list
``.perfbench/spans-<workload>-seed<n>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOAD_NAMES = ("sync_tail", "query_mix")
SPARK_CORES = 4  # local[min(4, nproc)]
# Heap cap only (no -Xms): the JVM grows its heap as the program's data
# needs, so peak_rss_mb follows the program's memory use.
DRIVER_MEM = "2g"


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--inject-mismatch", action="store_true",
        help="corrupt one expected output, to show the checks count it",
    )
    return p.parse_args(argv)


def isolate(work: Path) -> None:
    """Keep every file Spark, the JVM and Python write under ``work``."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(min(SPARK_CORES, os.cpu_count() or 1))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData"'
        " --conf spark.ui.showConsoleProgress=false pyspark-shell"
    )


def run_context(seed: int, graft_cpus: str | None) -> dict:
    import duckdb
    import pyarrow
    import pyspark

    mem_kb = None
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                mem_kb = int(line.split()[1])
    return {
        "seed": seed,
        "nproc": os.cpu_count(),
        "spark_cores": os.environ["SPARK_GRAFT_CPUS"],
        "SPARK_GRAFT_CPUS": graft_cpus,
        "load1": os.getloadavg()[0],
        "mem_available_mb": mem_kb // 1024 if mem_kb else None,
        "versions": {
            "python": ".".join(map(str, sys.version_info[:3])),
            "pyspark": pyspark.__version__,
            "duckdb": duckdb.__version__,
            "pyarrow": pyarrow.__version__,
        },
    }


def _hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def peak_rss_mb(gateway_pid: int) -> float:
    """Driver plus JVM resident high-water marks."""
    return _hwm_mb("self") + _hwm_mb(gateway_pid)


def gc_ms(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return float(sum(b.getCollectionTime() for b in beans))


def named_figures(wl, e2e: dict, phase, error_ratio: float) -> list[tuple]:
    """Every end-to-end figure under its per-workload name, with sample
    counts ("n/a" where the workload has no such figure), for people
    reading the log."""
    from metrics import median, tail

    na = (None, "", "")
    n_lat, n_read = len(phase.latency), len(phase.reads)
    p_lat = f"p{100 * tail(phase.latency)[1]:.0f} n={n_lat}"
    p_read = f"p{100 * tail([dt for _k, dt in phase.reads])[1]:.0f} n={n_read}"
    sync = wl.name == "sync_tail"
    per_query: dict[str, list[float]] = {}
    for r in phase.rounds if not sync else []:
        per_query.setdefault(r["query"], []).append(r["construct_s"] + r["execute_s"])
    catchup = f"{wl.history_blocks} blocks x {wl.ops_per_block} ops, one round" if sync else ""
    rows = {
        "setup_s": (e2e["setup_s"], "s", ""),
        "peak_rss_mb": (e2e["peak_rss_mb"], "MB", ""),
        "error_ratio": (error_ratio, "ratio", ""),
        "catchup_blocks_per_s": (e2e["throughput_per_s"], "1/s", catchup) if sync else na,
        "freshness_p50_s": (e2e["latency_p50_s"], "s", f"n={n_lat}") if sync else na,
        "freshness_tail_s": (e2e["latency_tail_s"], "s", p_lat) if sync else na,
        "read_p50_s": (e2e["read_p50_s"], "s", f"n={n_read}") if sync else na,
        "read_tail_s": (e2e["read_tail_s"], "s", p_read) if sync else na,
        "query_mix_s": (
            (sum(median(v) for v in per_query.values()), "s", "one pass") if not sync else na
        ),
        "query_p50_s": (e2e["latency_p50_s"], "s", f"n={n_lat}") if not sync else na,
        "query_tail_s": (e2e["latency_tail_s"], "s", p_lat) if not sync else na,
    }
    return [(name, *v) for name, v in rows.items()]


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not (ROOT / "chain_sync_spark" / "__init__.py").is_file() or not (
        ROOT / "tools" / "oracle_check.py"
    ).is_file():
        print(f"perfbench: no chain_sync_spark sources under {ROOT}", file=sys.stderr)
        return 2
    graft_cpus = os.environ.get("SPARK_GRAFT_CPUS")
    work = ROOT / ".perfbench" / f"{args.workload}-{os.getpid()}"
    if work.exists():
        shutil.rmtree(work)
    isolate(work)
    sys.path[:0] = [str(HERE), str(ROOT)]
    context = run_context(args.seed, graft_cpus)

    t_start = time.perf_counter()
    from chain_sync_spark.session import get_spark
    from pyspark import SparkContext

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t_start
    gateway = SparkContext._gateway
    try:
        import metrics
        import workloads
        from tracing import Tracer

        if args.workload == "query_mix":
            wl = workloads.QueryMix(spark, str(work), args.seed, str(ROOT))
        else:
            wl = workloads.SyncTail(spark, str(work), args.seed)
        wl.setup(args.seconds)
        setup_s = time.perf_counter() - t_start
        phases = [wl.measure(args.seconds)]
        rss = peak_rss_mb(gateway.proc.pid)
        if args.trace:
            tracer = Tracer()
            gc0 = gc_ms(spark)
            wl.instrument(tracer)
            try:
                phases.append(wl.measure(args.seconds))
            finally:
                tracer.uninstall()
                wl.tracer = None
            layers = wl.layer_metrics(tracer, phases[1])
            layers["session.start_s"] = session_s
            layers["jvm.gc_ms"] = gc_ms(spark) - gc0
            # the untraced twin runs after the traced phase: the first
            # phase is colder than both
            phases.append(wl.measure(args.seconds))
            traced, untraced = (p.busy_s / max(p.units, 1) for p in phases[1:])
            layers["trace.overhead_ratio"] = traced / untraced - 1.0
            spans = ROOT / ".perfbench" / f"spans-{args.workload}-seed{args.seed}.jsonl"
            tracer.dump(str(spans))
        problems = wl.check(args.inject_mismatch)
    finally:
        spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        shutil.rmtree(work, ignore_errors=True)
        if not any((ROOT / ".perfbench").iterdir()):
            (ROOT / ".perfbench").rmdir()

    attempted = sum(p.attempted for p in phases)
    failed = sum(p.failed for p in phases)
    if problems:
        # a wrong store fails every round that built it; a wrong query
        # result fails its own sample
        failed += len(problems) if args.workload == "query_mix" else sum(len(p.rounds) for p in phases)
    failed = min(failed, attempted)
    e2e = {"setup_s": setup_s, "peak_rss_mb": rss, **wl.end_to_end(phases[0])}
    print("context " + json.dumps(context))
    for failure in wl.failures[:10]:
        print(f"failure {failure}")
    for problem in problems[:10]:
        print(f"mismatch {problem}")
    for r in phases[0].rounds if args.workload == "query_mix" else ():
        print(f"query {r['query']} construct {r['construct_s']:.3f} s execute {r['execute_s']:.3f} s")
    for name, value, unit, note in named_figures(wl, e2e, phases[0], failed / attempted):
        shown = "n/a" if value is None else f"{value:.6g}"
        print(f"metric {args.workload} {name} {shown} {unit} {note}".rstrip())
    if args.trace:
        for name, calls, total, own in tracer.summary():
            print(f"span {name} calls {calls} total {total:.3f} s self {own:.3f} s")
        print(f"spans written to {spans.relative_to(ROOT)}")
        wanted = [n for n, _u, _b in metrics.per_layer()]
        units = {n: u for n, u, _b in metrics.per_layer()}
        values = {n: float(layers.get(n, 0.0)) for n in wanted}
    else:
        units = {n: u for n, u, _b, _bound in metrics.END_TO_END}
        values = {n: e2e[n] for n in units}
    result = {
        "correct": not problems and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in values.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
