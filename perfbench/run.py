"""Benchmark of the nzwirelessmap_fetch_spark engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. One process is one run: it builds a
Spark session (``local[<cpus>]``), makes its inputs from ``--seed``
(cached under ``perfbench/_cache``), drives one workload through the
engine's public entry points for ``--seconds`` seconds as one client in a
closed loop, checks every output against DuckDB, and prints one JSON
object as its last stdout line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json,
``--trace 1`` the per-layer ones (Spark event log, one job group per op,
spans around each call into a program layer). Every run also writes its
op log to ``perfbench/_results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from pathlib import Path
from types import SimpleNamespace

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

from harness import RssPeak, Spans, process_start_time  # noqa: E402

# Pinned session settings: identical for both sides of any comparison.
CPUS = os.cpu_count() or 4
DRIVER_MEM = "4g"


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--corrupt-expected", action="store_true",
        help="self-test: replace the first expected output hash with a wrong one",
    )
    return p.parse_args(argv)


def _program_present() -> bool:
    return (ROOT / "nzwirelessmap_fetch_spark" / "__init__.py").is_file() and (
        ROOT / "tests" / "oracle.py"
    ).is_file()


def start_session(work: Path, trace: bool, spans: Spans):
    """Session with the pinned settings, then a warm-up that touches no
    memo any workload measures."""
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = str(work / "tmp")
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    conf = {
        "spark.local.dir": str(work / "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
        "spark.sql.warehouse.dir": str(work / "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        (work / "eventlog").mkdir()
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (work / "eventlog").as_uri(),
            "spark.eventLog.compress": "false",
        }
    from nzwirelessmap_fetch_spark.session import get_spark

    with spans.span("session.create"):
        spark = get_spark("perfbench", cpus=CPUS, extra_conf=conf)
    with spans.span("session.warmup"):
        warm_up(spark)
    return spark


def warm_up(spark) -> None:
    """Pay the first-job cost (code generation, shuffle, Arrow collect) on
    a tiny frame of its own. It reads no workload input and fills no
    engine memo."""
    spark.range(10_000).selectExpr("id % 7 AS k").groupBy("k").count().toPandas()


def stop_session(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for the JVM
    (and with it the Python workers it forked) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def settings(spark) -> dict:
    conf = spark.conf
    return {
        "master": spark.sparkContext.master,
        "cpus": CPUS,
        "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory"),
        "shuffle_partitions": conf.get("spark.sql.shuffle.partitions"),
        "aqe": conf.get("spark.sql.adaptive.enabled"),
        "exact_pair_budget_env": os.environ.get("SPARK_GRAFT_EXACT_PAIR_BUDGET"),
        "spark_version": spark.version,
        "python": sys.version.split()[0],
    }


def prepare_inputs(ctx, workload: str) -> None:
    import datagen
    from checks import Oracle
    from workloads import SCALES

    cache = HERE / "_cache"
    cache.mkdir(exist_ok=True)
    ctx.tables_dir = datagen.seeded_tables(cache, SCALES[workload], ctx.seed)
    ctx.oracle = Oracle(cache, ctx.tables_dir, ctx.corrupt)
    if workload == "prism_etl":
        ctx.prism_zip = datagen.prism_zip(cache, ctx.tables_dir, ctx.seed)


def main(argv=None) -> int:
    args = parse_args(argv)
    t_process = process_start_time()
    if not _program_present():
        print(f"perfbench: the engine package is not in {ROOT}; nothing to measure", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    import report
    from workloads import WORKLOADS, Run

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = HERE / "_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    os.chdir(work)  # derby.log, spark-warehouse and artifacts stay here
    spans = Spans(enabled=bool(args.trace))
    rss = RssPeak()
    ctx = SimpleNamespace(
        workload=args.workload, seed=args.seed, seconds=args.seconds, trace=bool(args.trace),
        corrupt=args.corrupt_expected,
        spans=spans, rss=rss, work=work,
    )
    spark = None
    try:
        spark = start_session(work, ctx.trace, spans)
        setup_s = time.time() - t_process
        rss.sample()
        prepare_inputs(ctx, args.workload)
        run = Run(spark, ctx)
        t0 = time.perf_counter()
        WORKLOADS[args.workload](run)
        wall_s = time.perf_counter() - t0
        rss.sample()
        conf = settings(spark)
        print(f"perfbench: settings {json.dumps(conf)}", file=sys.stderr)
        stop_session(spark)
        spark = None
        result = report.build(args, run, setup_s, wall_s, rss.peak, conf, HERE, work)
    finally:
        if spark is not None:
            stop_session(spark)
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
