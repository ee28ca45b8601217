"""Repo benchmark: one seeded workload on local[nproc], end to end.

    python3 perfbench/run.py --workload interactive|batch \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. It starts Spark, sets the workload up
(several times, reporting the median), measures for about S seconds with
one closed-loop client, checks the outputs, stops Spark and prints one
JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
run records a span per layer call and reports per-layer metrics instead
(perfbench/layers.py). Spans are written to
.perfbench_work/traces/<workload>-<seed>.jsonl. Everything the run
writes stays under .perfbench_work/ in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"

END_TO_END = {
    "setup_s": "s",
    "build_docs_per_s": "1/s",
    "index_bytes_per_text_byte": "ratio",
    "query_p50_s": "s",
    "query_p90_s": "s",
    "queries_per_s": "1/s",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("interactive", "batch"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def start_spark(work: Path, cores: int):
    from pyspark.sql import SparkSession

    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    # workers import the library from this checkout; nothing is written
    # outside it (JVM temp files, spark-local dirs, Python temp files)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.driver.memory", "2g")
        .config("spark.sql.warehouse.dir", str(work / "warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
                f" -XX:TieredStopAtLevel=1 -Xms2g"
                f" -Dderby.system.home={work}")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the context, then the gateway JVM, and wait for it to exit
    (it exits when its stdin closes); Python workers go with it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def end_to_end(b, res: dict) -> dict:
    lat = res["lat"]
    return {
        "setup_s": statistics.median(res["setup_s"]),
        "build_docs_per_s": b.n_docs / min(res["build_s"]),
        "index_bytes_per_text_byte": b.index_totals["bytes"]
        / b.text_bytes(),
        "query_p50_s": statistics.median(lat),
        "query_p90_s": statistics.quantiles(
            lat, n=10, method="inclusive")[8],
        "queries_per_s": res["queries"] / sum(lat),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, str(ROOT))
    import xapian_spark  # noqa: F401  (the program under test)

    import layers
    import workloads
    from spans import Tracer

    cores = len(os.sched_getaffinity(0))
    work = WORK / f"run-{args.workload}-{args.seed}-{os.getpid()}"
    spark = start_spark(work, cores)
    try:
        tracer = Tracer(spark.sparkContext, enabled=bool(args.trace))
        b = workloads.Bench(spark, tracer, str(work), args.seed, cores)
        b.log("spark started")
        res = workloads.run(b, args.workload, args.seconds)
        if args.trace:
            metrics, units = layers.layer_metrics(b, res), layers.UNITS
            (WORK / "traces").mkdir(parents=True, exist_ok=True)
            tracer.dump(str(WORK / "traces"
                            / f"{args.workload}-{args.seed}.jsonl"))
        else:
            metrics, units = end_to_end(b, res), END_TO_END
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    for note in b.fail.notes:
        print(f"check failed: {note}", file=sys.stderr)
    print(json.dumps({
        "correct": b.fail.failed == 0,
        "attempted": b.fail.attempted,
        "failed": b.fail.failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
