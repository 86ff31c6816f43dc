"""Benchmark of the BM25 engine: top-k serving on both engines, and the
bulk transcript build.

    python3 bm25bench/run.py --workload serve_topk --seed 1 --seconds 20 --trace 0

Run from the repository root. One process drives Spark ``local[nproc]``
with one closed-loop client. ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` runs the same seeded ops with every other op
traced and prints the per-layer metrics. The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``; the line before it is the run's context (seed, nproc,
versions, op counts, exact Spark job and task counts per op kind).

Everything the run writes stays under ``.bm25bench_work/`` in the
repository root, Spark's local dirs and the compiled-kernel cache
included. See bm25bench/README.md for the metrics and workloads.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("serve_topk", "ingest_bulk")
WORK_DIR = ".bm25bench_work"


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=20.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare(root: str) -> str:
    """The run's work dir, emptied, and the environment that keeps every
    file Spark, its Python workers and the kernel cache write inside it.
    The kernel cache (``tmp/``) survives across runs, like a host's temp
    dir: only a checkout's first run compiles the kernel."""
    work = os.path.join(root, WORK_DIR)
    run = os.path.join(work, "run")
    shutil.rmtree(run, ignore_errors=True)
    for d in ("tmp", "run/local", "run/jvm_tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ.update(
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(run, "local"),
        PYTHONPATH=os.pathsep.join([root, HERE]),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        # every JVM (the launcher too): temp files in the work dir and no
        # hsperfdata files, which the JVM would put in the system temp dir
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={os.path.join(run, 'jvm_tmp')}"
                          " -XX:-UsePerfData",
    )
    import tempfile
    tempfile.tempdir = None      # re-read TMPDIR
    return run


def start_spark(run: str, cores: int):
    from pyspark.sql import SparkSession
    spark = (SparkSession.builder.master(f"local[{cores}]")
             .appName("bm25bench")
             .config("spark.sql.shuffle.partitions", str(cores))
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.ui.retainedJobs", "100000")
             .config("spark.ui.retainedStages", "100000")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.local.dir", os.path.join(run, "local"))
             .config("spark.sql.warehouse.dir",
                     os.path.join(run, "warehouse"))
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def kernel_state(tmp: str) -> tuple[bool, bool]:
    """(C kernel loaded, .so compiled by this run). Runs the German chain
    once in this process, the Spark driver, which compiles the UAX#29
    kernel when the cache has none; a missing compiler means the ~10x
    slower scalar scan."""
    import glob
    before = set(glob.glob(os.path.join(tmp, "uax29_kernel_*.so")))
    from lucene_solr_spark.analysis import uax29_vec
    from lucene_solr_spark.analysis.lang import lang_analyze_batch
    lang_analyze_batch("de", ["Häuser"])
    after = set(glob.glob(os.path.join(tmp, "uax29_kernel_*.so")))
    return uax29_vec._kernel() is not None, bool(after - before)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "lucene_solr_spark")):
        print("bm25bench: run from the repository root (no "
              "lucene_solr_spark/ here)", file=sys.stderr)
        return 2
    sys.path[:0] = [root, HERE]
    run_dir = prepare(root)

    import pyarrow
    import pyspark

    import workloads as W
    from spans import RssSampler, nproc, stop_spark

    cores = nproc()
    c_kernel, so_compiled = kernel_state(os.environ["TMPDIR"])
    with RssSampler() as rss:
        spark = start_spark(run_dir, cores)
        try:
            r = W.Run(spark, run_dir, args.seed, args.seconds,
                      bool(args.trace), T_START)
            r.phase("spark")
            getattr(W, args.workload)(r)
            timed = [o for o in r.tr.ops if o.kind != "warmup"]
            counts = r.counts(timed)
        finally:
            stop_spark(spark)
    r.metric("setup_s", r.setup_s, "s")
    r.metric("peak_rss_mb", rss.peak_mb, "MB")
    walls: dict = {}
    for o in r.tr.ops:
        walls.setdefault(o.kind, []).append(o.wall)
    r.layer("analysis.c_kernel", int(c_kernel), "bool")
    context = dict(
        workload=args.workload, seed=args.seed, seconds=args.seconds,
        trace=args.trace, nproc=cores, pyspark=pyspark.__version__,
        pyarrow=pyarrow.__version__, c_kernel=c_kernel,
        uax29_so_compiled_in_setup=so_compiled,
        ops={k: len(v) for k, v in walls.items() if k != "warmup"},
        counts=counts,
        op_walls=walls,
        wall_s=time.perf_counter() - T_START, rss_mb_at_peak=rss.at_peak,
        wrong=r.wrong[:20], phases=r.phases, **r.context)
    metrics = r.layers if args.trace else r.metrics
    print(json.dumps({"context": context}))
    print(json.dumps({"correct": not r.wrong, "attempted": len(timed),
                      "failed": r.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
