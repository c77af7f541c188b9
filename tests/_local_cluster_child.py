"""Child process for the local-cluster smoke test (VERDICT r4 #3).

Run from a NEUTRAL cwd with no repo on sys.path: the only way
``goffish_v3_spark`` becomes importable — on the driver and inside the
executor-side Python workers — is the package zip shipped through
``SparkContext.addPyFile`` (the programmatic twin of
``spark-submit --py-files``). Executors run in SEPARATE JVM processes under
``local-cluster[2,8,4096]``, so this exercises every cross-process surface
the single-JVM ``local[32]`` rounds never could: zip import in workers,
Arrow applyInPandas against shipped code, worker-local CSR block cache reads
from an explicit ``blocks_dir``, and a checkpoint/resume cycle whose state
parquet is written by executor processes.

Usage: python _local_cluster_child.py <pyfiles.zip> <blocks_dir> <ckpt_dir> <out.json>
"""

import json
import os
import sys


def main() -> None:
    zip_path, blocks_dir, ckpt_dir, out_path = sys.argv[1:5]
    assert not any("goffish" in p for p in sys.path), sys.path

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.master("local-cluster[2,8,4096]")
        .appName("goffish-local-cluster-smoke")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "4g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    sc = spark.sparkContext
    sc.setLogLevel("WARN")
    sc.addPyFile(zip_path)

    # executors must be separate processes from this driver
    exec_pids = sorted(
        set(
            sc.parallelize(range(32), 32)
            .map(lambda _: __import__("os").getpid())
            .collect()
        )
    )
    driver_pid = os.getpid()

    # the import only works because addPyFile shipped the zip
    from goffish_v3_spark.operators.pagerank import pagerank_with_info
    from goffish_v3_spark.operators.subgraph_pagerank import csr_pagerank

    edges = spark.range(6000).select(
        (F.col("id") % 1200).alias("src"),
        ((F.col("id") * 7 + 1) % 1200).alias("dst"),
        F.lit(1.0).alias("w"),
    )

    # CSR kernel: blocks written to the explicit shared dir, fetched by
    # executor-side Python workers through plans.block_cache; a graph this
    # size fits one task and would skip the store, so the budget is 0
    from goffish_v3_spark.plans import block_cache

    block_cache.CONSOLIDATE_BUDGET_BYTES = 0
    ranks = csr_pagerank(
        spark,
        edges,
        num_parts=8,
        fixed_iterations=6,
        blocks_dir=blocks_dir,
    ).collect()

    # checkpoint/resume cycle across executor-written state parquet
    full, _ = pagerank_with_info(spark, edges, fixed_iterations=7)
    pagerank_with_info(
        spark, edges, fixed_iterations=3, checkpoint_dir=ckpt_dir,
        run_id="lc-kill", checkpoint_every=1,
    )
    resumed, info = pagerank_with_info(
        spark, edges, fixed_iterations=7, checkpoint_dir=ckpt_dir,
        run_id="lc-kill", resume=True, checkpoint_every=1,
    )
    j = full.withColumnRenamed("rank", "r1").join(
        resumed.withColumnRenamed("rank", "r2"), "vid"
    )
    resume_rows = j.count()
    resume_max_delta = j.select(
        F.max(F.abs(F.col("r1") - F.col("r2")))
    ).collect()[0][0]

    spark.stop()
    with open(out_path, "w") as fh:
        json.dump(
            {
                "driver_pid": driver_pid,
                "exec_pids": exec_pids,
                "ranks": {str(r.vid): r.rank for r in ranks},
                "resume_rows": resume_rows,
                "resume_max_delta": resume_max_delta,
                "resumed_supersteps": info.supersteps,
            },
            fh,
        )


if __name__ == "__main__":
    main()
