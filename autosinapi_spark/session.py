"""SparkSession factory.

Local-mode defaults match the test/bench environment (single JVM,
``local[$SPARK_GRAFT_CPUS]``); every knob is overridable so the same
factory serves a real cluster deployment. Scale posture:

- AQE on (runtime re-plan: coalesce post-shuffle partitions, skew-join
  splitting, dynamic broadcast conversion).
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a
  1000-executor cluster this is tuned to ~2-3x total cores (or left to
  AQE coalescing with a high initial value).
- Arrow enabled so any Pandas-UDF slow path is batch-vectorized.
- UTC session timezone so timestamp semantics match the DuckDB oracle.
- A codegen cache that holds a monthly load's working set of generated
  classes, so a session that re-runs the same plan shapes (the next
  month, a re-run) compiles them once.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS = {
    # local mode runs driver + all executor threads in ONE JVM; the
    # 1g spark-submit default heap starves broadcast builds and
    # shuffles well below the machine's actual memory. Env-tunable
    # (and ignored when attaching to an existing session / a real
    # cluster submit sets its own executor memory).
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # AQE coalescing targets max(shuffleBytes / parallelism,
    # minPartitionSize) per partition (parallelismFirst, default on).
    # The default 1m floor is a BYTES heuristic; on compute-dense,
    # byte-small frames (md5 over shingle arrays, embedding vectors —
    # a few hundred KB that fan out into millions of hash/FLOP calls)
    # it coalesces post-shuffle stages to 1-2 tasks and starves the
    # cores. 64kb keeps those stages wide while still folding away
    # empty partitions; at deployment scale shuffles are GB-sized, the
    # bytes/parallelism term dominates, and the floor is irrelevant —
    # i.e. this is scale-adaptive, not a local[32] constant.
    # Env-overridable like the rest of the scale knobs.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": os.environ.get(
        "SPARK_GRAFT_AQE_MIN_PARTITION", "64kb"
    ),
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # shuffle/spill codec (guide §2.3/§6): zstd compresses markedly
    # better than lz4 for a bit more CPU — a bandwidth-vs-CPU trade
    # that favors zstd on network-bound clusters and lz4 on a
    # single-box local[] where "network" is memcpy. A/B'd at sf0.1 on
    # the 6 most shuffle-heavy rows (OPTIMIZATION_r15.md): a wash
    # locally (zstd -1.3% total, per-query mixed within +-8% noise;
    # shuffles here are KB-MB sized so codec CPU ~ codec win). The
    # LOCAL default therefore stays Spark's lz4 — keeping the
    # driver's bench comparable — and network-bound deployments opt
    # into zstd via this env (DEPLOY.md).
    "spark.io.compression.codec": os.environ.get(
        "SPARK_GRAFT_IO_CODEC", "lz4"
    ),
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # fixture parquet carries INT64 TIMESTAMP(NANOS); see catalog.load
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # parquet scans: larger row-group batches, vectorized reader
    "spark.sql.parquet.enableVectorizedReader": "true",
    # deterministic timestamp read behaviour
    "spark.sql.parquet.datetimeRebaseModeInRead": "CORRECTED",
    "spark.ui.enabled": "false",
    # generated-class cache (static, one per JVM). A warm monthly load
    # uses ~275 distinct generated classes; the default of 100 entries
    # evicts each one before the next month or a re-run reuses it, and
    # every load then recompiles ~270 of them. 1000 holds a month's
    # working set with room to spare. A fixed size, not a scale knob:
    # it bounds memory for compiled classes, not data.
    "spark.sql.codegen.cache.maxEntries": "1000",
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def get_spark(
    app_name: str = "autosinapi_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults applied."""
    cpus = default_parallelism()
    builder = SparkSession.builder.appName(app_name).master(
        master or f"local[{cpus}]"
    )
    conf = dict(_DEFAULTS)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions or cpus)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
