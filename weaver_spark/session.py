"""SparkSession factory tuned for the crawl engine.

Defaults target the sandbox (single JVM, ``local[N]``) but every knob is
chosen for how it behaves on a real multi-executor cluster at 100 TB:

- AQE on: runtime coalescing of post-shuffle partitions and skew-join
  splitting — the mega-host skew in per-host scheduling (FIXTURES.md §2)
  is first handled by explicit salting, AQE is the backstop.
- Arrow on: every Python-side stage in this engine is a pandas/Arrow UDF
  (``mapInPandas`` fetch/decode); row-at-a-time Python is banned.
  Driver-side rows enter Spark through ``local_df`` (a ``pyarrow.Table``
  -> ``LocalTableScan``), never through ``createDataFrame(list)``, whose
  ``Scan ExistingRDD`` launches Python worker tasks on every scan; an
  empty table read then needs no job.
- shuffle.partitions ~ cores locally; on a cluster this is set per job to
  ~2-3x total executor cores (or left to AQE's coalescing with a high
  initial value).
- session timezone pinned UTC so results compare bit-for-bit against the
  DuckDB oracle (UTC-naive timestamps).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DataType, StructType


def get_spark(
    app_name: str = "weaver_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32).
    ``shuffle_partitions`` defaults to the local core count — at cluster
    scale callers pass an explicit value sized to the stage's data volume.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    # shuffle/spill dir: prefer tmpfs (set SPARK_GRAFT_LOCAL_DIR to
    # override). Shuffle writes of image-payload rows are sequential-ish
    # but fsync-heavy; on the sandbox's virtio disk they inject multi-
    # second stalls that swamp small-stage timings.
    local_dir = os.environ.get(
        "SPARK_GRAFT_LOCAL_DIR",
        "/dev/shm/spark-local" if os.path.isdir("/dev/shm") else "/tmp",
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.local.dir", local_dir)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Scan-parallelism FLOOR (guide §6): without it a table written
        # as one file scans as maxPartitionBytes-sized splits — a 110 MB
        # file is ONE task, and every per-row expression above the scan
        # runs on one core of the session. The floor derives from the
        # session's parallelism (never a constant): at cluster scale the
        # natural file/row-group count of a 100 TB table is far above
        # any core count, so the floor is inert there; splits still
        # cannot cross parquet row groups, so a file with fewer row
        # groups than splits scans its rows on a few tasks, the other
        # splits empty. queries._spread does not cover that case: its
        # guard counts the empty splits too (getNumPartitions), so it
        # can skip its repartition while the rows sit on a few tasks
        # (sf1.0 lineitem: 32 splits, 6 of them non-empty).
        .config("spark.sql.files.minPartitionNum", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Batch sizes bound peak memory of binary-payload (image) columns.
        # Two observed failure modes with the 4096 default and ~25 KB
        # payloads: (a) 32 concurrent vectorized readers OOM an 8g heap;
        # (b) each reader batch allocates ~25 MB byte arrays — G1
        # "humongous" objects — whose churn escalates to multi-second
        # stop-the-world stalls (JVM stopped answering jstack attach).
        # 256 rows/batch keeps vectors ~6 MB, under the humongous
        # threshold with 32 MB regions. Same math per-executor on a real
        # cluster carrying image payloads.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        .config("spark.sql.parquet.columnarReaderBatchSize", "256")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        # GC: G1 with 32 MB regions. History: round 1 moved to ZGC after
        # G1 humongous-object churn degraded the payload scan (2s -> 50s
        # over a session). Round 2 removed the churn source structurally
        # (payload bytes are written once and adopted, never re-read in
        # the hot loop) and re-measured: Java 17's non-generational ZGC
        # then became the bottleneck — allocation stalls froze unrelated
        # 4-row commits for 10-30 s (200k-URL crawl: 232 s under ZGC vs
        # 91 s under G1-32m, same code). 32 MB regions keep the ~6 MB
        # arrow/parquet buffers far below the humongous threshold.
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get(
                "SPARK_GRAFT_GC_OPTS",
                "-XX:+UseG1GC -XX:G1HeapRegionSize=32m -XX:+ParallelRefProcEnabled",
            ),
        )
        .config(
            "spark.executor.extraJavaOptions",
            os.environ.get(
                "SPARK_GRAFT_GC_OPTS",
                "-XX:+UseG1GC -XX:G1HeapRegionSize=32m -XX:+ParallelRefProcEnabled",
            ),
        )
        .config("spark.sql.columnVector.offheap.enabled", "true")
        .config("spark.memory.offHeap.enabled", "true")
        .config("spark.memory.offHeap.size", os.environ.get("SPARK_GRAFT_OFFHEAP", "8g"))
        # Shuffle compression OFF: the engine's dominant shuffle traffic
        # is image payloads that are ALREADY PNG/JPEG-compressed, so
        # codecs only burn CPU — and empirically the lz4 (and snappy)
        # shuffle streams exhibit intermittent multi-10-second stalls at
        # 32-way concurrency on large binary rows (reproduced: 4 runs of
        # the same 580MB window+write = 7.5/3.9/4.6/52.4s with lz4 vs
        # 7.0/1.8/1.5/2.4s uncompressed). On a network-shuffle cluster,
        # re-enable per-job for text-dominated shuffles.
        .config("spark.shuffle.compress", "false")
        .config("spark.shuffle.spill.compress", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def arrow_table(rows: list[tuple], schema: StructType | str):
    """Driver-side ``rows`` (tuples in ``schema`` order; a StructType or a
    DDL string) as a ``pyarrow.Table`` typed by Spark's own Arrow mapping.
    Rejects a row of the wrong width and a null in a non-nullable column:
    Arrow does not enforce nullability, and Spark trusts the schema."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    if any(len(r) != len(arrow_schema) for r in rows):
        raise ValueError(f"rows must have {len(arrow_schema)} fields")
    cols = list(zip(*rows)) if rows else [()] * len(arrow_schema)
    arrays = [pa.array(list(c), type=f.type) for c, f in zip(cols, arrow_schema)]
    for f, a in zip(arrow_schema, arrays):
        if not f.nullable and a.null_count:
            raise ValueError(f"null in non-nullable column {f.name!r}")
    return pa.Table.from_arrays(arrays, schema=arrow_schema)


def local_df(
    spark: SparkSession, rows: list[tuple], schema: StructType | str
) -> DataFrame:
    """A DataFrame of driver-side ``rows`` (``arrow_table``'s contract)
    planned as a ``LocalTableScan``: the rows travel as one
    ``pyarrow.Table``, so scanning the result runs no Python worker; an
    empty one collects without a job, and Catalyst prunes it from joins.
    Unlike pandas input, a ``pa.Table`` has no silent fallback to a
    Python RDD."""
    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    return spark.createDataFrame(arrow_table(rows, schema), schema)
