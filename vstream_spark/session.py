"""SparkSession factory for the vstream-spark engine.

Defaults target the driver's harness (local[$SPARK_GRAFT_CPUS], 32 shuffle
partitions) but every knob is scale-aware: AQE on (runtime coalesce + skew-join
splitting), Arrow on (all custom operators move data in Arrow batches), zstd
parquet. On a real cluster the same factory is used with a different master and
a larger ``spark.sql.shuffle.partitions`` (rule of thumb: 2-3x total cores, or
target ~128MB per shuffle partition at the expected data volume).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Scale-aware defaults. On 100 TB inputs the file-split and shuffle sizing
# below keep individual tasks in the 100-200MB range so no single task spills;
# AQE re-coalesces small post-shuffle partitions and splits skewed ones.
_DEFAULT_CONF: dict[str, str] = {
    # local-mode JVM sizing: the driver IS the executor for all 32 task
    # threads, and Spark's 1g default heap leaves them GC-thrashing (observed:
    # late-suite queries degrade 2-3x once broadcast/plan state accumulates).
    # Only applies at JVM launch — a real cluster sizes executors via the
    # resource manager instead.
    "spark.driver.memory": "48g",
    "spark.sql.adaptive.enabled": "true",
    # Pin the session tz: makes TIMESTAMP_NTZ <-> TIMESTAMP casts (needed for
    # streaming watermarks over the driver's NTZ parquet) value-preserving
    # and keeps window boundaries deterministic across machines.
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Arrow batch size for pandas UDF exchange: large enough to amortize
    # Python call overhead, small enough to bound worker memory.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.sql.parquet.compression.codec": "zstd",
    # Driver testdata carries TIMESTAMP(NANOS) parquet columns, which Spark
    # rejects natively; read as int64 nanos and convert in load_table.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Vector columns are float32 arrays: byte-stream-split encoding is the
    # Parquet analog of the reference's Gorilla XOR compression (SURVEY C5/O8).
    "spark.sql.parquet.columnarReaderBatchSize": "4096",
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    # InferFiltersFromGenerate rewrites explode(udf(x)) into
    # Filter(size(udf(x))>0) + explode(udf(x)) and the Python-UDF extraction
    # then evaluates the UDF TWICE (one ArrowEvalPython for the filter, one
    # for the generator input) — a duplicated whole-corpus Python pass in
    # every partitioner-dispatch and shingle-explode plan. Generate already
    # skips empty/null arrays, so the inferred filter buys nothing here;
    # excluding the rule halves the ArrowEvalPython nodes in those plans.
    "spark.sql.optimizer.excludedRules":
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
    "spark.ui.enabled": "false",
    "spark.driver.host": "127.0.0.1",
    # Python worker floor: pyspark's worker calls importlib.invalidate_caches()
    # on every task, and on CPython 3.11 each zipimporter then re-parses its
    # archive's directory (the 5,359-entry Spark jar on the worker path,
    # pyspark.zip once per imported subpackage): 150-220 ms of worker CPU per
    # task before the user function starts. This daemon re-reads an archive
    # only when its mtime or size changed (10-20 ms per task; a 16-task
    # mapInPandas stage 0.9-1.1 s -> 0.4 s on 4 cores). Every mapInPandas /
    # applyInPandas / pandas_udf site gains with its plan unchanged.
    # ``extra_conf`` can still set spark.python.daemon.module back to
    # "pyspark.daemon".
    "spark.python.daemon.module": "vstream_spark.worker_daemon",
}

# Root of the engine's import path: workers import the daemon module above and
# the module-level helpers the engine's UDFs pickle by reference, whatever the
# driver's cwd.
_ENGINE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def batch_shuffle_partitions(
    data_dir: str | None = None,
    cores: int | None = None,
    target_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Scale-derived ``spark.sql.shuffle.partitions`` (guide §2.2; r14
    VERDICT #7): ``clamp(ceil(input_bytes / 128MB), cores, 2*cores)`` — the
    static 32 replaced by the same sizing rule ``stream_state_partitions``
    applies to state stores. At rehearsal SFs (input << 128 MB) the floor is
    the core count, so the local bench plan width is unchanged vs the old
    constant on a 32-core harness; at 100 TB the width rises to the 2x-cores
    rule of thumb and AQE coalescing still owns the downsizing per stage.
    ``data_dir`` defaults to $SPARK_GRAFT_SF_DIR (the harness contract);
    ``cores`` to $SPARK_GRAFT_CPUS, else the machine."""
    if cores is None:
        raw = os.environ.get("SPARK_GRAFT_CPUS", "")
        try:
            cores = int(raw)
        except ValueError:
            cores = os.cpu_count() or 1
    cores = max(1, cores)
    if data_dir is None:
        data_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "")
    total = 0
    if data_dir and os.path.isdir(data_dir):
        for root, _, files in os.walk(data_dir):
            total += sum(
                os.path.getsize(os.path.join(root, f))
                for f in files
                if not f.startswith((".", "_"))
            )
    width = -(-total // max(1, target_bytes))  # ceil
    return int(max(cores, min(2 * cores, width)) if width else cores)


def get_spark(
    app_name: str = "vstream-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (driver convention),
    falling back to ``local[*]``.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULT_CONF)
    conf["spark.sql.shuffle.partitions"] = str(batch_shuffle_partitions())
    conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
        p for p in (_ENGINE_ROOT, os.environ.get("PYTHONPATH")) if p
    )
    if extra_conf:
        conf.update(extra_conf)
    for key, value in conf.items():
        builder = builder.config(key, value)
    return builder.getOrCreate()
