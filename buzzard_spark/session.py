"""SparkSession factory with the engine's scale defaults.

These settings are the Spark-side counterpart of the reference's baked-in
dataflow optimizations (SURVEY.md §4): AQE replaces the actor scheduler's
runtime adaptivity, skew-join splitting replaces nothing the reference had
(single machine), Arrow makes the pandas-UDF tile kernels batch-columnar.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

ENGINE_CONFS = {
    'spark.sql.adaptive.enabled': 'true',
    'spark.sql.adaptive.coalescePartitions.enabled': 'true',
    'spark.sql.adaptive.skewJoin.enabled': 'true',
    'spark.sql.execution.arrow.pyspark.enabled': 'true',
    'spark.sql.execution.arrow.maxRecordsPerBatch': '65536',
    # parquet scans: let min/max pruning see the bbox/cell columns
    'spark.sql.parquet.filterPushdown': 'true',
    'spark.sql.parquet.aggregatePushdown': 'true',
    # deterministic timestamps across engines
    'spark.sql.session.timeZone': 'UTC',
    'spark.ui.enabled': 'false',
    # local mode: shuffle files live in page cache — compression is pure
    # CPU overhead here (re-enable on a real cluster with slow disks/net)
    'spark.shuffle.compress': 'false',
    # codegen hash aggregation: the first-level "fast" row map defaults to
    # 2^16 slots; per-task group cardinality in the engine's aggregations
    # (per-(region, tile) counts: ~3·10^5 groups per scan task on a
    # crawl-ordered layout) overflows it and nearly every probe falls
    # through to the slow BytesToBytesMap. 2^20 slots keeps those maps on
    # the fast path (measured: flagship agg −20% on both clustered and
    # crawl-order layouts at 128M rows; ~16 MB per in-flight task, well
    # inside executor memory at any scale). Parameterised for clusters
    # with smaller executors.
    'spark.sql.codegen.aggregate.fastHashMap.capacityBit':
        os.environ.get('SPARK_GRAFT_AGG_FASTMAP_BITS', '20'),
    # reliable checkpoints written by checkpoint_release() are deleted by
    # the ContextCleaner once the referencing DataFrame is GC'd
    'spark.cleaner.referenceTracking.cleanCheckpoints': 'true',
}


def get_session(master: str | None = None, app_name: str = 'buzzard_spark',
                shuffle_partitions: int | None = None) -> SparkSession:
    if master is None:
        cpus = os.environ.get('SPARK_GRAFT_CPUS', '32')
        master = f'local[{cpus}]'
    if shuffle_partitions is None:
        n = master.split('[')[-1].rstrip(']*')
        shuffle_partitions = int(n) if n.isdigit() else 32
    local_dir = os.environ.get('SPARK_GRAFT_LOCAL_DIR', '/dev/shm/spark-local')
    try:
        os.makedirs(local_dir, exist_ok=True)
    except OSError:
        local_dir = None
    builder = (SparkSession.builder.master(master).appName(app_name)
               .config('spark.sql.shuffle.partitions', str(shuffle_partitions))
               .config('spark.driver.memory',
                       os.environ.get('SPARK_GRAFT_DRIVER_MEM', '48g')))
    if local_dir:
        # tmpfs shuffle dirs: immune to neighbor disk I/O on the shared host
        builder = builder.config('spark.local.dir', local_dir)
    for key, val in ENGINE_CONFS.items():
        builder = builder.config(key, val)
    return builder.getOrCreate()


def warm_session(spark) -> None:
    """One-time session warmup: JVM codegen, the Arrow/pandas Python
    worker pool, and the window codegen path — the same first-use costs
    bench.py's inline warmup absorbs (measured 5-7s otherwise billed to
    whichever query a harness runs first). Correctness harnesses
    (tools/check_oracle.py, the driver's gate mimic) call this so their
    per-query walls measure operators, not session spin-up."""
    import pandas as _pd
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W
    warm = spark.range(0, 100_000, 1, 8).selectExpr('id', 'id % 7 AS k')
    warm.groupBy('k').applyInPandas(
        lambda pdf: _pd.DataFrame({'k': [int(pdf['k'].iloc[0])],
                                   'n': [len(pdf)]}), 'k long, n long') \
        .write.format('noop').mode('overwrite').save()
    warm.select(F.row_number().over(
        W.partitionBy('k').orderBy('id')).alias('rn')) \
        .where('rn <= 3').write.format('noop').mode('overwrite').save()


def ensure_checkpoint_dir(spark) -> None:
    """Set a session-scoped reliable checkpoint dir if none is configured.

    Local mode uses a tmpfs/tempdir; on a real cluster deployments point
    this at shared storage (HDFS/S3) exactly as GraphFrames requires for
    its iterative connected components.
    """
    sc = spark.sparkContext
    if sc.getCheckpointDir() is not None:
        return
    import atexit
    import shutil
    import tempfile
    base = os.environ.get('SPARK_GRAFT_LOCAL_DIR', '/dev/shm/spark-local')
    try:
        os.makedirs(base, exist_ok=True)
    except OSError:
        base = None
    d = tempfile.mkdtemp(prefix='bzs-ckpt-', dir=base)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    sc.setCheckpointDir(d)


def release_blocks(cached=()):
    """Unpersist every DataFrame in ``cached`` immediately (including the
    internal RDD blocks a ``localCheckpoint`` pins, which Dataset.unpersist
    does not manage). For operator fast paths whose RESULT is a local
    relation (createDataFrame of driver-resolved rows): the result holds no
    lineage into the cached frames, so nothing needs a materializing
    checkpoint first — same cache-lifetime contract as
    :func:`checkpoint_release`, minus the file round-trip."""
    for df in cached:
        try:
            df.unpersist()
            plan = df._jdf.queryExecution().analyzed()
            if plan.getClass().getSimpleName() == 'LogicalRDD':
                plan.rdd().unpersist(False)
        except Exception:
            pass


def checkpoint_release(result, cached=()):
    """Materialize ``result`` through a reliable (file-backed) checkpoint,
    then unpersist every DataFrame in ``cached``.

    This is the engine's cache-lifetime contract: operators that persist()
    intermediates for multi-scan reuse release them here, so a long-lived
    session embedding the library never accumulates cached partitions
    (``sparkContext._jsc.getPersistentRDDs()`` stays empty between queries).
    The checkpoint files themselves are removed by the ContextCleaner when
    the returned DataFrame is GC'd (cleanCheckpoints=true)."""
    ensure_checkpoint_dir(result.sparkSession)
    out = result.checkpoint(eager=True)
    release_blocks(cached)
    return out
