"""SparkSession factory tuned for the local[32] test environment.

At cluster scale the same settings apply except master/memory: AQE on
(runtime re-plan, skew-join splitting, partition coalescing), shuffle
partitions sized to cores, Arrow enabled for the few pandas-UDF
operators, UTC session timezone so results are oracle-comparable.
"""

from __future__ import annotations

import os

from pyspark import SparkConf
from pyspark.sql import SparkSession

# the directory holding the file_d_spark package: Python workers import
# the worker daemon (file_d_spark.pydaemon) from it, whatever their cwd
_PKG_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(app_name: str = "file_d_spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    worker_path = SparkConf().get("spark.executorEnv.PYTHONPATH", "")
    worker_path = os.pathsep.join(
        dict.fromkeys([_PKG_ROOT, *filter(None, worker_path.split(os.pathsep))])
    )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        .config("spark.ui.enabled", "false")
        # the console progress bar rewrites lines with \r and has
        # swallowed per-query OK lines in every round's check_oracles
        # sweep (count them, then chase the stragglers); kill it at
        # the source — logs already report stage progress at WARN
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # the driver's testdata parquet stores TIMESTAMP(NANOS) which the
        # vectorized reader rejects; read as long and convert in tables.py
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # split files finely enough that a single-file source still
        # feeds all local cores (default 128MB -> 4 tasks for 0.5GB)
        .config("spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024))
        # bounded-driver-model probes (limit(bound+1).collect(), take,
        # first) use executeTake, which scans 1 partition, then 4, 16,
        # ... (scaleUpFactor) — one JOB per batch.  When the probed
        # frame holds fewer rows than the bound (the normal case) every
        # partition gets scanned anyway, just in 4-5 sequential
        # scheduling waves.  Start the ramp at one full wave of cores
        # so the common case is ONE job; frames with more partitions
        # still ramp (x4 per wave), so a selective take on a huge frame
        # never scans it all.  Scales with the core count, not a
        # local[32] constant.
        .config("spark.sql.limit.initialNumPartitions", str(cpus))
        # AQE coalescing's floor on post-shuffle partition size (r14).
        # The default 1m floor over-coalesces CPU-DENSE, byte-SMALL
        # stages: candidate-pair verification shuffles a few MB of
        # (long, long) pairs whose array_intersect work is seconds of
        # CPU, and the 1m floor packed it onto 1-3 tasks (measured:
        # dedup_ngram_jaccard 4.8 -> 2.3 s, rolling_zscore 0.49 ->
        # 0.25 s, graph_pagerank -32%, 18-row sweep -24%).  16k keeps
        # such stages at full task fan-out.  The full bench showed the
        # cost, the other side of the same knob: the floor binds
        # whenever a stage's total bytes < partitions x 1m, and then it
        # fans byte-tiny shuffles (sketch merges, probe chains) out into
        # near-empty tasks — at local[32] sketch_overlap went 0.60 ->
        # 3.07 s and bpe_fertility 1.27 -> 4.03 s, and on a cluster
        # every such stage schedules one near-empty task per shuffle
        # partition.  Large stages are unaffected (the advisory size
        # dominates).  Sizing fan-out to the data instead of the core
        # count is open work; until then SPARK_GRAFT_AQE_MIN_PARTITION
        # raises the floor back toward 1m (results are
        # partitioning-invariant; only speed changes).
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_GRAFT_AQE_MIN_PARTITION", "16k"),
        )
        # let the planner pick shuffled-hash over sort-merge when its
        # size conditions hold (build side < autoBroadcastJoinThreshold
        # x shuffle partitions AND 3x smaller than the probe side) —
        # drops two full sorts per shuffle join.  The OOM guard is the
        # planner's own size condition, which scales with the broadcast
        # threshold and partition count, not with local[32]; measured
        # on the 7 SMJ-carrying bench rows: 5 faster (dedup_cluster
        # -1.1 s, dedup_incremental_fuzzy -0.8 s), 1 tie, 1 within
        # noise (bucketed_enrich +0.15 s).  AQE skew splitting applies
        # to shuffled-hash joins the same as sort-merge.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # every Python worker forks from file_d_spark.pydaemon, which
        # stops each task from re-reading pyspark.zip and the spark-core
        # jar (see that module)
        .config("spark.python.daemon.module", "file_d_spark.pydaemon")
        .config("spark.executorEnv.PYTHONPATH", worker_path)
        # streaming checkpoints (offset/commit/source/sink logs,
        # state-store deltas and their checksums) go through Hadoop's
        # FileSystem API, not Spark's FileContext default.  Without
        # native libhadoop, FileContext's local rename shells out via
        # getFileLinkStatus: 20 forked processes and ~34 ms per
        # checkpoint file, against 4 and ~11 ms here.  Safe wherever
        # FileSystem.rename is atomic (POSIX disks, HDFS); Spark falls
        # back to this manager itself.  A log entry that exists is never
        # replaced (two runs cannot commit one batch id); a state
        # version a re-executed batch writes again keeps its first
        # complete copy, which the manager contract allows.  The files
        # are the same (.crc sidecars included), so checkpoints written
        # under the default restart unchanged.
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
