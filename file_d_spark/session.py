"""SparkSession factory: every session setting lives in ``get_spark``.

``get_spark`` builds a ``local[cpus]`` session (``cpus`` defaults to
``$SPARK_GRAFT_CPUS``, else 32).  The settings scale with the core
count and carry over to a cluster except master and memory: AQE on
(runtime re-plan, skew-join splitting, partition coalescing), shuffle
partitions and the first ``take`` wave sized to the cores, Arrow for
the pandas-UDF operators, a UTC session time zone so results compare
with the DuckDB oracles, Python workers forked from
``file_d_spark.pydaemon``, and streaming checkpoints written through
Hadoop's FileSystem API.

Start-up.  When the call launches the driver JVM, the JVM starts from
a JDK dynamic class-data-sharing archive (JEP 350): the classes an
earlier process loaded are mapped from one file instead of being
found, read and verified in the jars (traced on a 4-core host:
``get_spark`` 6.5-6.9 -> 3.5-4.0 s, the first stream plan build
2.2-2.6 -> 1.1-1.3 s).  The first process to launch without an
archive records it at exit (``-XX:ArchiveClassesAtExit``) and
publishes it by rename; that one process starts slower and spends
~15-30 s at exit writing the 140-160 MB file.  The archive lives in
``${XDG_CACHE_HOME:-~/.cache}/file_d_spark/cds/``, keyed by the java
binary and the Spark jars, and publishing one removes the archives of
other keys; deleting the directory resets it.
``cds_launch`` says when the archive cannot be used (anything that
could put a non-empty directory on the launcher classpath) and the
JVM then starts exactly as it would without it.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import re
import shutil
import subprocess
from dataclasses import dataclass

from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession

# the directory holding the file_d_spark package: Python workers import
# the worker daemon (file_d_spark.pydaemon) from it, whatever their cwd
_PKG_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# how long a recording process waits at exit for its JVM to write the
# archive (~15-30 s for 140-160 MB on a 4-core host)
_CDS_EXIT_WAIT_S = 300
# CDS log lines stay off the JVM's stdout: a recording JVM prints
# hundreds of "Preload Warning"/"Skipping" lines, a refused archive a
# few more, and a caller that pipes stdout without reading it blocks
_CDS_QUIET = "-Xlog:cds*=off -Xlog:class+path*=off"
_CDS_WRITTEN = "Written dynamic archive"
# paths go unquoted into spark.driver.defaultJavaOptions and -Xlog
_SAFE_PATH = re.compile(r"[\w./+@-]+")
# each of these puts directories on the launcher classpath, and JDK 17
# neither records an archive with a non-empty directory on it (the JVM
# fails to start) nor maps one recorded without those directories
_CLASSPATH_ENV = (
    "HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH",
    "SPARK_PREPEND_CLASSES", "SPARK_TESTING",
)
_CLASSPATH_ARGS = (
    "spark.driver.extraClassPath", "--driver-class-path",
    "spark.driver.defaultJavaOptions",
)


@dataclass(frozen=True)
class CdsLaunch:
    """How to launch the driver JVM with the class-data-sharing archive.

    ``java_options`` goes into ``spark.driver.defaultJavaOptions`` (a
    user's ``spark.driver.extraJavaOptions`` still applies after it);
    ``conf_dir`` is the ``SPARK_CONF_DIR`` to launch under, or None to
    keep the caller's.  A recording launch holds ``lock`` and has its
    JVM write ``tmp`` and log to ``log``; ``publish`` moves ``tmp`` to
    ``archive`` once the JVM has exited."""

    java_options: str
    conf_dir: str | None
    archive: str
    lock: str | None = None
    tmp: str | None = None
    log: str | None = None

    def publish(self, proc, timeout: float = _CDS_EXIT_WAIT_S) -> bool:
        """End the recording JVM and publish its archive if it wrote a
        whole one: exit status 0 and the "Written" line in its log.  A
        partial file never reaches ``archive`` (JDK 17 dies with SIGBUS
        mapping a truncated archive), so a failed, timed-out or killed
        recording leaves only a tmp file, removed here or swept later.
        Publishing removes every other key's archive."""
        ok = False
        try:
            proc.stdin.close()  # the gateway exits on stdin EOF
            try:
                rc = proc.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                rc = None
            ok = rc == 0 and _CDS_WRITTEN in _read_text(self.log)
            if ok:
                os.replace(self.tmp, self.archive)
                # an archive of another key (an older java binary, conf
                # dir or jar set) is never mapped again; a JVM that maps
                # one keeps its mapping after the unlink, and a launch
                # that finds its archive gone starts without it
                cache = os.path.dirname(self.archive)
                for name in os.listdir(cache):
                    if name.endswith(".jsa") and os.path.join(cache, name) != self.archive:
                        _unlink(os.path.join(cache, name))
        finally:
            self.release(remove_tmp=not ok)
        return ok

    def release(self, remove_tmp: bool = True) -> None:
        """Drop this process's recording files and its lock."""
        for path in (self.tmp if remove_tmp else None, self.log):
            _unlink(path)
        if self.lock and _lock_pid(self.lock) == os.getpid():
            _unlink(self.lock)


def cds_cache_dir(env=os.environ) -> str:
    base = env.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(base, "file_d_spark", "cds")


def cds_launch(env=os.environ, spark_home: str | None = None) -> CdsLaunch | None:
    """Decide how the JVM this process is about to launch uses the
    archive: map it (it exists), record it (it does not, and this
    process took the lock), or None — launch plainly — when another
    process is recording or when a directory could reach the launcher
    classpath: a non-template file in ``$SPARK_HOME/conf``, a
    non-empty ``SPARK_CONF_DIR``, one of ``_CLASSPATH_ENV`` set, or a
    driver classpath or default Java options in ``PYSPARK_SUBMIT_ARGS``."""
    if env.get("PYSPARK_GATEWAY_PORT") or any(env.get(k) for k in _CLASSPATH_ENV):
        return None
    submit = env.get("PYSPARK_SUBMIT_ARGS", "")
    if any(a in submit for a in _CLASSPATH_ARGS):
        return None
    if spark_home is None:
        from pyspark.find_spark_home import _find_spark_home

        spark_home = _find_spark_home()
    jars = os.path.join(spark_home, "jars")
    java_home = env.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    cache = cds_cache_dir(env)
    if not (java and os.path.isfile(java) and os.path.isdir(jars) and _SAFE_PATH.fullmatch(cache)):
        return None
    conf_dir = env.get("SPARK_CONF_DIR")
    if conf_dir:
        if not os.path.isdir(conf_dir) or os.listdir(conf_dir):
            return None
        launch_conf = None
    else:
        default_conf = os.path.join(spark_home, "conf")
        if os.path.isdir(default_conf) and not all(
            n.endswith(".template") for n in os.listdir(default_conf)
        ):
            return None
        # Spark reads no template, so an empty conf dir changes nothing
        conf_dir = launch_conf = os.path.join(cache, "conf")
    os.makedirs(conf_dir, exist_ok=True)
    _sweep(cache)

    key = _cds_key(os.path.realpath(java), conf_dir, jars)
    archive = os.path.join(cache, f"{key}.jsa")
    if os.path.exists(archive):
        return CdsLaunch(f"-XX:SharedArchiveFile={archive} {_CDS_QUIET}", launch_conf, archive)
    lock = os.path.join(cache, f"{key}.lock")
    if not _take_lock(lock):
        return None
    pid = os.getpid()
    tmp, log = (os.path.join(cache, f"{key}.{pid}.{ext}") for ext in ("tmp", "log"))
    opts = (
        f"-XX:ArchiveClassesAtExit={tmp} {_CDS_QUIET} "
        f"-Xlog:cds+dynamic=info:file={log}::filecount=0"
    )
    return CdsLaunch(opts, launch_conf, archive, lock, tmp, log)


def _cds_key(java: str, conf_dir: str, jars: str) -> str:
    h = hashlib.sha256()
    st = os.stat(java)
    h.update(f"{java}\0{st.st_size}\0{st.st_mtime_ns}\0{conf_dir}\0".encode())
    for name in sorted(os.listdir(jars)):
        st = os.stat(os.path.join(jars, name))
        h.update(f"{name}\0{st.st_size}\0{st.st_mtime_ns}\0".encode())
    return h.hexdigest()[:20]


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _lock_pid(lock: str) -> int | None:
    try:
        return int(_read_text(lock))
    except ValueError:
        return None


def _take_lock(lock: str) -> bool:
    """Create ``lock`` holding this pid, replacing a lock whose pid is
    dead.  Two processes that both replace one stale lock both record;
    each publishes a whole archive by rename, so the race costs time,
    never a partial file."""
    for _ in range(2):
        try:
            fd = os.open(lock, os.O_WRONLY | os.O_CREAT | os.O_EXCL, 0o644)
        except FileExistsError:
            pid = _lock_pid(lock)
            if pid is not None and _pid_alive(pid):
                return False
            _unlink(lock)
            continue
        with os.fdopen(fd, "w") as fh:
            fh.write(str(os.getpid()))
        return True
    return False


def _sweep(cache: str) -> None:
    """Remove the tmp and log files of recorders whose pid is gone."""
    for name in os.listdir(cache):
        parts = name.split(".")
        if len(parts) == 3 and parts[2] in ("tmp", "log") and parts[1].isdigit():
            if not _pid_alive(int(parts[1])):
                _unlink(os.path.join(cache, name))


def _read_text(path: str) -> str:
    try:
        with open(path) as fh:
            return fh.read()
    except OSError:
        return ""


def _unlink(path: str | None) -> None:
    if path:
        try:
            os.unlink(path)
        except FileNotFoundError:
            pass


def _launch(builder: SparkSession.Builder) -> SparkSession:
    """``builder.getOrCreate()``, starting the driver JVM from the
    class-data-sharing archive when this call launches it."""
    try:
        cds = cds_launch() if SparkContext._gateway is None else None
    except OSError:
        cds = None  # the cache is not writable: launch plainly
    if cds is None:
        return builder.getOrCreate()
    builder = builder.config("spark.driver.defaultJavaOptions", cds.java_options)
    saved = os.environ.get("SPARK_CONF_DIR")
    if cds.conf_dir:
        os.environ["SPARK_CONF_DIR"] = cds.conf_dir
    try:
        spark = builder.getOrCreate()
    except BaseException:
        cds.release()
        raise
    finally:
        if cds.conf_dir:
            if saved is None:
                os.environ.pop("SPARK_CONF_DIR", None)
            else:
                os.environ["SPARK_CONF_DIR"] = saved
    if cds.lock:
        atexit.register(_record_at_exit, cds, SparkContext._gateway.proc, os.getpid())
    return spark


def _record_at_exit(cds: CdsLaunch, proc, pid: int) -> None:
    if os.getpid() != pid:
        return  # a forked child: its parent publishes
    try:
        # stop Spark first: a JVM that exits under a live context breaks
        # the accumulator server's connection, which prints a traceback
        sc = SparkContext._active_spark_context
        if sc is not None:
            sc.stop()
    finally:
        cds.publish(proc)


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
    spark = _launch(builder)
    spark.sparkContext.setLogLevel("WARN")
    return spark
