"""SparkSession factory tuned for the engine.

Local test runs use ``local[$SPARK_GRAFT_CPUS]``; the same config
block is what we would ship to a multi-executor cluster (AQE on,
shuffle partitions sized to the cluster, Arrow enabled for the few
pandas-UDF operators, and Python workers forked from the engine's
``worker_daemon``, which skips per-task re-reads of pyspark.zip).

Every channel between the JVM and Python (Python worker tasks, driver
collects and ``toPandas``, ``createDataFrame`` from local data, and
accumulator updates) runs over a Unix domain socket, not loopback TCP.
Over TCP a Python task often stalls about 40 ms on the socket, the
mark of Nagle's algorithm meeting delayed ACK: a trivial
``mapInPandas`` over 6,000 cached rows took over 70 ms in 25 and 28 of
35 calls over TCP (medians 85 and 89 ms, two sessions) and in 1 and 3
of 35 over the socket (medians 48 and 50 ms; local[3], 4-vCPU host).
perfbench ``s3m`` runs two Python tasks a batch; its executor run time
per batch fell from 0.12-0.13 s to 0.04 s.

The sockets live in one directory per process, made by the first
``get_spark`` (not at import: Python workers import this module too)
and removed at interpreter exit; a stopped session's successor reuses
it. Spark refuses a socket directory longer than 61 characters (a
socket path is the directory plus ``/.<uuid>.sock``, and Java refuses
one longer than 107 bytes), so the directory is made in the first of
``tempfile.gettempdir()`` and ``/tmp`` where it stays within 61 bytes.
Spark's own default, ``java.io.tmpdir``, can be too deep: perfbench
puts it, and ``TMPDIR``, in the checkout. PySpark skips the auth
secret on Unix domain connections, so the directory is ``mkdtemp``'s
mode 0700: only this user can reach the sockets. Where no base fits or
the directory cannot be made, the session keeps TCP, which is correct
and slower.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import SparkSession

# the longest spark.python.unix.domain.socket.dir Spark accepts: a
# longer one fails every Python task at worker start
_SOCKET_DIR_MAX_BYTES = 61
_socket_dir: str | None = None


def make_socket_dir(bases) -> str | None:
    """A new mode-0700 directory in the first of ``bases`` where its
    absolute path is at most 61 bytes long, or None when no base fits
    or can hold it."""
    for base in map(os.path.abspath, bases):
        # mkdtemp names the directory "tmp" plus 8 characters
        probe = os.path.join(base, "tmp" + "x" * 8)
        if len(os.fsencode(probe)) > _SOCKET_DIR_MAX_BYTES:
            continue
        try:
            return tempfile.mkdtemp(dir=base)
        except OSError:
            continue
    return None


def _python_channel_conf() -> dict[str, str]:
    """Spark settings that put every JVM-Python channel on a Unix
    domain socket in this process's socket directory (made on the first
    call, removed at exit), or keep TCP when no directory can be made."""
    global _socket_dir
    if _socket_dir is None or not os.path.isdir(_socket_dir):
        _socket_dir = make_socket_dir((tempfile.gettempdir(), "/tmp"))
        if _socket_dir is not None:
            atexit.register(shutil.rmtree, _socket_dir, ignore_errors=True)
    if _socket_dir is None:
        return {"spark.python.unix.domain.socket.enabled": "false"}
    return {
        "spark.python.unix.domain.socket.enabled": "true",
        "spark.python.unix.domain.socket.dir": _socket_dir,
    }


def python_channel(spark: SparkSession) -> str:
    """"uds" when the session's JVM-Python channels run over Unix
    domain sockets, else "tcp"."""
    conf = spark.sparkContext.getConf()
    enabled = conf.get("spark.python.unix.domain.socket.enabled", "false")
    return "uds" if enabled.lower() == "true" else "tcp"


def get_spark(
    app_name: str = "distributed_stream_processing_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    At 100 TB scale the same settings apply, with shuffle_partitions
    sized ~2-3x total cores and maxPartitionBytes left at 128 MB so
    scan tasks stay memory-resident.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    engine_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # floor for AQE's size-based coalescing (default 1m): exchanges
        # feeding compute-heavy stages (signature folds, candidate
        # joins) are often BYTES-small, and coalescing them to 1-2
        # partitions serializes multi-CPU-second stages; a 64k floor
        # keeps them wide while leaving the exchange AQE-managed (skew
        # split still applies — unlike an explicit repartition). At
        # cluster scale partitions dwarf either threshold; no effect.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # every Python task starts with importlib.invalidate_caches(),
        # and each of the ~14 zipimporters that importing pyspark from
        # pyspark.zip leaves re-reads the 3.5 MB archive's directory
        # (~10 ms each: 150-240 ms of start-up per task). The
        # worker_daemon re-reads only a changed archive: a trivial
        # mapInPandas over 6,000 cached rows fell from 0.37-0.42 s to
        # 0.13-0.20 s per call (local[3], 4-vCPU host)
        .config(
            "spark.python.daemon.module",
            "distributed_stream_processing_spark.worker_daemon",
        )
        # the engine's parent directory, so the daemon above imports
        # from any working directory: without it, a session started
        # outside the repo with no PYTHONPATH fails every Python UDF
        # with "No module named 'distributed_stream_processing_spark'"
        .config("spark.executorEnv.PYTHONPATH", engine_root)
    )
    for k, v in {**_python_channel_conf(), **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def session_key(spark: SparkSession) -> str:
    """Stable identity of the session's SparkContext for memo keys.

    Module-level memos holding JVM handles (DataFrames, Columns) must
    not key by ``id(spark)``: a stop()+recreate in one Python process
    can recycle the id and serve dead py4j references (and even
    without recycling, stale entries never invalidate). applicationId
    is unique per context lifetime (ADVICE r11 on dedup's expression
    memo — this is the shared helper for every such site)."""
    return spark.sparkContext.applicationId


def evict_stale_sessions(memo: dict, current_key: str) -> None:
    """Drop memo entries belonging to DEAD contexts: keys are tuples
    whose first element is a session_key. Without this, a long-lived
    Python process that stops and recreates sessions accumulates one
    set of dead py4j handles per context lifetime."""
    for k in list(memo):
        if k[0] != current_key:
            del memo[k]
