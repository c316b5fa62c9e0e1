"""SparkSession factory tuned for both local testing and cluster scale.

Local mode is a single JVM (``local[N]``); the same configs translate to a
real cluster: AQE handles runtime re-planning (partition coalescing, skew
joins, dynamic broadcast), and the shuffle-partition count is sized to the
available parallelism rather than Spark's legacy default of 200.

Cold start. Importing this module arms the driver JVM that PySpark's next
gateway launch starts, so that it loads Spark's classes from a JDK AppCDS
(class-data-sharing) archive instead of parsing and verifying them from
the jars: on 4 cores, imports, JVM launch and the first session take
~4-5 s instead of ~8-9 s.
Arming edits two variables that ``spark-submit`` reads for a client-mode
driver: it appends to ``SPARK_SUBMIT_OPTS`` and points ``SPARK_CONF_DIR``
at an empty directory (CDS refuses a non-empty directory on the class
path, and ``$SPARK_HOME/conf`` holds only ``*.template`` files, which
Spark never reads). It happens at import, not in ``get_spark``, because a
caller may start its own context (``SparkContext._ensure_initialized``)
between importing the package and asking for a session.

The archive lives in ``$XDG_CACHE_HOME/my_polars_ai_spark`` (or
``~/.cache/my_polars_ai_spark``), keyed on the java binary and its
``release`` file, the listing of ``$SPARK_HOME/jars`` and the empty conf
directory. When it exists the JVM maps it (``-XX:SharedArchiveFile``;
under the default ``-Xshare:auto`` an unusable archive is a normal start).
When it does not, the first process to take ``<key>.lock`` trains it:
its JVM runs with ``-XX:ArchiveClassesAtExit``, and at interpreter exit
an ``atexit`` hook closes the gateway's stdin, waits while the JVM dumps
(~15-30 s, once per machine), keeps the archive only if the JVM exited
cleanly, and deletes every older archive. While a live process holds the
lock, others start normally. Nothing is armed when a gateway already
exists, under Spark Connect, when ``SPARK_SUBMIT_OPTS`` already names a
CDS flag (``SPARK_SUBMIT_OPTS=-Xshare:off`` opts out), when
``SPARK_CONF_DIR``, ``HADOOP_CONF_DIR`` or ``YARN_CONF_DIR`` is set (each
can put a non-empty directory on the class path), when
``$SPARK_HOME/conf`` holds a real file, when the JDK predates dynamic
archives (13), or when the cache path has whitespace or quotes or cannot
be written. Child processes inherit the armed variables and skip arming
themselves: they map the archive too, or, while the parent trains, their
JVMs also dump at exit into the parent's temporary file, which the
parent's own later dump replaces.
"""

from __future__ import annotations

import atexit
import contextlib
import hashlib
import os
import re
import shutil
import subprocess

import pyspark
from pyspark import SparkContext
from pyspark.sql import SparkSession

# Configs that are correctness-relevant (timezone pinned to UTC so results
# compare bit-for-bit against the DuckDB oracle, which is UTC-naive) or
# scale-relevant (AQE family). They are safe on any cluster size.
DEFAULT_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Parquet scans: vectorized reader + pushdown are on by default; keep
    # explicit so a misconfigured cluster can't silently disable them.
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.enableVectorizedReader": "true",
    # Broadcast policy: the planner broadcasts a join side whose estimated
    # size is under the static threshold, and AQE converts a shuffled join
    # at runtime once a stage's measured output is under its own. Operators
    # leave the choice to them; an F.broadcast hint stays only where
    # removing it measurably changes the op's plan.
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "64m",
    # Runtime filters (spark.sql.optimizer.runtime.bloomFilter.enabled /
    # runtimeFilter.semiJoinReduction.enabled) are deliberately NOT set:
    # measured at sf0.1 local[32] they ballooned the 28-query bench from
    # ~7 min to >16 min (bloom build aggregates injected into joins whose
    # sides are already tiny). At real fact-fact scale enable them per
    # job; the hand-built pattern is operators/extras.py
    # bloom_filter_semi_join.
    # Quiet the UI for headless runs.
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
}


def get_spark(
    app_name: str = "my_polars_ai_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    when no cluster master is configured. ``shuffle_partitions`` defaults
    to the local core count — on a real cluster leave it unset and let AQE
    coalesce from a higher initial value.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = SparkSession.builder.appName(app_name).master(master)
    confs = dict(DEFAULT_CONFS)
    confs["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    confs.setdefault("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    if extra_confs:
        confs.update(extra_confs)
    for k, v in confs.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# CDS logs to stdout, one warning per class a dump skips; keep stdout for
# the program and send CDS errors to stderr.
_CDS_LOG = "-Xlog:cds*=off -Xlog:cds*=error:stderr"
_CDS_FLAGS = ("-Xshare", "SharedArchiveFile", "ArchiveClassesAtExit", "RecordDynamicDumpInfo")
_UNARMED_IF_SET = ("PYSPARK_GATEWAY_PORT", "SPARK_REMOTE", "SPARK_CONF_DIR", "HADOOP_CONF_DIR", "YARN_CONF_DIR")
# A dump takes ~15-30 s; a JVM that hangs must not hold the exit forever.
_DUMP_TIMEOUT_S = 600
# The values arming replaced (None: unset), so a caller can rebuild the
# environment the process started with.
_ENV_BEFORE_ARMING: dict[str, str | None] = {}


def _cds_key(env) -> tuple[str, str] | None:
    """``(cache_dir, key)`` of the archive for this JDK and Spark install,
    or None when no archive can serve it."""
    java_home = env.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java", path=env.get("PATH"))
    spark_home = env.get("SPARK_HOME") or os.path.dirname(pyspark.__file__)
    jars, conf = os.path.join(spark_home, "jars"), os.path.join(spark_home, "conf")
    cache = os.path.join(env.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache"), "my_polars_ai_spark")
    empty_conf = os.path.join(cache, "conf")
    if java is None or re.search(r"[\s'\"\\]", cache):  # spark-submit splits SPARK_SUBMIT_OPTS on whitespace
        return None
    try:
        java = os.path.realpath(java)
        with open(os.path.join(os.path.dirname(os.path.dirname(java)), "release"), "rb") as f:
            release = f.read()
        version = re.search(rb'^JAVA_VERSION="(\d+)', release, re.M)
        if version is None or int(version.group(1)) < 13:
            return None
        if any(not n.endswith(".template") for n in (os.listdir(conf) if os.path.isdir(conf) else ())):
            return None
        h = hashlib.sha256(java.encode() + b"\0" + release)
        for e in sorted(os.scandir(jars), key=lambda e: e.name):
            st = e.stat()
            h.update(f"{e.name}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
        h.update(empty_conf.encode())
        os.makedirs(empty_conf, exist_ok=True)
    except OSError:
        return None
    if os.listdir(empty_conf) or not os.access(cache, os.W_OK):
        return None
    return cache, h.hexdigest()[:16]


def _dead(pid: str) -> bool:
    """True unless ``pid`` names a live process."""
    if not pid.isdigit():
        return True
    try:
        os.kill(int(pid), 0)
    except ProcessLookupError:
        return True
    except PermissionError:
        pass
    return False


def _lock_is_stale(lock: str) -> bool:
    try:
        with open(lock) as f:
            return _dead(f.read().strip())
    except FileNotFoundError:
        return False


def _take_lock(lock: str) -> bool:
    """Create ``lock`` holding this pid; a lock whose pid is dead is
    replaced. False while a live process holds it."""
    for _ in range(2):
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644)
        except FileExistsError:
            if not _lock_is_stale(lock):
                return False
            with contextlib.suppress(FileNotFoundError):
                os.remove(lock)
            continue
        os.write(fd, str(os.getpid()).encode())
        os.close(fd)
        return True
    return False


def _finish_training(tmp: str, archive: str, lock: str) -> None:
    """atexit: end the training JVM so it dumps, then keep its archive."""
    try:
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is None:
            return
        # Stop the context first: its accumulator server would otherwise
        # print an EOFError traceback when the JVM's connection drops.
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
        proc.stdin.close()
        try:
            code = proc.wait(timeout=_DUMP_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            return
        if code != 0 or not os.path.isfile(tmp):
            return
        os.replace(tmp, archive)
        cache = os.path.dirname(archive)
        for name in os.listdir(cache):
            path = os.path.join(cache, name)
            stale = (
                (name.endswith(".jsa") and path != archive)
                or (name.endswith(".tmp") and _dead(name.split(".")[-2]))
                or (name.endswith(".lock") and path != lock and _lock_is_stale(path))
            )
            if stale:
                with contextlib.suppress(FileNotFoundError):
                    os.remove(path)
    finally:
        for path in (tmp, lock):
            with contextlib.suppress(FileNotFoundError):
                os.remove(path)


def _arm_driver_jvm() -> None:
    """Point the next driver JVM at the CDS archive, or train it (module
    docstring). Leaves the environment alone when any precondition fails."""
    env = os.environ
    opts = env.get("SPARK_SUBMIT_OPTS", "")
    if (
        SparkContext._gateway is not None
        or any(v in env for v in _UNARMED_IF_SET)
        or any(flag in opts for flag in _CDS_FLAGS)
    ):
        return
    found = _cds_key(env)
    if found is None:
        return
    cache, key = found
    archive, lock = os.path.join(cache, f"{key}.jsa"), os.path.join(cache, f"{key}.lock")
    if os.path.isfile(archive):
        flag = f"-XX:SharedArchiveFile={archive}"
    elif _take_lock(lock):
        tmp = os.path.join(cache, f"{key}.{os.getpid()}.tmp")
        flag = f"-XX:ArchiveClassesAtExit={tmp}"
        atexit.register(_finish_training, tmp, archive, lock)
    else:
        return
    _ENV_BEFORE_ARMING.update(SPARK_SUBMIT_OPTS=env.get("SPARK_SUBMIT_OPTS"), SPARK_CONF_DIR=None)
    env["SPARK_SUBMIT_OPTS"] = " ".join(filter(None, (opts, _CDS_LOG, flag)))
    env["SPARK_CONF_DIR"] = os.path.join(cache, "conf")


_arm_driver_jvm()
