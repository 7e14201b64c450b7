"""SparkSession bootstrap tuned for both local testing and cluster scale.

Design notes for 100 TB posture:
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting, and
  dynamic broadcast selection replace hand-tuned partition counts.
- Arrow on: every Pandas-UDF boundary is vectorized (batch, not row-at-a-time).
- Session timezone pinned to UTC so timestamp semantics match the DuckDB oracle
  and are cluster-invariant.
- shuffle.partitions is only the *initial* value; AQE coalesces down. On a real
  cluster this would be set ~2-3x total cores by the submitter.
- Generated-code cache sized to the working set: Spark keeps compiled
  janino classes in an LRU of ``spark.sql.codegen.cache.maxEntries``
  (default 100), but one doc pipeline + evaluate batch needs 109 distinct
  classes and one corpus filter/dedup/decontaminate batch 215-219, so LRU
  evicted every class before its next use and each steady batch
  recompiled all of them -- once in the Spark driver and again in every
  task. ``CODEGEN_CACHE_ENTRIES`` holds several such working sets. It is
  a static conf: a session passed in by the caller (``tune_for_session``,
  ``__spark_entry__.entry``) keeps Spark's 100-entry default, because it
  cannot be changed once the JVM runs.
- Driver JVM started from a class-data-sharing archive: about 6.5 s of a
  cold session start is spent loading Spark's ~18k classes from jars. A
  JDK dynamic AppCDS archive maps those classes pre-parsed from one file
  instead, so a session comes up ~2 s sooner. The lifecycle:

  * Archives live in ``${XDG_CACHE_HOME:-~/.cache}/spark-graft/cds/``,
    outside the checkout, named by a key hashed from the ``java`` binary
    that spark-class runs and the ``$SPARK_HOME/jars`` listing (name,
    size, mtime). A new JDK or Spark gives a new key.
  * A run that finds no archive for its key records one: the JVM starts
    with ``-XX:+RecordDynamicDumpInfo``, and when the session stops
    (``spark.stop()``, or interpreter exit if nothing stops it)
    ``jcmd <jvm pid> VM.cds dynamic_dump`` has the still-running JVM
    write the classes it loaded to ``<key>.<jvm pid>.tmp`` (~9 s,
    100-250 MB). The temp file is renamed to ``<key>.jsa`` only if jcmd
    exited 0 and the file starts with the dynamic-archive magic: a JVM
    that maps a truncated archive dies with SIGBUS. HotSpot writes the
    header after every region, and on a failed write it deletes the file
    and exits the JVM -- one more reason to dump only when the session is
    done. The dump is asked for, not done at JVM exit: a Python process
    killed before its exit handlers run (a SIGTERM, ``os._exit``) leaves
    a JVM that exits at once on EOF of its stdin and writes nothing, as
    it would without archives. A JDK without ``jcmd`` never records.
  * Recording is not free: the recording JVM sets up ~2 s slower, its
    first batch runs ~2 s slower, and the dump adds ~9 s. A later run
    that finds the archive saves ~4 s, so about three of them repay one
    recording: the archive pays only on a host whose cache dir outlives a
    few runs of one JDK and Spark install. A host that starts every run
    with an empty cache pays the recording each time.
  * A run that finds the archive starts with ``-XX:SharedArchiveFile``.
  * A recording run first cleans the cache dir: a temp whose JVM is dead
    is published if it holds a finished dump of this key and deleted
    otherwise, and archives of other keys are deleted.
  * CDS refuses to dump with a non-empty directory on the classpath, and
    Spark puts its conf dir first on it. So ``SPARK_CONF_DIR`` is pointed
    at an empty directory under the cache dir for the JVM launch -- only
    when it is unset and ``$SPARK_HOME/conf`` is absent or holds only
    ``*.template`` files, which Spark never reads, so no setting changes.
    In every other case (a real conf file, a user conf dir, other
    directories on the launch classpath, an unwritable cache dir) the JVM
    starts exactly as it would without archives.
  * ``-Xlog:cds=off -Xlog:cds+dynamic=off`` ride along in both modes:
    HotSpot prints CDS warnings on stdout, which carries CLI output.

  Like the codegen cache, this is static JVM start-up state. A session
  that is handed in (``tune_for_session``, ``__spark_entry__.entry``) or
  a JVM that is already running keeps its settings: its classes are
  loaded, and a dump would stall a process that is not ours.
  ``jvm_start()`` reports how this process's JVM started, so every run
  record shows whether it had the archive.
"""

from __future__ import annotations

import atexit
import contextlib
import hashlib
import os
import shutil
import subprocess
from typing import NamedTuple

from pyspark import SparkContext
from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# Compiled-class cache capacity. Measured distinct classes per batch:
# doc pipeline + evaluate 109, corpus_prep's four faces 215-219, one
# bench.py cold pass over its 26 headliners 450-452 (its warm pass then
# compiles 0-2). 2000 holds any of these working sets with room to spare.
CODEGEN_CACHE_ENTRIES = 2000

# First bytes of a finished HotSpot dynamic archive (0xf00baba8, LE).
CDS_MAGIC = bytes.fromhex("a8ab0bf0")
CDS_QUIET = ("-Xlog:cds=off", "-Xlog:cds+dynamic=off")
# Keeps what a dynamic dump needs; the dump itself is asked for by jcmd.
CDS_RECORD = "-XX:+RecordDynamicDumpInfo"
# Variables the launcher appends to the JVM classpath: each may name a
# non-empty directory, which CDS refuses to dump.
_CLASSPATH_ENV = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH",
                  "SPARK_PREPEND_CLASSES")
# Upper bound on the wait for jcmd's dump (~9 s on 4 vCPUs).
DUMP_WAIT_S = 300

# How this process's driver JVM started; PySpark runs one JVM per process.
_jvm_start: str | None = None


class JvmStart(NamedTuple):
    """How the next driver JVM launch starts."""
    java_options: tuple[str, ...]  # appended to spark.driver.extraJavaOptions
    env: dict[str, str]            # set for the launch only
    archive: str | None = None     # the archive the JVM maps or records
    record: str | None = None      # jcmd that dumps ``archive`` at stop
    off: str | None = None         # why the JVM starts without archives

    @property
    def state(self) -> str:
        if self.off is not None:
            return f"off: {self.off}"
        return "recording" if self.record else f"archive {self.archive}"


def jvm_start() -> str:
    """How this process's driver JVM started: ``archive <path>``,
    ``recording`` or ``off: <reason>``."""
    return _jvm_start or "off: JVM not started by get_spark"


def driver_java_options(extra=()) -> str:
    return " ".join(("-Duser.timezone=UTC", *extra))


def _off(reason: str) -> JvmStart:
    return JvmStart((), {}, off=reason)


def cds_cache_dir() -> str:
    base = (os.environ.get("XDG_CACHE_HOME")
            or os.path.join(os.path.expanduser("~"), ".cache"))
    return os.path.join(base, "spark-graft", "cds")


def _spark_home() -> str | None:
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    from pyspark.find_spark_home import _find_spark_home

    try:
        return _find_spark_home()
    except SystemExit:
        return None


def _java_binary() -> str | None:
    """The ``java`` that bin/spark-class runs."""
    java_home = os.environ.get("JAVA_HOME")
    return (os.path.join(java_home, "bin", "java") if java_home
            else shutil.which("java"))


def archive_key(java: str, spark_home: str) -> str:
    h = hashlib.sha256()
    java = os.path.realpath(java)
    libjvm = os.path.join(os.path.dirname(os.path.dirname(java)),
                          "lib", "server", "libjvm.so")
    for path in (java, libjvm):
        if os.path.exists(path):
            st = os.stat(path)
            h.update(f"{path}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    with os.scandir(os.path.join(spark_home, "jars")) as entries:
        for e in sorted(entries, key=lambda e: e.name):
            st = e.stat()
            h.update(f"{e.name}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:20]


def has_cds_magic(path: str) -> bool:
    try:
        with open(path, "rb") as f:
            return f.read(len(CDS_MAGIC)) == CDS_MAGIC
    except OSError:
        return False


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _sweep(cache: str, key: str) -> None:
    """Publish a dead JVM's finished dump of ``key``; delete every other
    temp whose JVM is dead, and the archives of other keys."""
    for name in os.listdir(cache):
        path = os.path.join(cache, name)
        stem, _, ext = name.rpartition(".")
        if ext == "jsa" and stem != key:
            os.remove(path)
        elif ext == "tmp":
            k, _, pid = stem.rpartition(".")
            if pid.isdigit() and not _alive(int(pid)):
                if k == key and has_cds_magic(path):
                    os.replace(path, os.path.join(cache, key + ".jsa"))
                else:
                    os.remove(path)


def plan_jvm_start() -> JvmStart:
    """Decide how a driver JVM about to launch starts: from the archive of
    its key, recording that archive, or exactly as without archives."""
    if "SPARK_CONF_DIR" in os.environ:
        return _off("SPARK_CONF_DIR is set")
    for var in _CLASSPATH_ENV:
        if os.environ.get(var):
            return _off(f"{var} is set")
    spark_home, java = _spark_home(), _java_binary()
    if not spark_home or not java or not os.path.isfile(java):
        return _off("no SPARK_HOME or java binary")
    conf = os.path.join(spark_home, "conf")
    if os.path.exists(conf):
        try:
            real = [n for n in os.listdir(conf) if not n.endswith(".template")]
        except OSError as e:
            return _off(f"{conf} unreadable: {e}")
        if real:
            return _off(f"{conf} holds {sorted(real)[0]}")
    cache = cds_cache_dir()
    if any(c.isspace() or c in "\"'\\" for c in cache):
        return _off(f"cache dir {cache!r} needs quoting")
    empty_conf = os.path.join(cache, "conf")
    try:
        os.makedirs(empty_conf, exist_ok=True)
        if not os.access(cache, os.W_OK | os.X_OK):
            return _off(f"cache dir {cache} is not writable")
        if os.listdir(empty_conf):
            return _off(f"{empty_conf} is not empty")
        key = archive_key(java, spark_home)
        archive = os.path.join(cache, key + ".jsa")
        if not has_cds_magic(archive):
            _sweep(cache, key)
    except OSError as e:
        return _off(f"cache dir unusable: {e}")
    env = {"SPARK_CONF_DIR": empty_conf}
    if has_cds_magic(archive):
        return JvmStart((f"-XX:SharedArchiveFile={archive}", *CDS_QUIET),
                        env, archive)
    jcmd = os.path.join(os.path.dirname(os.path.realpath(java)), "jcmd")
    if not os.access(jcmd, os.X_OK):
        return _off(f"no archive and no {jcmd} to record one")
    return JvmStart((CDS_RECORD, *CDS_QUIET), env, archive, jcmd)


def publish(tmp: str, archive: str, returncode: int | None) -> bool:
    """Rename a dump to its archive name if the dumping command exited 0
    and the dump is complete; delete it otherwise."""
    if returncode == 0 and has_cds_magic(tmp):
        os.replace(tmp, archive)
        return True
    with contextlib.suppress(OSError):
        os.remove(tmp)
    return False


def record_archive(jcmd: str, pid: int, archive: str) -> bool:
    """Have JVM ``pid`` dump the classes it loaded to a temp named after
    it, and publish the dump as ``archive``."""
    key = os.path.basename(archive)[:-len(".jsa")]
    tmp = os.path.join(os.path.dirname(archive), f"{key}.{pid}.tmp")
    try:
        rc = subprocess.run(
            [jcmd, str(pid), "VM.cds", "dynamic_dump", tmp],
            stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL,
            stderr=subprocess.DEVNULL, timeout=DUMP_WAIT_S).returncode
    except (OSError, subprocess.TimeoutExpired):
        rc = None
    return publish(tmp, archive, rc)


def _record_before_stop(sc: SparkContext, jcmd: str, archive: str) -> None:
    """Record ``archive`` once, while the JVM still runs: when ``sc``
    stops (a caller that stops the session and then ends the JVM), or at
    interpreter exit if it never does."""
    stop = sc.stop
    done = []

    def record() -> None:
        proc = getattr(SparkContext._gateway, "proc", None)
        if done or proc is None or proc.poll() is not None:
            return
        done.append(True)
        # the JVM reports the dump on System.out, which is the CLI's stdout
        system = SparkContext._jvm.java.lang.System
        out = system.out
        system.setOut(system.err)
        try:
            record_archive(jcmd, proc.pid, archive)
        finally:
            system.setOut(out)

    def record_then_stop() -> None:
        try:
            record()
        finally:
            stop()

    sc.stop = record_then_stop
    atexit.register(record)


def _maps_file(pid: int, path: str) -> bool | None:
    try:
        with open(f"/proc/{pid}/maps") as f:
            return any(path in line for line in f)
    except OSError:
        return None


@contextlib.contextmanager
def _launch_env(env: dict[str, str]):
    saved = {k: os.environ.get(k) for k in env}
    os.environ.update(env)
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v


def get_spark(app_name: str = "multiagent-form-schema-etl-spark",
              cpus: str | None = None) -> SparkSession:
    """Build (or fetch) the session with scale-oriented defaults.

    Any existing active session is reused (configs are then whatever it was
    built with) -- the driver may pass its own session to ``entry``.
    The Spark UI stays off: per-stage shuffle, spill and memory figures
    are read from the status store, which Spark keeps without the UI.
    A call that launches the driver JVM starts it from the class-data
    archive, or records it (module docstring).
    """
    global _jvm_start
    # When no real protobuf distribution exists, expose the repo's
    # clean-room wire-format shim (vendor/pbshim) on PYTHONPATH *before*
    # the JVM launches: transformWithState's driver-side schema worker and
    # the executor Python workers inherit the JVM's environment, and
    # addPyFile alone does not reach the driver-side worker. A genuine
    # installation always wins -- the shim path is only added when the
    # import fails here.
    try:
        import google.protobuf  # noqa: F401
    except ImportError:
        vendor = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                              "vendor", "pbshim")
        pp = os.environ.get("PYTHONPATH", "")
        if vendor not in pp.split(os.pathsep):
            os.environ["PYTHONPATH"] = (pp + os.pathsep + vendor
                                        if pp else vendor)
    cpus = cpus or DEFAULT_CPUS
    launch = (SparkContext._gateway is None
              and "PYSPARK_GATEWAY_PORT" not in os.environ)
    plan = plan_jvm_start() if launch else _off("JVM already running")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions",
                driver_java_options(plan.java_options))
        .config("spark.executor.extraJavaOptions", "-Duser.timezone=UTC")
    )
    with _launch_env(plan.env):
        spark = builder.getOrCreate()
    if launch:
        _jvm_start = plan.state
        if plan.record:
            _record_before_stop(spark.sparkContext, plan.record, plan.archive)
        elif (plan.archive and _maps_file(SparkContext._gateway.proc.pid,
                                          plan.archive) is False):
            _jvm_start = f"off: archive {plan.archive} not mapped by the JVM"
    return spark


def tune_for_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable conf to an externally provided session (the
    driver hands us one in ``entry``); static confs are left alone."""
    for k, v in (
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.adaptive.coalescePartitions.enabled", "true"),
        ("spark.sql.adaptive.skewJoin.enabled", "true"),
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
    ):
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static/conf-locked in this deployment; harmless
    return spark
