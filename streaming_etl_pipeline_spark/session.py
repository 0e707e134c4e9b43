"""SparkSession factory and runtime tuning.

Mirrors the reference's session posture (AQE on, snappy parquet, schema
inference off — reference ``src/consumers/spark_streaming.py:36-45`` and
``src/transformations/bronze_to_silver.py:236-243``) while adding the
settings a DuckDB-differential harness needs (UTC session timezone,
Arrow-accelerated collection). The reference's session-wide dynamic
partition overwrite is left out: an overwrite here replaces its whole
target, and the one writer that replaces single partitions says so on its
own writer (``sources.io.write_partitioned``).

Scale note: in local mode ``spark.driver.memory`` is the only memory knob;
on a real cluster the same configs apply per-executor and AQE coalesces
shuffle partitions at runtime, so ``shuffle.partitions`` here is an upper
bound, not a hand-tuned constant.

Cold start: when ``build_session`` is the call that launches the driver
JVM, the JVM maps a dynamic class-data-sharing (AppCDS) archive of the
classes a first Spark job loads, instead of loading and verifying them
from the jars. On 4 cores this cut the cold ``build_session`` from
2.3-2.8 s to 1.2-1.5 s and a first 1k-event job from 1.5-1.6 s to
0.9-1.0 s; that job's code generation is 0.1 s either way.

- The archive is ``$XDG_CACHE_HOME/spark-graft/cds/<key>.jsa`` (default
  ``~/.cache/...``), about 145 MB, shared by every checkout of the
  same user. ``<key>`` hashes the ``java`` binary, its ``libjvm.so`` and
  the names, sizes and mtimes of ``$SPARK_HOME/jars``, so an archive
  from another JDK or Spark is never tried. The empty ``conf/`` beside
  it stands in for Spark's conf dir while a JVM is launched: the JDK
  refuses an archive whose classpath holds a non-empty directory.
- The first session that finds no archive builds it once, before its
  own JVM: a throwaway JVM runs one small job and writes the archive
  when it exits (``build_session`` then takes about 12-15 s on 4 cores
  instead of 2-3 s). The archive is moved into place only if that JVM
  exited cleanly, since a truncated archive aborts the JVM that maps
  it. The build holds ``<key>.lock``; a session that finds it held
  starts without the archive rather than wait. Promoting an archive
  deletes other keys' archives.
- The JVM starts without the archive when it is already running or
  ``PYSPARK_GATEWAY_PORT`` is set; when the caller sets
  ``spark.driver.defaultJavaOptions`` (the opt-out) or changes the
  classpath (``spark.driver.extraClassPath``, ``_OWN_CLASSPATH_ENV``);
  when Spark's conf dir holds anything but ``*.template`` files; when
  the cache dir is not writable; or when the build fails.
- To drop the archive, delete ``$XDG_CACHE_HOME/spark-graft/cds``; the
  next session builds it again.

Collector: the JVMs ``build_session`` launches (the archiving one too)
also get ``_GC_FLAGS``, with or without an archive. G1 grows eden towards
60 % of the heap, so all of it is touched, and adds 82 MB of its own;
the parallel collector's young generation is a fixed third of the heap,
its old generation is touched only as far as it fills, and its card
table takes 53 MB. In a 6 s ``ingest`` benchmark run (1 GB heap, 4
cores) the driver JVM peaked at 0.99 GB instead of 1.43 GB; a stream
that fills the old generation touches the whole heap either way. The
metaspace floor spares every setup two 100-150 ms full collections. A
caller-set ``spark.driver.defaultJavaOptions`` or a conf dir with real
files gets neither flag; a collector the caller selects (``-XX:+Use..GC``
in ``spark.driver.extraJavaOptions`` or ``_JAVA_OPTIONS_ENV``) is kept,
since the JVM refuses two.

Local file system: this Spark install has no ``libhadoop``, so Hadoop's
``RawLocalFileSystem`` forks ``chmod`` for every file and directory it
creates and ``readlink`` for every ``getFileLinkStatus``, two per
FileContext rename: a 6 s ``ingest`` benchmark run (4 cores) ran
``chmod`` 1,114 times and ``readlink`` 1,725 times. The JVM
``build_session`` launches gives ``file:`` the classes of
``NioLocalFileSystem.java`` beside this module, which do both through
``java.nio``, in process; the same run then ran neither from the JVM.

- Both Hadoop APIs get it: ``fs.file.impl`` (FileSystem: a checksummed
  ``LocalFileSystem`` with Hive's ``ProxyLocalFileSystem`` rule, which
  ``file:`` resolves to otherwise: a rename onto an existing file
  returns false) and ``fs.AbstractFileSystem.file.impl`` (FileContext,
  which streaming checkpoints use: a ``ChecksumFs`` over a
  ``DelegateToFileSystem``, so a rename without overwrite still fails
  on an existing file). ``.crc`` files are written as before. Modes
  ``java.nio`` cannot express (the sticky bit) still fork ``chmod``.
- The first session compiles the classes with the ``javac`` beside
  ``java`` (about 1.7-2.3 s on 4 cores, once) into
  ``$XDG_CACHE_HOME/spark-graft/localfs/<key>-<source hash>.jar``,
  ``<key>`` being the archive's. The jar is appended to the launch's
  classpath through ``SPARK_DIST_CLASSPATH``, set only while the JVM is
  launched, so the archive's classpath stays a prefix and the archive
  maps; the archiving JVM runs without it.
- The JVM starts with the stock file system when it is already running
  or Spark's conf dir holds real files (as above); when the caller sets
  either Hadoop key (``spark.hadoop.`` prefixed) or owns the classpath
  (``_OWN_CLASSPATH_ENV``); or when there is no ``javac`` or the compile
  fails, which is logged at INFO and leaves no jar. A caller-set
  ``spark.driver.defaultJavaOptions`` does not opt out of it.
- To drop the jar, delete ``$XDG_CACHE_HOME/spark-graft/localfs``.
"""

from __future__ import annotations

import contextlib
import fcntl
import hashlib
import logging
import os
import re
import shutil
import subprocess
import tempfile
import zipfile

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

#: Runtime-settable SQL configs applied to *any* session (including one the
#: test driver owns). Keep every entry runtime-mutable — static configs
#: (e.g. spark.driver.memory) belong in build_session only.
RUNTIME_CONF: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.compression.codec": "snappy",
    "spark.sql.streaming.schemaInference": "false",
    # The test corpus stores TIMESTAMP(NANOS) which Spark has no native
    # type for; read as long and convert in sources.io.read_table.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # TIMESTAMP(MICROS, isAdjustedToUTC=false) would read as TIMESTAMP_NTZ,
    # which unix_micros/window reject; in the UTC session it is the same
    # instant (read_table casts any NTZ column that slips through).
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
}


#: Generated classes the session keeps compiled (Spark's default is 100).
#: One batch ETL iteration generates about 150 classes and the 18 bench
#: queries about 250 more, so at 100 every warm ETL iteration recompiled
#: about 140 of its own (1.1-1.6 s of Janino); at this size about 6.
CODEGEN_CACHE_ENTRIES = 1000


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


#: Last-applied shuffle-partition count per session: tune() runs per
#: corpus-query build, and its ~14 py4j round-trips cost ~9 ms a call.
_TUNED: dict[tuple, int] = {}


def tune(spark: SparkSession, shuffle_partitions: int | None = None) -> SparkSession:
    """Apply runtime configs to an existing session (driver-owned or ours)."""
    n = shuffle_partitions or default_parallelism()
    key = (spark.sparkContext.applicationId, id(spark))  # survives id() reuse
    if _TUNED.get(key) == n:
        return spark
    if len(_TUNED) > 64:
        _TUNED.clear()
    _TUNED[key] = n
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # not runtime-settable here; only timeZone matters, and it is
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    return spark


_log = logging.getLogger(__name__)

#: With any of these set, or ``spark.driver.extraClassPath``, the
#: driver's classpath is not the one the archive was dumped for, and
#: ``file:`` keeps the stock file system (a Hadoop conf dir may set it).
#: The engine's own jar, set in ``SPARK_DIST_CLASSPATH`` only while the
#: JVM is launched and only after these are checked, is allowed: the
#: launcher appends that variable after Spark's jars, so the archive's
#: dump classpath stays a prefix of the JVM's and the archive maps.
_OWN_CLASSPATH_ENV = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")
#: Where else a caller sets the driver JVM's options.
_JAVA_OPTIONS_ENV = ("JAVA_TOOL_OPTIONS", "JDK_JAVA_OPTIONS", "_JAVA_OPTIONS", "PYSPARK_SUBMIT_ARGS")
_SELECTS_GC = re.compile(r"-XX:\+Use\w*GC\b")
_GC_FLAGS = ("-XX:+UseParallelGC", "-XX:MetaspaceSize=128m")
#: Without these a dump prints hundreds of ``[cds]`` warnings (signed
#: jars are skipped) on the JVM's stdout, which is the Python process's.
_CDS_QUIET = "-Xlog:cds=off -Xlog:cds+dynamic=off"
#: Seconds to wait for the archiving JVM to write its archive and exit.
_DUMP_TIMEOUT_S = 300
#: The in-process local file system: its source, compiled into a jar
#: under ``_cache_dir()``, and the Hadoop settings that give it ``file:``.
_LOCAL_FS_SOURCE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "NioLocalFileSystem.java")
_LOCAL_FS_CONF = {
    "spark.hadoop.fs.file.impl": "sparkgraft.NioLocalFileSystem",
    "spark.hadoop.fs.AbstractFileSystem.file.impl": "sparkgraft.NioLocalFileSystem$Fs",
}
#: Seconds to wait for ``javac``.
_COMPILE_TIMEOUT_S = 120


def _cache_dir() -> str:
    """Where the archives and the jar live: shared by every checkout of
    this user."""
    cache = os.environ.get("XDG_CACHE_HOME") or os.path.join(
        os.path.expanduser("~"), ".cache"
    )
    return os.path.join(cache, "spark-graft")


def _archive_key(spark_home: str) -> str:
    """Hash of the JVM and the jar set an archive is valid for (names,
    sizes and mtimes), so an archive from another JDK or Spark is never
    handed to the JVM."""
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    java = os.path.realpath(java or "java")
    libjvm = os.path.join(os.path.dirname(os.path.dirname(java)), "lib", "server", "libjvm.so")
    jars = os.path.join(spark_home, "jars")
    paths = [java, libjvm] + [os.path.join(jars, n) for n in sorted(os.listdir(jars))]
    h = hashlib.sha256()
    for path in paths:
        if os.path.exists(path):
            st = os.stat(path)
            h.update(f"{path}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:16]


def _stock_conf_dir(spark_home: str) -> bool:
    """True when Spark's conf dir holds nothing but ``*.template`` files,
    so an empty directory in its place changes no setting. The JDK will
    not dump or map an archive whose classpath has a non-empty directory
    on it, and the conf dir is on the driver's classpath."""
    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    try:
        return all(name.endswith(".template") for name in os.listdir(conf))
    except FileNotFoundError:
        return True
    except OSError:  # unreadable: it may set anything
        return False


@contextlib.contextmanager
def _launch_env(env: dict[str, str]):
    """Set ``env`` in the environment while a JVM is launched."""
    old = {k: os.environ.get(k) for k in env}
    os.environ.update(env)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v


def _archive_job(spark: SparkSession) -> None:
    """The archiving session's work: plan, generate code, shuffle and
    collect, so the classes every session needs first are archived."""
    (
        spark.range(0, 20000, 1, 4)
        .selectExpr("id % 8 AS k", "CAST(id AS DOUBLE) AS v", "current_timestamp() AS t")
        .groupBy("k")
        .agg(F.count("*"), F.avg("v"), F.max("t"))
        .orderBy("k")
        .collect()
    )


def _dump_archive(builder_conf: dict[str, str], flags: str, part: str, conf_dir: str) -> bool:
    """Launch a throwaway JVM (with ``flags``) that writes its loaded
    classes to ``part`` when it exits, run one small job on it, stop it
    and wait for its exit. True when the JVM exited cleanly after the
    job; if the job raises, the JVM is killed (writing nothing) and the
    error raised."""
    from pyspark import SparkContext

    conf = dict(builder_conf)
    conf["spark.app.name"] += "-cds"
    conf["spark.eventLog.enabled"] = "false"
    conf["spark.driver.defaultJavaOptions"] = (
        f"{flags} -XX:ArchiveClassesAtExit={part} {_CDS_QUIET}"
    )
    spark = None
    ok = False
    try:
        with _launch_env({"SPARK_CONF_DIR": conf_dir}):
            spark = SparkSession.builder.config(map=conf).getOrCreate()
        _archive_job(spark)
        ok = True
    finally:
        gateway = SparkContext._gateway
        if spark is not None:
            spark.stop()
        elif SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None and ok:
            proc.stdin.close()  # the JVM exits, writing the archive
            try:
                ok = proc.wait(timeout=_DUMP_TIMEOUT_S) == 0
            except subprocess.TimeoutExpired:
                ok = False
        if proc is not None and proc.poll() is None:
            proc.kill()  # exits without writing
            proc.wait()
    return ok and os.path.isfile(part) and os.path.getsize(part) > 0


def _class_archive(
    builder_conf: dict[str, str], flags: str, spark_home: str
) -> tuple[str, str] | None:
    """The archive and conf dir the next JVM launch should use, building
    the archive first (on a JVM with ``flags``) when none exists for
    this JVM and jar set; None when the JVM should start without one."""
    if "spark.driver.extraClassPath" in builder_conf or any(
        os.environ.get(v) for v in _OWN_CLASSPATH_ENV
    ):
        return None
    try:
        root = os.path.join(_cache_dir(), "cds")
        conf_dir = os.path.join(root, "conf")
        os.makedirs(conf_dir, exist_ok=True)
        if os.listdir(conf_dir) or not os.access(root, os.W_OK):
            return None
        key = _archive_key(spark_home)
    except OSError:
        return None
    archive = os.path.join(root, key + ".jsa")
    if os.path.exists(archive):
        return archive, conf_dir
    part = archive + ".part"
    try:
        lock = open(os.path.join(root, key + ".lock"), "a")
    except OSError:
        return None
    with lock:
        try:
            fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except OSError:
            return None  # another process is building it: do not wait
        if os.path.exists(archive):
            return archive, conf_dir
        # a truncated archive aborts the JVM that maps it, so only an
        # archive whose JVM exited cleanly is moved into place
        try:
            built = _dump_archive(builder_conf, flags, part, conf_dir)
            if built:
                os.replace(part, archive)
        except Exception:  # any failure of the build: start without it
            _log.info("class-data-sharing archive not built", exc_info=True)
            built = False
        if not built:
            with contextlib.suppress(OSError):
                os.remove(part)
            return None
    with contextlib.suppress(OSError):  # other JDKs' or Sparks' archives
        for other in os.listdir(root):
            if other.endswith((".jsa", ".jsa.part")) and not other.startswith(key):
                os.remove(os.path.join(root, other))
    return archive, conf_dir


def _javac() -> str | None:
    """The JDK compiler beside the ``java`` the driver runs, if any: a
    ``javac`` from another JDK could write classes that ``java`` rejects."""
    java_home = os.environ.get("JAVA_HOME")
    if java_home:
        java = os.path.join(java_home, "bin", "java")
    else:
        java = os.path.realpath(shutil.which("java") or "java")
    javac = os.path.join(os.path.dirname(java), "javac")
    return javac if os.access(javac, os.X_OK) else None


def _local_fs_jar(spark_home: str) -> str | None:
    """The jar of the in-process local file system for this JVM, jar set
    and source, compiled first when there is none; None when it cannot
    be built. The jar is moved into place whole or not at all."""
    try:
        with open(_LOCAL_FS_SOURCE, "rb") as fh:
            digest = hashlib.sha256(fh.read()).hexdigest()[:16]
        root = os.path.join(_cache_dir(), "localfs")
        jar = os.path.join(root, f"{_archive_key(spark_home)}-{digest}.jar")
        if os.path.exists(jar):
            return jar
        javac = _javac()
        if javac is None:
            _log.info("in-process local file system not built: no javac beside java")
            return None
        os.makedirs(root, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=root) as tmp:
            classes = os.path.join(tmp, "classes")
            subprocess.run(
                [javac, "-nowarn", "-cp", os.path.join(spark_home, "jars", "*"),
                 "-d", classes, _LOCAL_FS_SOURCE],
                check=True, capture_output=True, text=True, timeout=_COMPILE_TIMEOUT_S,
            )
            part = os.path.join(tmp, "localfs.jar")
            with zipfile.ZipFile(part, "w") as zf:
                for name in sorted(os.listdir(os.path.join(classes, "sparkgraft"))):
                    zf.write(os.path.join(classes, "sparkgraft", name), "sparkgraft/" + name)
            os.replace(part, jar)
        return jar
    except (OSError, subprocess.SubprocessError) as err:
        _log.info(
            "in-process local file system not built: %s", getattr(err, "stderr", None) or err,
            exc_info=True,
        )
        return None


def _java_options(builder_conf: dict[str, str], spark_home: str) -> tuple[str, str | None]:
    """The ``spark.driver.defaultJavaOptions`` and the conf dir for the
    JVM this call launches: the collector flags and, when there is one,
    the archive."""
    chosen = " ".join(
        [builder_conf.get("spark.driver.extraJavaOptions", "")]
        + [os.environ.get(v, "") for v in _JAVA_OPTIONS_ENV]
    )
    parallel, metaspace = _GC_FLAGS
    flags = metaspace if _SELECTS_GC.search(chosen) else f"{parallel} {metaspace}"
    archive, conf_dir = _class_archive(builder_conf, flags, spark_home) or (None, None)
    if archive is not None:
        flags += f" -XX:SharedArchiveFile={archive} -Xshare:auto {_CDS_QUIET}"
    return flags, conf_dir


def _launch(builder_conf: dict[str, str]) -> tuple[dict[str, str], dict[str, str]]:
    """The conf entries and the environment for the JVM this call
    launches: the JVM's options unless the caller owns them, and the
    in-process local file system unless the caller owns ``file:`` or the
    classpath. Both empty when the call launches no JVM or Spark's conf
    dir may set anything (see the module docstring)."""
    from pyspark import SparkContext
    from pyspark.find_spark_home import _find_spark_home

    if (
        SparkContext._gateway is not None
        or os.environ.get("PYSPARK_GATEWAY_PORT")
        or not _stock_conf_dir(spark_home := _find_spark_home())
    ):
        return {}, {}
    conf: dict[str, str] = {}
    env: dict[str, str] = {}
    if "spark.driver.defaultJavaOptions" not in builder_conf:
        options, conf_dir = _java_options(builder_conf, spark_home)
        conf["spark.driver.defaultJavaOptions"] = options
        if conf_dir is not None:
            env["SPARK_CONF_DIR"] = conf_dir
    if not _LOCAL_FS_CONF.keys() & builder_conf.keys() and not any(
        os.environ.get(v) for v in _OWN_CLASSPATH_ENV
    ):
        jar = _local_fs_jar(spark_home)
        if jar is not None:
            conf.update(_LOCAL_FS_CONF)
            env["SPARK_DIST_CLASSPATH"] = jar
    return conf, env


def build_session(
    app_name: str = "streaming-etl-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or get) a tuned SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` so tests and bench
    share the driver's CPU budget. When this call launches the driver
    JVM, the JVM runs the parallel collector, maps the class-data-
    sharing archive (built first if none exists yet) and gives ``file:``
    a local file system that forks no process (see the module
    docstring).
    """
    # NumPy ≥1.22 madvise(MADV_HUGEPAGE)s every large allocation; on a
    # fragmented THP-"madvise" host an 80 MB array filled at 8 MB/s
    # (10 s) against 0.04 s without it. Off by default for the driver and
    # the Python workers, which inherit this env; an explicit setting wins.
    os.environ.setdefault("NUMPY_MADVISE_HUGEPAGE", "0")
    cpus = default_parallelism()
    conf = {
        "spark.app.name": app_name,
        "spark.master": master or f"local[{cpus}]",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        "spark.ui.enabled": "false",
        "spark.sql.shuffle.partitions": str(shuffle_partitions or cpus),
        "spark.sql.codegen.cache.maxEntries": str(CODEGEN_CACHE_ENTRIES),
        "spark.executorEnv.NUMPY_MADVISE_HUGEPAGE": os.environ.get(
            "NUMPY_MADVISE_HUGEPAGE", "0"
        ),
        **RUNTIME_CONF,
        **(extra_conf or {}),
    }
    launch_conf, env = _launch(conf)
    conf.update(launch_conf)
    with _launch_env(env):
        spark = SparkSession.builder.config(map=conf).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return tune(spark, shuffle_partitions)
