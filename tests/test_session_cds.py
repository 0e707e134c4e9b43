"""The driver JVM's class-data-sharing archive, collector and
in-process local file system (``session.build_session``).

Each session runs in its own Python process with a temporary
``XDG_CACHE_HOME``, as the archive and the collector only apply to the
call that launches the JVM. The JVM logs its class loads to a file
(``-Xlog:class+load``, passed through ``spark.driver.extraJavaOptions``,
which the archive leaves to the caller); a class mapped from the
dynamic archive reads ``source: shared objects file (top)``. The
session prints the names of the JVM's GC MXBeans, its input arguments,
the classes Hadoop runs for ``file:`` and the JVM's classpath."""

from __future__ import annotations

import contextlib
import fcntl
import glob
import json
import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOP = "shared objects file (top)"

#: One session: build it, run a job with a shuffle, stop the JVM and wait
#: for it. argv: extra_conf as JSON, then "fail-build" to make the
#: archiving session's job raise, or "ingest" to also run a Bronze
#: stream and a partitioned write in the working directory.
_SESSION = r"""
import json, logging, os, sys
from pyspark import SparkContext
from streaming_etl_pipeline_spark import session

logging.basicConfig(level=logging.INFO)
if sys.argv[2:] == ["fail-build"]:
    def _boom(spark):
        raise RuntimeError("planted archiving failure")
    session._archive_job = _boom
spark = session.build_session(app_name="cds-test", extra_conf=json.loads(sys.argv[1]))
groups = spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count().count()
if sys.argv[2:] == ["ingest"]:
    from streaming_etl_pipeline_spark.sources.io import write_partitioned
    from streaming_etl_pipeline_spark.streaming import (
        parse_events, read_json_stream, start_bronze_sink,
    )
    os.makedirs("in")
    with open("in/0.json", "w") as fh:
        for i in range(20):
            fh.write(json.dumps({
                "sensor_id": f"s{i % 4}", "sensor_type": ("a", "b")[i % 2],
                "timestamp": f"2024-06-15T10:{i:02d}:00+00:00", "value": 1.0 * i,
                "unit": "c", "location": "x",
            }) + "\n")
    bronze, _ = parse_events(read_json_stream(spark, os.path.abspath("in")))
    start_bronze_sink(
        bronze, os.path.abspath("bronze"), os.path.abspath("ckpt"),
        trigger={"availableNow": True},
    ).awaitTermination(120)
    write_partitioned(spark.read.parquet(os.path.abspath("bronze")), os.path.abspath("copy"), ["sensor_type"])
    print("ROWS", spark.read.parquet(os.path.abspath("copy")).count())
jvm = spark._jvm
mf = jvm.java.lang.management.ManagementFactory
print("GC", json.dumps(sorted(g.getName() for g in mf.getGarbageCollectorMXBeans())))
print("ARGS", json.dumps(list(mf.getRuntimeMXBean().getInputArguments())))
uri, hconf = jvm.java.net.URI("file:///"), spark._jsc.hadoopConfiguration()
print("FS", json.dumps([
    jvm.org.apache.hadoop.fs.FileSystem.get(uri, hconf).getClass().getName(),
    jvm.org.apache.hadoop.fs.AbstractFileSystem.get(uri, hconf).getClass().getName(),
]))
print("CP", json.dumps(jvm.java.lang.System.getProperty("java.class.path").split(":")))
gateway = SparkContext._gateway
spark.stop()
gateway.shutdown()
gateway.proc.stdin.close()
print("GROUPS", groups, "EXIT", gateway.proc.wait(timeout=120))
"""


def _cds(cache: str) -> str:
    return os.path.join(cache, "spark-graft", "cds")


def _key() -> str:
    from pyspark.find_spark_home import _find_spark_home

    from streaming_etl_pipeline_spark.session import _archive_key

    return _archive_key(_find_spark_home())


def _run(work, cache, conf=None, mode=None, env=None, stderr=None):
    """Run one session in a subprocess (``mode``: "fail-build" or
    "ingest", see ``_SESSION``); returns (stdout, loaded-class log of the
    session's own JVM, the class logs of every JVM it started). With
    ``stderr`` (a list), the session's stderr is appended to it."""
    os.makedirs(work, exist_ok=True)
    logs = os.path.join(work, "classes")
    os.makedirs(logs, exist_ok=True)
    before = set(os.listdir(logs))
    conf = dict(conf or {})
    conf["spark.driver.extraJavaOptions"] = (
        conf.get("spark.driver.extraJavaOptions", "")
        + f" -Xlog:class+load=info:file={logs}/jvm-%p.log"
    ).strip()
    full_env = {
        k: v
        for k, v in os.environ.items()
        if k not in ("PYSPARK_GATEWAY_PORT", "PYSPARK_GATEWAY_SECRET", "SPARK_CONF_DIR")
    }
    full_env.update(
        XDG_CACHE_HOME=cache,
        PYTHONPATH=REPO,
        SPARK_GRAFT_CPUS="2",
        SPARK_GRAFT_DRIVER_MEM="1g",
        **(env or {}),
    )
    argv = [sys.executable, "-c", _SESSION, json.dumps(conf)]
    if mode:
        argv.append(mode)
    proc = subprocess.run(
        argv, cwd=work, env=full_env, capture_output=True, text=True, timeout=300
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    if stderr is not None:
        stderr.append(proc.stderr)
    assert "GROUPS 7 EXIT 0" in proc.stdout, proc.stdout
    # a dump or a mapped archive prints nothing on the stdout the caller
    # parses, and no JVM aborted
    assert "[cds]" not in proc.stdout
    for stream in (proc.stdout, proc.stderr):
        assert "Error occurred during initialization of VM" not in stream
    assert not glob.glob(os.path.join(work, "hs_err_pid*.log"))
    new = sorted(
        (os.path.join(logs, n) for n in set(os.listdir(logs)) - before),
        key=os.path.getmtime,
    )
    texts = []
    for path in new:
        with open(path) as fh:
            texts.append(fh.read())
    return proc.stdout, texts[-1], texts


def _printed(stdout: str, tag: str):
    """The JSON value the session printed after ``tag``."""
    (line,) = [ln for ln in stdout.splitlines() if ln.startswith(tag + " ")]
    return json.loads(line[len(tag) + 1 :])


def _archives(cache: str) -> list[str]:
    return sorted(os.path.basename(p) for p in glob.glob(os.path.join(_cds(cache), "*.jsa*")))


def _localfs(cache: str) -> str:
    return os.path.join(cache, "spark-graft", "localfs")


def _jars(cache: str) -> list[str]:
    """Every file under the jar's directory, relative to it."""
    root = _localfs(cache)
    return sorted(
        os.path.relpath(os.path.join(d, n), root) for d, _, files in os.walk(root) for n in files
    )


ENGINE_FS = ["sparkgraft.NioLocalFileSystem", "sparkgraft.NioLocalFileSystem$Fs"]
STOCK_FS = ["org.apache.hadoop.hive.ql.io.ProxyLocalFileSystem", "org.apache.hadoop.fs.local.LocalFs"]


@pytest.fixture(scope="module")
def built(tmp_path_factory):
    """A cache whose first session built the archive; returns the cache
    and that first session's outputs."""
    root = tmp_path_factory.mktemp("cds-built")
    cache = str(root / "cache")
    first = _run(str(root / "first"), cache)
    return cache, first


def test_first_session_builds_one_archive_and_the_next_maps_it(built, tmp_path):
    cache, (out, session_log, logs) = built
    key = _key()
    assert _archives(cache) == [key + ".jsa"]
    # the first session also compiled the file system's jar, and its JVM
    # ran it from the end of the classpath
    (jar,) = _jars(cache)
    assert jar.startswith(key + "-") and jar.endswith(".jar")
    assert _printed(out, "FS") == ENGINE_FS
    assert _printed(out, "CP")[-1] == os.path.join(_localfs(cache), jar)
    # two JVMs: the archiving one (nothing to map yet) and the session's,
    # which maps the archive the first one wrote
    assert len(logs) == 2
    assert TOP not in logs[0]
    assert session_log.count(TOP) > 1000
    archive = os.path.join(_cds(cache), key + ".jsa")
    mtime = os.stat(archive).st_mtime_ns

    _, second, logs = _run(str(tmp_path), cache)
    assert len(logs) == 1  # no archiving JVM this time
    assert second.count(TOP) > 1000
    assert _archives(cache) == [key + ".jsa"]
    assert os.stat(archive).st_mtime_ns == mtime


@contextlib.contextmanager
def _archive_aside(cache: str):
    """The built cache with its archive moved out for the block. The
    archive is only valid in its own cache: the empty conf dir beside it
    is on the classpath it was dumped for."""
    archive = os.path.join(_cds(cache), _key() + ".jsa")
    aside = os.path.join(cache, "aside.jsa")
    os.rename(archive, aside)
    try:
        yield archive
    finally:
        for leftover in (archive, archive + ".part"):
            if os.path.exists(leftover):
                os.remove(leftover)
        os.rename(aside, archive)


def _truncated_part(cache: str, archive: str) -> bytes:
    """Plant the first MB of the real archive where a build writes."""
    with open(os.path.join(cache, "aside.jsa"), "rb") as fh:
        head = fh.read(1 << 20)
    with open(archive + ".part", "wb") as fh:
        fh.write(head)
    return head


def test_caller_java_options_start_plain(built, tmp_path):
    cache = built[0]
    out, log, logs = _run(
        str(tmp_path), cache,
        conf={"spark.driver.defaultJavaOptions": "-Dgraft.cds.optout=1"},
    )
    assert len(logs) == 1 and TOP not in log
    assert _archives(cache) == [_key() + ".jsa"]
    # the caller owns the JVM: neither collector flag is added
    args = _printed(out, "ARGS")
    assert "-Dgraft.cds.optout=1" in args
    assert not [a for a in args if a.startswith(("-XX:+UseParallelGC", "-XX:MetaspaceSize"))]
    assert "PS Scavenge" not in _printed(out, "GC")


PARALLEL = ["PS MarkSweep", "PS Scavenge"]
G1 = ["G1 Old Generation", "G1 Young Generation"]


def test_default_session_runs_the_parallel_collector_on_the_archive(built, tmp_path):
    out, log, logs = _run(str(tmp_path), built[0])
    assert len(logs) == 1 and log.count(TOP) > 1000
    assert _printed(out, "GC") == PARALLEL
    assert "-XX:MetaspaceSize=128m" in _printed(out, "ARGS")
    # and so did the first session, the one that built the archive
    assert _printed(built[1][0], "GC") == PARALLEL


@pytest.mark.parametrize("where", ["extraJavaOptions", "JAVA_TOOL_OPTIONS"])
def test_caller_selected_collector_is_kept(built, tmp_path, where):
    """The JVM refuses two collectors ("Multiple garbage collectors
    selected"), so a caller's own choice starts the JVM alone."""
    if where == "extraJavaOptions":
        kw = {"conf": {"spark.driver.extraJavaOptions": "-XX:+UseG1GC"}}
    else:
        kw = {"env": {"JAVA_TOOL_OPTIONS": "-XX:+UseG1GC"}}
    out, log, logs = _run(str(tmp_path), built[0], **kw)
    assert _printed(out, "GC") == G1
    assert "-XX:+UseParallelGC" not in _printed(out, "ARGS")
    assert len(logs) == 1 and log.count(TOP) > 1000


def test_conf_dir_with_real_files_starts_plain(built, tmp_path):
    cache = built[0]
    conf_dir = tmp_path / "spark-conf"
    conf_dir.mkdir()
    (conf_dir / "spark-defaults.conf.template").write_text("# template\n")
    # templates only: the archive is mapped (an empty dir stands in)
    _, log, _ = _run(str(tmp_path / "a"), cache, env={"SPARK_CONF_DIR": str(conf_dir)})
    assert log.count(TOP) > 1000
    # a real file: it must be read, so the JVM starts plain
    (conf_dir / "spark-defaults.conf").write_text("spark.graft.test.marker 1\n")
    _, log, logs = _run(str(tmp_path / "b"), cache, env={"SPARK_CONF_DIR": str(conf_dir)})
    assert len(logs) == 1 and TOP not in log


def test_held_lock_starts_plain_without_waiting_or_mapping_the_part(built, tmp_path):
    cache = built[0]
    with _archive_aside(cache) as archive:
        head = _truncated_part(cache, archive)
        with open(archive[: -len(".jsa")] + ".lock", "a") as lock:
            fcntl.flock(lock, fcntl.LOCK_EX)  # another process is building
            _, log, logs = _run(str(tmp_path / "w"), cache)
            assert len(logs) == 1 and TOP not in log
            with open(archive + ".part", "rb") as fh:
                assert fh.read() == head  # the builder's file is left alone
            assert not os.path.exists(archive)
            # a finished archive needs no lock: it is mapped while the
            # lock is held
            os.link(os.path.join(cache, "aside.jsa"), archive)
            _, log, _ = _run(str(tmp_path / "v"), cache)
            assert log.count(TOP) > 1000


def test_failed_build_starts_plain_and_leaves_no_part(built, tmp_path):
    cache = built[0]
    with _archive_aside(cache) as archive:
        _truncated_part(cache, archive)
        _, _, logs = _run(str(tmp_path), cache, mode="fail-build")
        assert len(logs) == 2  # the archiving JVM ran, then the session's
        assert all(TOP not in text for text in logs)
        assert _archives(cache) == []


_SHIM = """#!/bin/sh
echo "$(basename "$0") $*" >> {log}
exec {real} "$@"
"""


def test_session_writes_without_forking_chmod_or_readlink(built, tmp_path):
    """A ``PATH`` shim logs every ``chmod`` and ``readlink`` the session's
    processes start: a Bronze stream, its checkpoint and a partitioned
    write start none, still write ``.crc`` files, and the archive maps."""
    shim = tmp_path / "shim"
    shim.mkdir()
    log = tmp_path / "forks.log"
    for cmd in ("chmod", "readlink"):
        (shim / cmd).write_text(_SHIM.format(log=log, real=shutil.which(cmd)))
        (shim / cmd).chmod(0o755)
    work = tmp_path / "work"
    out, session_log, logs = _run(
        str(work), built[0], mode="ingest",
        env={"PATH": f"{shim}:{os.environ['PATH']}"},
    )
    assert not log.exists(), log.read_text()
    assert "ROWS 20" in out
    assert _printed(out, "FS") == ENGINE_FS
    assert len(logs) == 1 and session_log.count(TOP) > 1000
    assert "sparkgraft.NioLocalFileSystem$Raw source: file:" in session_log
    for kind in ("offsets", "commits"):
        assert (work / "ckpt" / kind / ".0.crc").is_file()
    assert glob.glob(str(work / "copy" / "sensor_type=a" / ".*.parquet.crc"))


@contextlib.contextmanager
def _jar_aside(cache: str):
    """The built cache with the jar's directory moved out for the block."""
    root = _localfs(cache)
    aside = os.path.join(cache, "aside-localfs")
    os.rename(root, aside)
    try:
        yield
    finally:
        shutil.rmtree(root, ignore_errors=True)
        os.rename(aside, root)


_FAILING_JAVAC = """#!/bin/sh
# leave a partial class where javac was asked to write, then fail
while [ $# -gt 1 ]; do
  if [ "$1" = "-d" ]; then mkdir -p "$2/sparkgraft"; echo partial > "$2/sparkgraft/NioLocalFileSystem.class"; fi
  shift
done
echo "planted compile failure" >&2
exit 1
"""


@pytest.mark.parametrize("javac", ["missing", "failing"])
def test_no_jar_starts_the_stock_file_system(built, tmp_path, javac):
    """A JDK without ``javac``, or a compile that fails, gives a working
    stock session, an INFO line and no jar, whole or partial."""
    java_home = tmp_path / "jdk"
    (java_home / "bin").mkdir(parents=True)
    (java_home / "bin" / "java").symlink_to(os.path.realpath(shutil.which("java")))
    if javac == "failing":
        (java_home / "bin" / "javac").write_text(_FAILING_JAVAC)
        (java_home / "bin" / "javac").chmod(0o755)
    cache = built[0]
    err: list[str] = []
    with _jar_aside(cache):
        out, log, logs = _run(
            str(tmp_path / "w"), cache, env={"JAVA_HOME": str(java_home)}, stderr=err
        )
        assert _jars(cache) == []
    assert _printed(out, "FS") == STOCK_FS
    assert "in-process local file system not built" in err[0]
    if javac == "failing":
        assert "planted compile failure" in err[0]
    assert len(logs) == 1 and log.count(TOP) > 1000  # the archive still maps


@pytest.mark.parametrize(
    "owned",
    ["spark.hadoop.fs.file.impl", "spark.hadoop.fs.AbstractFileSystem.file.impl", "SPARK_DIST_CLASSPATH"],
)
def test_caller_owned_file_scheme_or_classpath_is_left_alone(built, tmp_path, owned):
    cache = built[0]
    dist = tmp_path / "dist"
    dist.mkdir()
    kw = {}
    if owned == "SPARK_DIST_CLASSPATH":
        kw["env"] = {owned: str(dist)}
        want = STOCK_FS
    elif owned == "spark.hadoop.fs.file.impl":
        kw["conf"] = {owned: "org.apache.hadoop.fs.LocalFileSystem"}
        want = ["org.apache.hadoop.fs.LocalFileSystem", STOCK_FS[1]]
    else:
        kw["conf"] = {owned: "org.apache.hadoop.fs.local.LocalFs"}
        want = STOCK_FS
    out, log, _ = _run(str(tmp_path / "w"), cache, **kw)
    assert _printed(out, "FS") == want
    classpath = _printed(out, "CP")
    assert not [e for e in classpath if e.startswith(_localfs(cache))]
    if owned == "SPARK_DIST_CLASSPATH":
        assert classpath[-1].rstrip("/") == str(dist)
        assert TOP not in log  # the caller's classpath is not the archive's
    else:
        assert log.count(TOP) > 1000
