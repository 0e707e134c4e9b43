"""The driver JVM's class-data-sharing archive and collector
(``session.build_session``).

Each session runs in its own Python process with a temporary
``XDG_CACHE_HOME``, as the archive and the collector only apply to the
call that launches the JVM. The JVM logs its class loads to a file
(``-Xlog:class+load``, passed through ``spark.driver.extraJavaOptions``,
which the archive leaves to the caller); a class mapped from the
dynamic archive reads ``source: shared objects file (top)``. The
session prints the names of the JVM's GC MXBeans and its input
arguments."""

from __future__ import annotations

import contextlib
import fcntl
import glob
import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOP = "shared objects file (top)"

#: One session: build it, run a job with a shuffle, stop the JVM and wait
#: for it. argv: extra_conf as JSON, then "fail-build" to make the
#: archiving session's job raise.
_SESSION = r"""
import json, sys
from pyspark import SparkContext
from streaming_etl_pipeline_spark import session

if sys.argv[2:] == ["fail-build"]:
    def _boom(spark):
        raise RuntimeError("planted archiving failure")
    session._archive_job = _boom
spark = session.build_session(app_name="cds-test", extra_conf=json.loads(sys.argv[1]))
groups = spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count().count()
mf = spark._jvm.java.lang.management.ManagementFactory
print("GC", json.dumps(sorted(g.getName() for g in mf.getGarbageCollectorMXBeans())))
print("ARGS", json.dumps(list(mf.getRuntimeMXBean().getInputArguments())))
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


def _run(work, cache, conf=None, fail_build=False, env=None):
    """Run one session in a subprocess; returns (stdout, loaded-class log
    of the session's own JVM, the class logs of every JVM it started)."""
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
    if fail_build:
        argv.append("fail-build")
    proc = subprocess.run(
        argv, cwd=work, env=full_env, capture_output=True, text=True, timeout=300
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
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


@pytest.fixture(scope="module")
def built(tmp_path_factory):
    """A cache whose first session built the archive; returns the cache
    and that first session's outputs."""
    root = tmp_path_factory.mktemp("cds-built")
    cache = str(root / "cache")
    first = _run(str(root / "first"), cache)
    return cache, first


def test_first_session_builds_one_archive_and_the_next_maps_it(built, tmp_path):
    cache, (_, session_log, logs) = built
    key = _key()
    assert _archives(cache) == [key + ".jsa"]
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
        _, _, logs = _run(str(tmp_path), cache, fail_build=True)
        assert len(logs) == 2  # the archiving JVM ran, then the session's
        assert all(TOP not in text for text in logs)
        assert _archives(cache) == []
