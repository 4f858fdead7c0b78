"""The driver JVM's class-data archive (``session.ClassArchive``).

Every case launches a fresh driver JVM in a child process under a
temporary ``XDG_CACHE_HOME``, so the user's cache is never touched and
the test session's own JVM is not involved.  Each child prints one
line, ``state=<class_archive_state>``; its stdout must hold exactly
that line, so no JVM output (a refused archive's warning, say) reaches
a caller's stdout.
"""

from __future__ import annotations

import glob
import os
import shutil
import subprocess
import sys

import pytest
from pyspark.find_spark_home import _find_spark_home

from openetlagent_spark.session import ClassArchive

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = """
import os, sys
from openetlagent_spark.session import class_archive_state, get_spark
spark = get_spark("class-archive-test")
assert spark.range(3).count() == 3
print("state=" + class_archive_state(spark), flush=True)
if sys.argv[1:] == ["no-exit-build"]:
    os._exit(0)  # the case under test is the start; skip a recording's build
"""


def run_child(cache: str, *args: str, timeout: float = 180, **env) -> subprocess.CompletedProcess:
    child_env = {k: v for k, v in os.environ.items()
                 if k not in ("PYSPARK_SUBMIT_ARGS", "SPARK_CONF_DIR", "JAVA_TOOL_OPTIONS")}
    child_env.update(PYTHONPATH=ROOT, XDG_CACHE_HOME=cache, SPARK_DRIVER_MEMORY="1g",
                     SPARK_GRAFT_CPUS="1", **env)
    return subprocess.run([sys.executable, "-c", CHILD, *args], cwd=ROOT, env=child_env,
                          capture_output=True, text=True, timeout=timeout)


def state_of(out: subprocess.CompletedProcess) -> str:
    assert out.returncode == 0, out.stderr[-2000:]
    lines = out.stdout.splitlines()
    assert len(lines) == 1 and lines[0].startswith("state="), out.stdout
    assert f"driver class-data archive: {lines[0][6:]}" in out.stderr
    return lines[0][6:]


def archive_in(cache: str, monkeypatch) -> ClassArchive:
    monkeypatch.setenv("XDG_CACHE_HOME", cache)
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    monkeypatch.delenv("PYSPARK_SUBMIT_ARGS", raising=False)
    archive, why = ClassArchive.locate()
    assert archive is not None, why
    return archive


@pytest.fixture(scope="module")
def recorded(tmp_path_factory):
    """A cache whose first session recorded and, at its exit, built the
    archive; with that session's output."""
    cache = str(tmp_path_factory.mktemp("xdg"))
    return cache, run_child(cache, timeout=300)


def test_first_session_records_and_the_next_maps(recorded, monkeypatch):
    cache, first = recorded
    assert state_of(first) == "recording"
    assert "recorded the driver class-data archive" in first.stderr, first.stderr[-2000:]
    archive = archive_in(cache, monkeypatch)
    assert archive.usable()
    assert os.path.getsize(archive.path) == archive.meta()["size"] > 50_000_000
    assert not glob.glob(os.path.join(cache, "openetlagent_spark", "*.classlist"))
    assert not glob.glob(os.path.join(cache, "openetlagent_spark", "*.tmp"))
    assert state_of(run_child(cache)) == "mapped"


@pytest.mark.parametrize("recorded_size", ["whole", "truncated"])
def test_truncated_archive_starts(recorded, tmp_path, monkeypatch, recorded_size):
    """Cut to half: refused by the size check when the recorded size is
    the whole file's (the session records anew), and by the JVM itself
    when the record matches the cut file."""
    built = archive_in(recorded[0], monkeypatch).path
    whole = os.path.getsize(built)
    cache = str(tmp_path / "xdg")
    archive = archive_in(cache, monkeypatch)
    with open(built, "rb") as fh, open(archive.path, "wb") as cut:
        cut.write(fh.read(whole // 2))
    archive._write_meta({"size": whole if recorded_size == "whole" else whole // 2})
    state = state_of(run_child(cache, "no-exit-build"))
    if recorded_size == "whole":
        assert state == "recording"
    else:
        assert state.startswith("skipped: the JVM did not map")
        assert not os.path.exists(archive.path)  # discarded: the next session records


def test_stale_archive_starts_unmapped(tmp_path, monkeypatch):
    """An archive recorded for another classpath, under the current
    name: the JVM refuses it and runs on, and the session discards it."""
    cache = str(tmp_path / "xdg")
    archive = archive_in(cache, monkeypatch)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ \
        else shutil.which("java")
    jar = glob.glob(os.path.join(_find_spark_home(), "jars", "slf4j-api-*.jar"))[0]
    class_list = tmp_path / "classes.lst"
    # an application class in it, or the JVM would map it for any classpath
    class_list.write_text("java/lang/Object\norg/slf4j/Logger\n")
    subprocess.run([java, "-Xshare:dump", f"-XX:SharedClassListFile={class_list}",
                    f"-XX:SharedArchiveFile={archive.path}", "-cp", jar],
                   check=True, capture_output=True, timeout=120)
    archive._write_meta({"size": os.path.getsize(archive.path)})
    assert archive.usable()
    state = state_of(run_child(cache))
    assert state == f"skipped: the JVM did not map {archive.path} " \
                    "(recorded for another classpath or JVM)"
    assert not os.path.exists(archive.path) and not os.path.exists(archive.meta_path)


def test_conf_dir_with_a_real_file_skips(tmp_path):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("# nothing set\n")
    (conf / "log4j2.properties.template").write_text("")
    cache = str(tmp_path / "xdg")
    state = state_of(run_child(cache, SPARK_CONF_DIR=str(conf)))
    assert state == (f"skipped: conf dir {conf} holds spark-defaults.conf, "
                     "which is read from the classpath")
    assert not os.path.exists(cache)


def test_unwritable_cache_starts_as_before(tmp_path):
    cache = tmp_path / "not-a-dir"
    cache.write_text("")
    state = state_of(run_child(str(cache)))
    assert state.startswith("skipped: cache dir not writable")


def test_failed_build_is_remembered(tmp_path, monkeypatch):
    cache = str(tmp_path / "xdg")
    archive = archive_in(cache, monkeypatch)
    archive._write_meta({"failed": "dump timed out"})
    state = state_of(run_child(cache))
    assert state.startswith("skipped: building the archive failed (dump timed out)")
    assert archive.meta() == {"failed": "dump timed out"}
