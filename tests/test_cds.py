"""The driver JVM starts from a static class-data-sharing archive (``cds.py``).

Each session runs in a subprocess with a private ``XDG_CACHE_HOME`` and an
empty working directory. The first records a class list and builds the
archive at its exit; the others start from it, from a damaged copy of it,
or are killed while recording. Every run must leave the working directory
empty and the checkout as it was.
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import zipfile
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
PACKAGE = "real_time_fraud_detection_system_using_big_data_analytics_spark"
sys.path.insert(0, str(REPO))

from real_time_fraud_detection_system_using_big_data_analytics_spark import cds  # noqa: E402

_CHILD = """
import json, os, signal, sys
sys.path.insert(0, %(repo)r)
from %(package)s import get_session

conf_dir = os.environ.get("SPARK_CONF_DIR")
spark = get_session("cds-test", cpus=1)
jvm = spark._jvm
args = [str(a) for a in
        jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()]
print("CDSCHILD " + json.dumps({
    "sum": spark.range(100).selectExpr("sum(id)").collect()[0][0],
    "conf_dir_kept": os.environ.get("SPARK_CONF_DIR") == conf_dir,
    "cds_args": [a for a in args if "SharedArchiveFile" in a or "DumpLoadedClassList" in a],
    "jit_args": [a for a in args if a.startswith("-XX:Tier4")],
    "vm_info": jvm.java.lang.System.getProperty("java.vm.info"),
    "probe": spark.conf.get("spark.graft.cdsprobe", None),
    "jvm_pid": jvm.java.lang.ProcessHandle.current().pid(),
}), flush=True)
if sys.argv[1:] == ["kill"]:
    os.kill(os.getpid(), signal.SIGKILL)
spark.stop()
"""


def _tree(root: Path) -> dict[str, tuple[int, int]]:
    out = {}
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = [d for d in dirnames if d != ".git"]
        for name in filenames:
            path = os.path.join(dirpath, name)
            st = os.lstat(path)
            out[path] = (st.st_size, st.st_mtime_ns)
    return out


def _run_child(cache: Path, tmp: Path, *, kill: bool = False, conf: Path | None = None,
               submit: str | None = None) -> tuple[subprocess.CompletedProcess, dict | None]:
    """One session in a subprocess; returns it and its report line."""
    run = Path(tempfile.mkdtemp(dir=tmp))
    cwd = run / "cwd"
    cwd.mkdir()
    if conf is None:
        conf = run / "conf"
        conf.mkdir()
    env = dict(os.environ, XDG_CACHE_HOME=str(cache), SPARK_CONF_DIR=str(conf),
               SPARK_GRAFT_DRIVER_MEM="1g", PYTHONDONTWRITEBYTECODE="1")
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    if submit:
        env["PYSPARK_SUBMIT_ARGS"] = f"{submit} pyspark-shell"
    before = _tree(REPO)
    proc = subprocess.run(
        [sys.executable, "-c", _CHILD % {"repo": str(REPO), "package": PACKAGE}]
        + (["kill"] if kill else []),
        capture_output=True, text=True, timeout=900, cwd=str(cwd), env=env,
    )
    assert list(cwd.iterdir()) == [], "the session wrote into its working directory"
    after = _tree(REPO)
    assert after == before, {
        "added": sorted(set(after) - set(before)),
        "changed": sorted(p for p in set(after) & set(before) if after[p] != before[p]),
    }
    line = next((ln for ln in proc.stdout.splitlines() if ln.startswith("CDSCHILD ")), None)
    return proc, (json.loads(line[len("CDSCHILD "):]) if line else None)


def _detail(proc: subprocess.CompletedProcess) -> str:
    return f"rc {proc.returncode}\nstdout tail: {proc.stdout[-1500:]}\nstderr tail: {proc.stderr[-3000:]}"


def _cds_files(cache: Path) -> list[str]:
    root = cache / "spark-graft" / "cds"
    return sorted(p.name for p in root.iterdir() if p.is_file()) if root.is_dir() else []


def _wait_exited(pid: int, timeout: float = 60.0) -> None:
    """Wait for an orphaned JVM to exit (a zombie counts as exited)."""
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                if fh.read().rsplit(")", 1)[1].split()[0] == "Z":
                    return
        except FileNotFoundError:
            return
        time.sleep(0.2)
    raise AssertionError(f"JVM {pid} still running {timeout}s after its driver was killed")


@pytest.fixture(scope="module")
def built_cache(tmp_path_factory) -> Path:
    """A cache whose archive a first session recorded and built at exit."""
    cache = tmp_path_factory.mktemp("cds-cache")
    proc, rep = _run_child(cache, tmp_path_factory.mktemp("cds-record"))
    assert proc.returncode == 0 and rep and rep["sum"] == 4950, _detail(proc)
    assert [a.split("=")[0] for a in rep["cds_args"]] == ["-XX:DumpLoadedClassList"], rep
    files = _cds_files(cache)
    archives = [f for f in files if f.endswith(".jsa")]
    assert len(archives) == 1, (files, _detail(proc))
    assert not [f for f in files if f.endswith((".classlist", ".part"))], files
    return cache


def test_session_maps_spark_classes_from_the_archive(built_cache, tmp_path):
    proc, rep = _run_child(built_cache, tmp_path, submit="--driver-java-options -Xlog:class+load")
    assert proc.returncode == 0 and rep and rep["sum"] == 4950, _detail(proc)
    assert rep["conf_dir_kept"], rep
    assert [a.split("=")[0] for a in rep["cds_args"]] == ["-XX:SharedArchiveFile"], rep
    assert len(rep["jit_args"]) == 4 and "sharing" in rep["vm_info"], rep
    loads = [ln for ln in proc.stdout.splitlines()
             if "[class,load] org.apache.spark.sql.SparkSession " in ln]
    assert loads and loads[0].endswith("source: shared objects file"), loads


@pytest.mark.parametrize("damage", ["byte_flip", "truncate", "class_path"])
def test_a_bad_archive_still_starts_a_working_session(built_cache, tmp_path, damage):
    # Damaged in place: the archive records the cache's conf directory on its
    # class path, so a copy in another cache would fail on the path instead.
    (archive,) = (built_cache / "spark-graft" / "cds").glob("*.jsa")
    backup = tmp_path / "archive.jsa"
    shutil.copy2(archive, backup)
    archive.chmod(0o644)
    size = archive.stat().st_size
    submit = None
    try:
        if damage == "byte_flip":
            # without -XX:+VerifySharedSpaces either flip crashes the JVM
            with open(archive, "r+b") as fh:
                for offset in (size // 10, size * 9 // 10):
                    fh.seek(offset)
                    byte = fh.read(1)[0]
                    fh.seek(offset)
                    fh.write(bytes([byte ^ 0xFF]))
        elif damage == "truncate":
            os.truncate(archive, size // 2)
        else:  # a jar in front of the class path the archive was built with
            extra = tmp_path / "extra.jar"
            zipfile.ZipFile(extra, "w").close()
            submit = f"--driver-class-path {extra}"
        proc, rep = _run_child(built_cache, tmp_path, submit=submit)
    finally:
        os.replace(backup, archive)
    assert proc.returncode == 0 and rep and rep["sum"] == 4950, _detail(proc)
    assert [a.split("=")[0] for a in rep["cds_args"]] == ["-XX:SharedArchiveFile"], rep
    assert "sharing" not in rep["vm_info"], rep


def test_a_killed_recording_publishes_no_archive(tmp_path):
    cache = tmp_path / "cache"
    first, rep = _run_child(cache, tmp_path, kill=True)
    assert first.returncode == -signal.SIGKILL and rep and rep["sum"] == 4950, _detail(first)
    _wait_exited(rep["jvm_pid"])
    leftover = [f for f in _cds_files(cache) if f.endswith(".classlist")]
    assert len(leftover) == 1 and not [f for f in _cds_files(cache) if f.endswith(".jsa")]
    # the next launch removes the dead process's class list
    second, rep = _run_child(cache, tmp_path, kill=True)
    assert second.returncode == -signal.SIGKILL and rep, _detail(second)
    _wait_exited(rep["jvm_pid"])
    files = _cds_files(cache)
    assert leftover[0] not in files and not [f for f in files if f.endswith(".jsa")], files


def test_a_conf_dir_with_a_real_file_starts_as_before(tmp_path):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.graft.cdsprobe true\n")
    cache = tmp_path / "cache"
    proc, rep = _run_child(cache, tmp_path, conf=conf)
    assert proc.returncode == 0 and rep and rep["sum"] == 4950, _detail(proc)
    assert rep["probe"] == "true" and rep["conf_dir_kept"] and rep["cds_args"] == [], rep
    assert rep["jit_args"] == [], rep
    assert not cache.exists()


def test_archive_key_follows_the_jdk_and_the_jars(tmp_path):
    home, jdk = tmp_path / "spark", tmp_path / "jdk"
    (home / "jars").mkdir(parents=True)
    (jdk / "bin").mkdir(parents=True)
    java = jdk / "bin" / "java"
    java.write_text("")
    jar = home / "jars" / "a.jar"
    jar.write_bytes(b"x")
    assert cds.archive_key(str(home), java) is None  # no release file
    (jdk / "release").write_text('JAVA_VERSION="17"\n')
    key = cds.archive_key(str(home), java)
    assert key and cds.archive_key(str(home), java) == key
    os.utime(jar, ns=(0, 1))
    touched = cds.archive_key(str(home), java)
    assert touched != key
    (jdk / "release").write_text('JAVA_VERSION="21"\n')
    assert cds.archive_key(str(home), java) not in (key, touched)


def test_leftovers_of_dead_processes_are_removed(tmp_path):
    dead = subprocess.Popen(["true"])
    dead.wait()
    names = [f"k.{dead.pid}.classlist", f"k.{dead.pid}.part", f"k.{os.getpid()}.classlist",
             f"k.{os.getpid()}.part", "k.jsa", "k.lock"]
    for name in names:
        (tmp_path / name).write_text("")
    cds.remove_dead_leftovers(tmp_path)
    assert sorted(p.name for p in tmp_path.iterdir()) == sorted(names[2:])
