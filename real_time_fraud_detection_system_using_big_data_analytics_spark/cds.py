"""Start the driver JVM from a static class-data-sharing (AppCDS) archive.

Every CLI command, test session, subprocess and benchmark run starts a new
driver JVM, which parses and verifies ~15k classes from Spark's jars before
it does any work. From a static AppCDS archive the JVM maps that class
metadata instead. ``driver_launch`` wraps the ``getOrCreate`` that starts
the JVM:

- With an archive for this JDK and jar set in the cache, the JVM starts
  with ``-XX:SharedArchiveFile=<archive> -XX:+VerifySharedSpaces``. The
  checksum check makes a corrupt or truncated archive fall back to a normal
  start (without it a byte-flipped archive crashed the JVM or was mapped as
  it was); a class-path mismatch falls back too (``-Xshare:auto``).
- Without one, the JVM lists the classes it loads
  (``-XX:DumpLoadedClassList``, no measurable cost), and an ``atexit`` hook
  builds the archive after that JVM has exited: ``java -Xshare:dump`` over
  the list, with the class path and ``--add-modules`` the JVM reported. The
  build takes about a minute on 4 cores, once per key, at the exit of the
  first process; a file lock keeps it to one process per key, and
  ``os.replace`` publishes it. A process killed before its exit builds
  nothing. A dynamic archive (``-XX:ArchiveClassesAtExit``) would need no
  separate build, but it made every recording run's set-up ~5 s slower.

CDS refuses a non-empty directory on the class path, and Spark puts its conf
directory there. CDS is therefore used only when that directory holds
nothing but ``*.template`` files, and ``SPARK_CONF_DIR`` then points at an
empty directory in the cache for the launch alone. A conf directory with a
real file in it starts the JVM exactly as without this module. The archive
records that empty directory's path, so it serves only the cache it was
built in.

The cache is ``$XDG_CACHE_HOME/spark-graft/cds`` (``~/.cache`` when unset):
one ``<key>.jsa`` per key, where the key hashes the ``java`` that Spark
launches, the JDK's ``release`` file, each jar's name, size and mtime, and
``RECIPE``. Class lists and part files of processes that have died are
removed at the next launch. To check the mapping, pass ``-Xlog:class+load``
in the driver's java options: Spark's classes then load from "shared
objects file".
"""

from __future__ import annotations

import atexit
import contextlib
import fcntl
import hashlib
import os
import shlex
import shutil
import subprocess
import sys
from pathlib import Path
from typing import Iterator, NamedTuple

# Part of the cache key: change it when the options or the dump command change.
RECIPE = "static-appcds-1"
GATEWAY_EXIT_S = 60
BUILD_S = 600


class Launch(NamedTuple):
    archive: Path
    classlist: Path | None  # set when this launch records a class list
    java_options: str


def cache_dir() -> Path:
    root = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return Path(root) / "spark-graft" / "cds"


def launched_java() -> Path | None:
    """The ``java`` that Spark's ``bin/spark-class`` runs."""
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    return Path(java).resolve() if java and os.path.isfile(java) else None


def archive_key(spark_home: str, java: Path) -> str | None:
    """A hash of what the archive depends on, made without starting a
    process; None when the JDK has no ``release`` file."""
    h = hashlib.sha256(f"{RECIPE}\0{java}\0".encode())
    try:
        h.update((java.parent.parent / "release").read_bytes())
        jars = sorted(os.scandir(os.path.join(spark_home, "jars")), key=lambda e: e.name)
        for jar in jars:
            st = jar.stat()
            h.update(f"\0{jar.name}\0{st.st_size}\0{st.st_mtime_ns}".encode())
    except OSError:
        return None
    return h.hexdigest()[:32]


def conf_holds_only_templates(spark_home: str) -> bool:
    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    try:
        return all(name.endswith(".template") for name in os.listdir(conf))
    except FileNotFoundError:
        return True
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


def remove_dead_leftovers(cache: Path) -> None:
    """Class lists and part files are named ``<key>.<pid>.<suffix>`` after
    the Python process that made them; remove those whose process is gone."""
    for suffix in ("classlist", "part"):
        for path in cache.glob(f"*.*.{suffix}"):
            pid = path.name.split(".")[1]
            if pid.isdigit() and not _alive(int(pid)):
                path.unlink(missing_ok=True)


def plan_launch() -> Launch | None:
    """How to start the next driver JVM, or None to start it as usual: a
    JVM already runs for this process, the conf directory holds a real
    file, or no cache key or cache directory can be had."""
    from pyspark import SparkContext
    from pyspark.find_spark_home import _find_spark_home

    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return None
    spark_home = _find_spark_home()
    java = launched_java()
    if java is None or not conf_holds_only_templates(spark_home):
        return None
    key = archive_key(spark_home, java)
    if key is None:
        return None
    cache = cache_dir()
    try:
        (cache / "conf").mkdir(parents=True, exist_ok=True)
        remove_dead_leftovers(cache)
    except OSError:
        return None
    archive = cache / f"{key}.jsa"
    if archive.is_file():
        options = ["-Xshare:auto", f"-XX:SharedArchiveFile={archive}", "-XX:+VerifySharedSpaces"]
        classlist = None
    else:
        classlist = cache / f"{key}.{os.getpid()}.classlist"
        options = [f"-XX:DumpLoadedClassList={classlist}"]
    return Launch(archive, classlist, " ".join(shlex.quote(o) for o in options))


@contextlib.contextmanager
def driver_launch() -> Iterator[str | None]:
    """Wrap the ``getOrCreate`` that launches the driver JVM. Yields the
    java options to set as ``spark.driver.defaultJavaOptions`` (which
    leaves ``--driver-java-options`` free for the caller), or None."""
    launch = plan_launch()
    if launch is None:
        yield None
        return
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = str(launch.archive.parent / "conf")
    try:
        yield launch.java_options
    finally:
        if saved is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = saved
    if launch.classlist is not None:
        build_at_exit(launch)


def build_at_exit(launch: Launch) -> None:
    """Read the dump command off the JVM that is recording, and run it
    once that JVM has exited."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return
    jvm = SparkContext._jvm
    system = jvm.java.lang.System
    modules = [
        str(a)
        for a in jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()
        if str(a).startswith("--add-modules")
    ]
    part = launch.archive.with_name(f"{launch.archive.stem}.{os.getpid()}.part")
    cmd = [
        os.path.join(system.getProperty("java.home"), "bin", "java"),
        "-Xshare:dump",
        f"-XX:SharedClassListFile={launch.classlist}",
        f"-XX:SharedArchiveFile={part}",
        "-XX:+VerifySharedSpaces",
        *modules,
        "-cp",
        system.getProperty("java.class.path"),
    ]
    atexit.register(_build, launch, proc, cmd, part)


def _build(launch: Launch, proc: subprocess.Popen, cmd: list[str], part: Path) -> None:
    """End the recording JVM (closing its stdin ends the py4j gateway),
    then dump and publish the archive, unless another process has."""
    from pyspark import SparkContext

    try:
        if proc.poll() is None:
            if SparkContext._active_spark_context is not None:
                # stops the accumulator server, which would otherwise print
                # an EOFError when the JVM closes its connection
                SparkContext._active_spark_context.stop()
            proc.stdin.close()
            proc.wait(timeout=GATEWAY_EXIT_S)
        # only a JVM that exited by itself has flushed the whole class list
        if proc.returncode != 0 or not launch.classlist.is_file():
            return
        with open(launch.archive.with_suffix(".lock"), "w") as lock:
            try:
                fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
            except BlockingIOError:
                return  # another process is building this key
            if launch.archive.exists():
                return
            print(f"spark-graft: building the driver JVM's class-data archive {launch.archive} "
                  "(once per Spark and JDK install, about a minute)", file=sys.stderr)
            done = subprocess.run(cmd, cwd=launch.archive.parent, stdin=subprocess.DEVNULL,
                                  stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                                  timeout=BUILD_S)
            if done.returncode == 0:
                os.replace(part, launch.archive)
    except (OSError, subprocess.TimeoutExpired):
        pass
    finally:
        part.unlink(missing_ok=True)
        launch.classlist.unlink(missing_ok=True)
