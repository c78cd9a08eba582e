"""SparkSession management.

The reference creates and tears down a ``local[*]`` session *per request*
(matcher/.../train/TrainMlibSemanticTypeClassifier.scala:248-262,
matcher/.../matcher/MLibSemanticTypeClassifier.scala:52-60) — an anti-pattern.
Here one long-lived session serves the whole engine, and ``tune_session``
applies runtime-settable knobs defensively so operators behave identically on
sessions we did not create (e.g. the correctness driver's session).

Cold start. Before the session exists, a new driver JVM loads and verifies
~11k classes from Spark's jars. ``get_spark`` starts that JVM from a JDK
class-data-sharing (AppCDS) dynamic archive instead. The first start records
the archive as its JVM exits, and every later start maps it; that roughly
halves the engine's set-up time. The recording start is slower, and its
exit waits ~20 s for the JVM to write the archive, once. The archive lives in
a per-user cache, ``CDS_ROOT``, keyed by the java binary, Spark's jars and
the driver heap. It holds only the classes its recording process loaded,
and nothing refreshes it, so the first process on a host decides what
every later start maps (107 MB after a fast test subset, 175 MB after a
perfbench run, 204 MB after the full test suite); classes outside it are
read from the jars on every start. To rebuild it, delete the ``cds/``
directory and run the widest workload once, e.g. the full test suite.

JDK 17 writes no archive while a non-empty directory is on the class path,
and the Spark launcher puts its conf dir there first. So the archive is used
only when that conf dir holds nothing but ``*.template`` files and no other
directory joins the class path; the gateway launch then gets an empty conf
dir of its own. Otherwise, or when the cache cannot be written, the JVM
starts exactly as it would without the archive. A stale archive falls back
to a plain start silently (the JVM's CDS logging, which goes to stdout, is
off), and one whose size no longer matches the size in its name is ignored.
"""

from __future__ import annotations

import atexit
import glob
import hashlib
import os
import shlex
import shutil
import subprocess
import time
import weakref
from contextlib import contextmanager, suppress

from pyspark.sql import SparkSession

# Runtime-settable confs every operator depends on.
_RUNTIME_CONFS = {
    # DuckDB (and the synthetic parquet) use naive/UTC timestamps; render the
    # same way regardless of host timezone.
    "spark.sql.session.timeZone": "UTC",
    # events.parquet stores TIMESTAMP(NANOS) which Spark cannot read natively;
    # read the raw int64 nanos and convert with timestamp_micros(ts div 1000).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Runtime re-planning: partition coalescing and skew-join splitting are
    # essential at the 100 TB target where static planning is always wrong.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
}

# Sessions tune_session has tuned.
_TUNED: weakref.WeakSet[SparkSession] = weakref.WeakSet()

# Per-user cache of the driver JVM's class-data-sharing archives, and the
# empty conf dir their launches use. Archives depend on the JDK and Spark's
# jars only, so every checkout of this user shares them.
CDS_ROOT = os.path.join(os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache"),
                        "serene_spark", "cds")
JAVA_OPTIONS = "spark.driver.defaultJavaOptions"
# Environment variables that put more directories on the driver's class
# path: with any of them set, the JVM could not write the archive.
_CLASSPATH_ENV = ("SPARK_DIST_CLASSPATH", "HADOOP_CONF_DIR", "YARN_CONF_DIR",
                  "SPARK_PREPEND_CLASSES", "SPARK_TESTING")
# The JVM logs CDS trouble to stdout; with this, a stale archive falls back
# to a plain start without a word.
_CDS_QUIET = "-Xlog:cds*=off"
# How long interpreter exit waits for the recording JVM to write its archive.
_ARCHIVE_WAIT_S = 300.0


def default_driver_memory() -> str:
    """Half of this host's physical RAM, as a ``spark.driver.memory`` value:
    a heap at or above physical RAM turns a driver OOM into an OS kill."""
    ram = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{ram // 2 // 2**20}m"


def default_cpus() -> int:
    """The CPUs this process may run on (``os.cpu_count()`` where the
    affinity mask cannot be read)."""
    try:
        return len(os.sched_getaffinity(0))
    except (AttributeError, OSError):
        return os.cpu_count() or 1


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an externally-owned session."""
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # conf not settable on this session: keep going
            pass
    _TUNED.add(spark)
    return spark


def tune_once(spark: SparkSession) -> SparkSession:
    """``tune_session`` unless the session was tuned before, so a conf its
    caller later scopes on purpose stays set."""
    return spark if spark in _TUNED else tune_session(spark)


def archive_key(java: str, jars_dir: str, heap: str) -> str:
    """Name of the archive for one java binary, one set of Spark jars (name,
    size, mtime) and one driver heap."""
    h = hashlib.sha256(heap.encode())
    for path in [java] + sorted(os.path.join(jars_dir, n) for n in os.listdir(jars_dir)):
        st = os.stat(path)
        h.update(f"\0{path}\0{st.st_size}\0{st.st_mtime_ns}".encode())
    return h.hexdigest()[:24]


def _templates_only(conf_dir: str) -> bool:
    """True when ``conf_dir`` holds nothing but ``*.template`` files, or
    does not exist: the launch then reads nothing from it."""
    try:
        return all(n.endswith(".template") for n in os.listdir(conf_dir))
    except FileNotFoundError:
        return True
    except OSError:
        return False


def with_java_options(submit_args: str, flags: str) -> str:
    """``submit_args`` (a ``PYSPARK_SUBMIT_ARGS`` value) with ``flags``
    appended to the caller's ``spark.driver.defaultJavaOptions``.
    spark-submit keeps the last ``--conf`` of a key, so the merged one goes
    last, just before the primary resource."""
    args = shlex.split(submit_args) or ["pyspark-shell"]
    value = flags
    for i, arg in enumerate(args[:-1]):
        if arg in ("--conf", "-c"):
            conf = args[i + 1]
        elif arg.startswith("--conf="):
            conf = arg[len("--conf="):]
        else:
            continue
        key, _, prev = conf.partition("=")
        if key == JAVA_OPTIONS and prev:
            value = f"{prev} {flags}"
    return shlex.join(args[:-1] + ["--conf", f"{JAVA_OPTIONS}={value}", args[-1]])


def _java_binary() -> str | None:
    """The java the Spark launcher runs: ``$JAVA_HOME/bin/java``, else the
    one on ``PATH``."""
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    return os.path.realpath(java) if java and os.path.isfile(java) else None


def _published_archive(key: str) -> str | None:
    """The archive published for ``key``, if its size still matches the
    size in its name: the JVM dies of SIGBUS mapping a truncated one."""
    for path in glob.glob(os.path.join(glob.escape(CDS_ROOT), f"{key}-*.jsa")):
        size = path[:-len(".jsa")].rsplit("-", 1)[1]
        if size.isdigit() and os.path.getsize(path) == int(size):
            return path
    return None


def _remove_stale_recordings() -> None:
    """Delete the temporary archives of processes that died before they
    could publish theirs (``<key>.<pid>.<ns>.tmp``)."""
    for path in glob.glob(os.path.join(glob.escape(CDS_ROOT), "*.tmp")):
        try:
            os.kill(int(os.path.basename(path).split(".")[1]), 0)
        except ProcessLookupError:
            with suppress(OSError):
                os.remove(path)
        except (OSError, ValueError, IndexError):
            pass


def cds_flags(heap: str, spark_home: str) -> tuple[str, str | None] | None:
    """The driver JVM's class-data-sharing flags for a launch from
    ``spark_home`` with heap ``heap``, and the temporary file the JVM records
    the archive to (None when it maps a published one); None for a plain
    start."""
    java = _java_binary()
    jars = os.path.join(spark_home, "jars")
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    submit_args = os.environ.get("PYSPARK_SUBMIT_ARGS", "")
    if (java is None or not os.path.isdir(jars) or not _templates_only(conf_dir)
            or any(os.environ.get(v) for v in _CLASSPATH_ENV)
            or "--driver-class-path" in submit_args or "extraClassPath" in submit_args):
        return None
    try:
        key = archive_key(java, jars, heap)
        empty_conf = os.path.join(CDS_ROOT, "conf")
        os.makedirs(empty_conf, exist_ok=True)
        if os.listdir(empty_conf) or not os.access(CDS_ROOT, os.W_OK):
            return None
        archive = _published_archive(key)
        if archive is not None:
            return f"-XX:SharedArchiveFile={shlex.quote(archive)} {_CDS_QUIET}", None
        _remove_stale_recordings()
    except OSError:
        return None
    tmp = os.path.join(CDS_ROOT, f"{key}.{os.getpid()}.{time.time_ns()}.tmp")
    return f"-XX:ArchiveClassesAtExit={shlex.quote(tmp)} {_CDS_QUIET}", tmp


@contextmanager
def _cds_launch(heap: str):
    """Around the gateway launch: point ``SPARK_CONF_DIR`` at the empty conf
    dir and add the class-data-sharing flags to ``PYSPARK_SUBMIT_ARGS``,
    then restore both. Yields the archive's temporary file when this launch
    records it, else None."""
    from pyspark.find_spark_home import _find_spark_home

    plan = cds_flags(heap, _find_spark_home())
    if plan is None:
        yield None
        return
    flags, tmp = plan
    saved = {k: os.environ.get(k) for k in ("SPARK_CONF_DIR", "PYSPARK_SUBMIT_ARGS")}
    os.environ["SPARK_CONF_DIR"] = os.path.join(CDS_ROOT, "conf")
    os.environ["PYSPARK_SUBMIT_ARGS"] = with_java_options(
        saved["PYSPARK_SUBMIT_ARGS"] or "pyspark-shell", flags)
    try:
        yield tmp
    finally:
        for k, v in saved.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v


def _publish_archive(proc: subprocess.Popen, tmp: str) -> None:
    """At interpreter exit: end the gateway JVM if it still runs (it exits
    when its stdin closes, and writes the archive as it exits), then move
    the archive into place with its size in its name, unless another
    process has published one meanwhile."""
    from pyspark import SparkContext

    try:
        if proc.poll() is None:
            sc = SparkContext._active_spark_context
            if sc is not None:
                # stopped first, the Python side stops its accumulator server
                # before the JVM goes, instead of printing its EOFError
                sc.stop()
            proc.stdin.close()
            proc.wait(timeout=_ARCHIVE_WAIT_S)
        key = os.path.basename(tmp).split(".")[0]
        if proc.returncode == 0 and _published_archive(key) is None:
            os.replace(tmp, os.path.join(os.path.dirname(tmp),
                                         f"{key}-{os.path.getsize(tmp)}.jsa"))
    except (OSError, subprocess.TimeoutExpired):
        pass
    with suppress(OSError):
        os.remove(tmp)


def get_spark(app_name: str = "serene-spark", cpus: int | str | None = None) -> SparkSession:
    """Build (or reuse) the engine session.

    Parallelism comes from ``cpus``, else ``SPARK_GRAFT_CPUS`` (driver
    contract), else ``default_cpus()``, and scales
    ``spark.sql.shuffle.partitions`` with it: on a real cluster this would be
    executor-count driven; AQE coalesces the excess at runtime either way.
    A new driver JVM starts from the class-data-sharing archive (module
    docstring).
    """
    from pyspark import SparkContext

    cpus = str(cpus or os.environ.get("SPARK_GRAFT_CPUS") or default_cpus())
    heap = os.environ.get("SERENE_SPARK_DRIVER_MEM") or default_driver_memory()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(int(cpus) * 2, 8)))
        .config("spark.driver.memory", heap)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
    )
    for k, v in _RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return tune_session(builder.getOrCreate())
    with _cds_launch(heap) as tmp:
        spark = builder.getOrCreate()
    if tmp is not None:
        atexit.register(_publish_archive, SparkContext._gateway.proc, tmp)
    return tune_session(spark)
