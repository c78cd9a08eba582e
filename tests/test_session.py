"""The engine session fits the host it runs on, and its driver JVM starts
from a class-data-sharing archive only where that is safe."""

from __future__ import annotations

import json
import os
import shlex
import subprocess
import sys
import textwrap

import pytest

from serene_spark import session
from serene_spark.session import (
    JAVA_OPTIONS,
    archive_key,
    cds_flags,
    default_cpus,
    default_driver_memory,
    with_java_options,
)

PHYS_RAM = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_default_driver_memory_below_physical_ram():
    value = default_driver_memory()
    assert value.endswith("m")
    assert 0 < int(value[:-1]) * 2**20 < PHYS_RAM


@pytest.mark.skipif(bool(os.environ.get("SERENE_SPARK_DRIVER_MEM")),
                    reason="driver memory overridden by SERENE_SPARK_DRIVER_MEM")
def test_live_driver_heap_below_physical_ram(spark):
    max_heap = spark._jvm.java.lang.Runtime.getRuntime().maxMemory()
    assert max_heap < PHYS_RAM


def test_load_table_keeps_a_scoped_conf(spark, sf_dir, tmp_path):
    """load_table tunes a session on its first load only: a conf the caller
    sets afterwards survives a later cache miss."""
    import shutil

    from serene_spark.catalog import load_table

    key = "spark.sql.adaptive.coalescePartitions.enabled"
    load_table(spark, sf_dir, "region")
    shutil.copy(f"{sf_dir}/nation.parquet", tmp_path / "nation.parquet")
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        load_table(spark, str(tmp_path), "nation")
        assert spark.conf.get(key) == "false"
    finally:
        spark.conf.set(key, old)


def test_default_cpus_fits_the_host(monkeypatch):
    assert default_cpus() == len(os.sched_getaffinity(0))
    monkeypatch.delattr(os, "sched_getaffinity")
    assert default_cpus() == os.cpu_count()


def test_archive_key_tracks_jars_java_and_heap(tmp_path):
    jars = tmp_path / "jars"
    jars.mkdir()
    (jars / "a.jar").write_bytes(b"a" * 10)
    (jars / "b.jar").write_bytes(b"b" * 10)
    java, other_java = tmp_path / "java", tmp_path / "java2"
    java.write_bytes(b"j")
    other_java.write_bytes(b"j")
    key = archive_key(str(java), str(jars), "4g")
    assert archive_key(str(java), str(jars), "4g") == key
    assert archive_key(str(other_java), str(jars), "4g") != key
    assert archive_key(str(java), str(jars), "8g") != key
    os.utime(java, ns=(1, 1))
    assert archive_key(str(java), str(jars), "4g") != key
    key = archive_key(str(java), str(jars), "4g")
    (jars / "b.jar").write_bytes(b"b" * 11)
    assert archive_key(str(java), str(jars), "4g") != key
    key = archive_key(str(java), str(jars), "4g")
    (jars / "c.jar").write_bytes(b"c")
    assert archive_key(str(java), str(jars), "4g") != key


@pytest.fixture
def spark_home(tmp_path, monkeypatch):
    """A Spark home whose conf dir holds templates only, a cache root of its
    own and no environment that adds to the driver's class path."""
    home = tmp_path / "spark"
    (home / "jars").mkdir(parents=True)
    (home / "jars" / "spark-core.jar").write_bytes(b"jar")
    (home / "conf").mkdir()
    (home / "conf" / "spark-defaults.conf.template").write_text("# template\n")
    monkeypatch.setattr(session, "CDS_ROOT", str(tmp_path / "cds"))
    for var in ("SPARK_CONF_DIR", "PYSPARK_SUBMIT_ARGS") + session._CLASSPATH_ENV:
        monkeypatch.delenv(var, raising=False)
    if session._java_binary() is None:
        pytest.skip("no java binary")
    return home


def test_cds_records_then_maps_a_published_archive(spark_home):
    flags, tmp = cds_flags("4g", str(spark_home))
    assert flags == f"-XX:ArchiveClassesAtExit={tmp} -Xlog:cds*=off"
    assert os.path.dirname(tmp) == session.CDS_ROOT
    assert os.listdir(os.path.join(session.CDS_ROOT, "conf")) == []
    key = os.path.basename(tmp).split(".")[0]
    archive = os.path.join(session.CDS_ROOT, f"{key}-4.jsa")
    with open(archive, "wb") as f:
        f.write(b"1234")
    assert cds_flags("4g", str(spark_home)) == (
        f"-XX:SharedArchiveFile={archive} -Xlog:cds*=off", None)
    with open(archive, "wb") as f:  # truncated: the JVM must not map it
        f.write(b"12")
    assert cds_flags("4g", str(spark_home))[1] is not None


def test_conf_dir_with_a_real_file_turns_cds_off(spark_home, monkeypatch):
    assert cds_flags("4g", str(spark_home)) is not None
    (spark_home / "conf" / "spark-defaults.conf").write_text("spark.x 1\n")
    assert cds_flags("4g", str(spark_home)) is None
    other = spark_home / "other-conf"
    other.mkdir()
    (other / "log4j2.properties.template").write_text("")
    monkeypatch.setenv("SPARK_CONF_DIR", str(other))
    assert cds_flags("4g", str(spark_home)) is not None
    monkeypatch.setenv("HADOOP_CONF_DIR", str(other))
    assert cds_flags("4g", str(spark_home)) is None


def test_unwritable_cache_turns_cds_off(spark_home, tmp_path, monkeypatch):
    (tmp_path / "file").write_text("")
    monkeypatch.setattr(session, "CDS_ROOT", str(tmp_path / "file" / "cds"))
    assert cds_flags("4g", str(spark_home)) is None


def test_caller_java_options_are_kept():
    def java_options(submit_args):
        args = shlex.split(submit_args)
        assert args[-1] == "pyspark-shell" and args[-3] == "--conf"
        key, _, value = args[-2].partition("=")
        assert key == JAVA_OPTIONS
        return value

    assert java_options(with_java_options("pyspark-shell", "-Xlog:cds*=off")) \
        == "-Xlog:cds*=off"
    assert java_options(with_java_options("", "-Xlog:cds*=off")) == "-Xlog:cds*=off"
    caller = ("--conf spark.ui.enabled=false "
              f"--conf '{JAVA_OPTIONS}=-Da=1 -Db=2' pyspark-shell")
    assert java_options(with_java_options(caller, "-Xlog:cds*=off")) \
        == "-Da=1 -Db=2 -Xlog:cds*=off"
    assert shlex.split(with_java_options(caller, "-X"))[:4] == shlex.split(caller)[:4]
    assert java_options(with_java_options(f"--conf={JAVA_OPTIONS}=-Dc=3 pyspark-shell",
                                          "-X")) == "-Dc=3 -X"


_START = textwrap.dedent("""
    import json, subprocess, sys, time
    t0 = time.perf_counter()
    from serene_spark import session
    session.CDS_ROOT = sys.argv[1]
    spark = session.get_spark("cds-test")
    setup_s = time.perf_counter() - t0
    from pyspark import SparkContext
    jcmd = [sys.argv[2], str(SparkContext._gateway.proc.pid), "PerfCounter.print"]
    counters = dict(line.split("=", 1) for line in subprocess.run(
        jcmd, capture_output=True, text=True, check=True).stdout.splitlines() if "=" in line)
    rows = spark.sparkContext.parallelize(range(100)).map(lambda x: x).count()
    print(json.dumps({"setup_s": setup_s, "rows": rows,
                      "master": spark.sparkContext.master,
                      "loaded": int(counters["java.cls.loadedClasses"]),
                      "shared": int(counters["java.cls.sharedLoadedClasses"])}))
""")


def test_cds_archive_round_trip(tmp_path):
    """First start records the archive at exit, the second maps it (fewer
    classes loaded from jars, faster start), a truncated archive gives a
    plain start; stdout carries the script's one line every time, and a
    recording exit prints no traceback (the Python-side accumulator server
    is stopped before the JVM exits)."""
    java = session._java_binary()
    jcmd = java and os.path.join(os.path.dirname(java), "jcmd")
    if not jcmd or not os.path.exists(jcmd):
        pytest.skip("no jcmd next to the java binary")
    root = tmp_path / "cds"
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}

    def start(**extra):
        proc = subprocess.run([sys.executable, "-c", _START, str(root), jcmd], cwd=tmp_path,
                              env=dict(env, PYTHONPATH=ROOT, **extra),
                              capture_output=True, text=True, timeout=600)
        assert proc.returncode == 0 and "Traceback" not in proc.stderr, proc.stderr[-3000:]
        lines = proc.stdout.splitlines()
        assert len(lines) == 1, lines  # no JVM line on stdout
        return json.loads(lines[0])

    first = start()
    assert first["rows"] == 100 and first["master"] == f"local[{default_cpus()}]"
    archives = [n for n in os.listdir(root) if n.endswith(".jsa")]
    assert len(archives) == 1 and not [n for n in os.listdir(root) if n.endswith(".tmp")]
    second = start(SPARK_GRAFT_CPUS="2")
    assert second["rows"] == 100 and second["master"] == "local[2]"
    assert second["loaded"] * 3 < first["loaded"] and second["shared"] > first["shared"]
    assert second["setup_s"] < first["setup_s"]

    path = root / archives[0]
    data = path.read_bytes()
    path.chmod(0o644)
    path.write_bytes(data[:len(data) // 2])
    third = start()
    assert third["rows"] == 100 and third["loaded"] > 3 * second["loaded"]
    assert not [n for n in os.listdir(tmp_path) if n.startswith("hs_err")]
    # that start recorded a whole archive again
    assert any(
        n.endswith(".jsa") and os.path.getsize(root / n) == int(n[:-4].rsplit("-", 1)[1])
        for n in os.listdir(root))
