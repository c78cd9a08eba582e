"""serene_spark.materialize — deploy-mode-aware lineage truncation.

The helper exists so iterative operators never hard-code localCheckpoint
(executor-lost-data on a real cluster). The local[*] path is covered
in-process; the multi-executor path runs headline queries end-to-end on
a real ``local-cluster[2,2,1024]`` master in a SUBPROCESS (two Spark
contexts cannot share a JVM) and is gated behind SERENE_CLUSTER_SMOKE=1
because it boots worker JVMs (~2 min).
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pytest

from serene_spark.materialize import (
    CONSTRAINT_PROP_CONF,
    constraint_propagation_off,
    materialize,
)


def test_materialize_local_uses_localcheckpoint(spark):
    df = spark.range(100).withColumnRenamed("id", "n")
    out = materialize(df)
    # lineage is truncated: the materialized plan is a leaf scan, not the
    # original Range
    assert "Scan ExistingRDD" in out._jdf.queryExecution().executedPlan().toString() \
        or out.rdd.getCheckpointFile() is None  # localCheckpoint: no file
    assert out.count() == 100
    assert out.schema == df.schema


def test_constraint_propagation_off_scopes_and_restores(spark):
    """The guard flips the conf off only inside the scope, restores the
    previous value on normal exit AND on error, and a plan materialized
    inside the scope yields the same rows as one materialized outside
    (the pass only adds inferred filters — results cannot differ)."""
    before = spark.conf.get(CONSTRAINT_PROP_CONF)
    with constraint_propagation_off(spark):
        assert spark.conf.get(CONSTRAINT_PROP_CONF) == "false"
    assert spark.conf.get(CONSTRAINT_PROP_CONF) == before

    with pytest.raises(RuntimeError):
        with constraint_propagation_off(spark):
            assert spark.conf.get(CONSTRAINT_PROP_CONF) == "false"
            raise RuntimeError("boom")
    assert spark.conf.get(CONSTRAINT_PROP_CONF) == before

    # miniature of the hazard shape: wide OR filter under a stack
    wide = spark.range(50).selectExpr(
        *[f"cast(id * {i + 1} as string) AS c{i}" for i in range(4)]
    )
    filt = wide.filter(
        "length(c0) > 0 OR length(c1) > 0 OR length(c2) > 0 OR length(c3) > 0"
    )
    long = filt.selectExpr("stack(4, 'c0', c0, 'c1', c1, 'c2', c2, 'c3', c3)"
                           " AS (column_name, value)")
    with constraint_propagation_off(spark):
        inside = materialize(long)
    outside = materialize(long)
    assert sorted(map(tuple, inside.collect())) == sorted(map(tuple, outside.collect()))


def test_materialize_prefers_reliable_checkpoint_when_dir_set(tmp_path):
    # subprocess: setting a checkpoint dir on the shared session fixture
    # would flip every later test onto the slower reliable-checkpoint path
    code = textwrap.dedent(f"""
        from pyspark.sql import SparkSession
        from serene_spark.materialize import materialize
        spark = (SparkSession.builder.master("local[2]")
                 .config("spark.ui.enabled", "false").getOrCreate())
        spark.sparkContext.setCheckpointDir("{tmp_path}/ckpt")
        out = materialize(spark.range(10))
        assert out.count() == 10
        # reliable checkpoint writes rdd-* block dirs under the configured
        # dir (Dataset.checkpoint wraps the files in a fresh LogicalRDD, so
        # out.rdd.getCheckpointFile() cannot see them)
        import glob
        written = glob.glob("{tmp_path}/ckpt/*/rdd-*")
        assert written, "expected reliable checkpoint files"
        print("RELIABLE_OK")
    """)
    r = subprocess.run([sys.executable, "-c", code], capture_output=True,
                       text=True, timeout=300,
                       cwd=os.path.dirname(os.path.dirname(__file__)))
    assert "RELIABLE_OK" in r.stdout, r.stdout + r.stderr


def test_materialize_env_dir_switches_to_reliable_checkpoint(tmp_path):
    # SERENE_CHECKPOINT_DIR is the deployment-level switch for the staged
    # pushdown-barrier paths: same barrier, fault-tolerant storage.
    # Subprocess for the same session-isolation reason as above.
    code = textwrap.dedent(f"""
        from pyspark.sql import SparkSession
        from serene_spark.materialize import materialize
        spark = (SparkSession.builder.master("local[2]")
                 .config("spark.ui.enabled", "false").getOrCreate())
        out = materialize(spark.range(10))
        assert out.count() == 10
        import glob
        written = glob.glob("{tmp_path}/envckpt/*/rdd-*")
        assert written, "expected reliable checkpoint files under the env dir"
        print("ENV_RELIABLE_OK")
    """)
    env = dict(os.environ, SERENE_CHECKPOINT_DIR=f"{tmp_path}/envckpt")
    r = subprocess.run([sys.executable, "-c", code], capture_output=True,
                       text=True, timeout=300, env=env,
                       cwd=os.path.dirname(os.path.dirname(__file__)))
    assert "ENV_RELIABLE_OK" in r.stdout, r.stdout + r.stderr


CLUSTER_SMOKE = textwrap.dedent("""
    from pyspark.sql import SparkSession
    from serene_spark.session import tune_session, _RUNTIME_CONFS

    builder = (SparkSession.builder.master("local-cluster[2,2,1024]")
               .appName("serene-cluster-smoke")
               .config("spark.sql.shuffle.partitions", "8")
               .config("spark.ui.enabled", "false"))
    for k, v in _RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = tune_session(builder.getOrCreate())

    from serene_spark.registry import load_all
    qs = load_all()
    sf = "/root/testdata/sf0.001"
    # headline queries that route through materialize(): iterative CC +
    # pagerank loops, the LSH verified pipeline, and a profiling query
    for name in ("dedup_lsh_verified", "dedup_clusters",
                 "pagerank_converged", "profile_scalar_customer"):
        if name not in qs:
            continue
        n = qs[name].spark(spark, sf).count()
        print("SMOKE", name, n)
    print("CLUSTER_SMOKE_OK")
""")


@pytest.mark.skipif(os.environ.get("SERENE_CLUSTER_SMOKE") != "1",
                    reason="boots a local-cluster master with worker JVMs; "
                           "set SERENE_CLUSTER_SMOKE=1 to run")
def test_materialize_survives_multi_executor_cluster():
    r = subprocess.run([sys.executable, "-c", CLUSTER_SMOKE],
                       capture_output=True, text=True, timeout=540,
                       cwd=os.path.dirname(os.path.dirname(__file__)))
    assert "CLUSTER_SMOKE_OK" in r.stdout, r.stdout[-2000:] + r.stderr[-4000:]


CLUSTER_BENCH_SMOKE = textwrap.dedent("""
    import logging
    from pyspark.sql import SparkSession
    from serene_spark.session import tune_session, _RUNTIME_CONFS

    builder = (SparkSession.builder.master("local-cluster[2,2,1024]")
               .appName("serene-cluster-bench-smoke")
               .config("spark.sql.shuffle.partitions", "8")
               .config("spark.ui.enabled", "false"))
    for k, v in _RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = tune_session(builder.getOrCreate())

    # count materialize() durability-fallback warnings: the contract is
    # ZERO under local-cluster (it provisions a shared checkpoint dir)
    warnings = []
    class _Catch(logging.Handler):
        def emit(self, record):
            if "materialize()" in record.getMessage():
                warnings.append(record.getMessage())
    logging.getLogger("serene_spark.materialize").addHandler(_Catch())

    from serene_spark.registry import load_all
    from serene_spark.operators.profile_scalar import profile_scalar
    qs = load_all()
    sf = "/root/testdata/sf0.001"
    names = ["typeinfer_lineitem", "numeric_stats_lineitem",
             "q1_pricing_summary", "q3_shipping_priority",
             "q5_local_supplier", "events_sessionize",
             "events_tumbling_hour", "dedup_minhash_lsh", "dedup_exact",
             "similarity_cosine_topk", "text_quality",
             "semantic_type_predict"]
    n = profile_scalar(spark, sf, "lineitem").count()
    print("SMOKE profile_scalar_lineitem", n)
    for name in names:
        n = qs[name].spark(spark, sf).count()
        print("SMOKE", name, n)
    assert not warnings, warnings
    print("CLUSTER_BENCH_OK")
""")


@pytest.mark.skipif(os.environ.get("SERENE_CLUSTER_SMOKE") != "1",
                    reason="boots a local-cluster master with worker JVMs; "
                           "set SERENE_CLUSTER_SMOKE=1 to run")
def test_full_bench_set_survives_multi_executor_cluster():
    """Every query in the driver's 13-query bench headline set runs to
    completion on a REAL multi-executor master (local-cluster[2,2,1024])
    with zero materialize() durability fallbacks — certifies the bench
    surface carries no single-JVM assumption (localCheckpoint reliance,
    driver-local temp paths, broadcast-only-in-process state)."""
    r = subprocess.run([sys.executable, "-c", CLUSTER_BENCH_SMOKE],
                       capture_output=True, text=True, timeout=1200,
                       cwd=os.path.dirname(os.path.dirname(__file__)))
    assert "CLUSTER_BENCH_OK" in r.stdout, r.stdout[-2000:] + r.stderr[-4000:]


def test_overlapping_constraint_propagation_scopes_restore_the_conf(spark):
    """Two threads' scopes forced to overlap: the second enters only after
    the first has left, so the conf ends at its original value (without the
    lock the second saves ``"false"`` and restores it last)."""
    import threading

    before = spark.conf.get(CONSTRAINT_PROP_CONF)
    a_in, b_entering, b_in, a_out = (threading.Event() for _ in range(4))

    def first():
        with constraint_propagation_off(spark):
            a_in.set()
            b_entering.wait(5)
            b_in.wait(1)  # set at once unless the scopes are serialized
        a_out.set()

    def second():
        a_in.wait(5)
        b_entering.set()
        with constraint_propagation_off(spark):
            b_in.set()
            a_out.wait(5)

    threads = [threading.Thread(target=f) for f in (first, second)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(15)
    assert not any(t.is_alive() for t in threads)
    assert spark.conf.get(CONSTRAINT_PROP_CONF) == before
