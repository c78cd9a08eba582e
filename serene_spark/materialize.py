"""Deploy-mode-aware lineage truncation.

Every iterative operator (connected components, PageRank, k-means, BPE
merges, LSH signature reuse) and every multiply-referenced base relation
in this engine needs the same primitive: "compute this DataFrame ONCE,
cut its lineage, and let later plans read the result" — otherwise
Catalyst inlines the whole upstream pipeline at every reference site and
iteration plans grow without bound.

``DataFrame.localCheckpoint`` is the right tool in a single-JVM
``local[*]`` session (the test/bench contract) but the WRONG default on
a cluster: it stores the blocks on executors with no replication AND
truncates lineage, so one lost executor makes the data unrecoverable —
the job dies instead of recomputing. This module centralizes the choice
so operator code never hard-codes the local-only primitive:

==========================  =============================================
session state               materialize(df) does
==========================  =============================================
checkpoint dir configured   df.checkpoint(eager) — reliable storage,
                            survives executor loss (set an HDFS/S3 dir
                            on real clusters)
master local / local[k]     df.localCheckpoint(eager) — one JVM, executor
                            loss is process death anyway
master local-cluster[...]   auto-set a process-local temp checkpoint dir
                            (all executors share the machine), then
                            df.checkpoint(eager)
real cluster, no dir        df.localCheckpoint(eager) + one WARNING per
                            session: durability was opted out, set
                            spark.sparkContext.setCheckpointDir(...)
==========================  =============================================

The eager flag is always on: callers rely on "materialized" meaning
"computed now, exactly once".
"""

from __future__ import annotations

import logging
import tempfile
import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame

_LOG = logging.getLogger("serene_spark.materialize")

_WARNED_APPS: set[str] = set()


def _master(spark) -> str:
    try:
        return spark.conf.get("spark.master")
    except Exception:
        return ""


def _has_checkpoint_dir(spark) -> bool:
    d = spark.sparkContext.getCheckpointDir()
    return d is not None and (not hasattr(d, "isDefined") or d.isDefined())


CHECKPOINT_DIR_ENV = "SERENE_CHECKPOINT_DIR"

CONSTRAINT_PROP_CONF = "spark.sql.constraintPropagation.enabled"
# Held across each constraint_propagation_off scope: two overlapping scopes
# would otherwise restore in the wrong order and leave the pass off for good.
_CONSTRAINT_PROP_LOCK = threading.RLock()


@contextmanager
def constraint_propagation_off(spark):
    """Scope Catalyst constraint propagation OFF around one eager action.

    ``getAllValidConstraints`` is combinatorial in the product of (wide
    OR/AND filter trees) x (many-output aliasing nodes like an 18-branch
    ``stack``): the CSV loader's header-drop filter (OR of per-row 33-column
    conjunctions) plus its all-empty-row filter (33-way OR) under a stack is
    exactly that shape — measured 52-57 s of pure driver planning for a
    2,367-row file, and a driver ``OutOfMemoryError`` when the 33-column
    wide relation itself is checkpointed (r13). The pass only ADDS inferred,
    semantically-implied filters (IsNotNull and transitive predicates), so
    disabling it cannot change results — verified rows-identical on the
    homeseekers long relation (42,606 rows).

    Use it to wrap an EAGER ``materialize(...)`` of such a plan: the
    optimization happens inside the scope, the barrier leaves a leaf
    relation behind, and every downstream plan compiles with the pass back
    ON (keeping its join-pushdown benefits everywhere else). The previous
    conf value is restored even on error. Scopes on other threads wait for
    the open one to close. The conf is session-global, so a query compiled
    on another thread while a scope is open still runs without the pass.
    """
    with _CONSTRAINT_PROP_LOCK:
        prev = spark.conf.get(CONSTRAINT_PROP_CONF)
        spark.conf.set(CONSTRAINT_PROP_CONF, "false")
        try:
            yield
        finally:
            spark.conf.set(CONSTRAINT_PROP_CONF, prev)


def materialize(df: DataFrame) -> DataFrame:
    """Compute ``df`` now, truncate lineage, return the durable handle.

    See the module docstring for the deploy-mode decision table.
    ``SERENE_CHECKPOINT_DIR`` (env) configures the reliable checkpoint
    location without touching caller code — the deployment-level switch
    for the staged/pushdown-barrier paths, whose barriers are semantically
    required (localCheckpoint data dies with an executor at cluster
    scale; a reliable dir makes the same barrier fault-tolerant)."""
    import os

    spark = df.sparkSession
    env_dir = os.environ.get(CHECKPOINT_DIR_ENV)
    if env_dir and not _has_checkpoint_dir(spark):
        spark.sparkContext.setCheckpointDir(env_dir)
    if _has_checkpoint_dir(spark):
        return df.checkpoint(eager=True)
    master = _master(spark)
    if master == "local" or master.startswith("local["):
        return df.localCheckpoint(eager=True)
    if master.startswith("local-cluster["):
        # single machine, multiple executor JVMs: a process-local temp dir
        # is visible to all of them — set it once and use reliable
        # checkpoints so executor loss stays recoverable
        spark.sparkContext.setCheckpointDir(
            tempfile.mkdtemp(prefix="serene-ckpt-"))
        return df.checkpoint(eager=True)
    app = spark.sparkContext.applicationId
    if app not in _WARNED_APPS:
        _WARNED_APPS.add(app)
        _LOG.warning(
            "materialize(): no checkpoint dir configured on cluster master "
            "%r — falling back to localCheckpoint (NOT fault-tolerant: a "
            "lost executor kills the job). Call "
            "spark.sparkContext.setCheckpointDir(<shared path>) for "
            "durable materialization.", master)
    return df.localCheckpoint(eager=True)
