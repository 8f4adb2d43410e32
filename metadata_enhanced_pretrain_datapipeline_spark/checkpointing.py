"""Lineage-truncating materialization with a reliable-checkpoint option.

Iterative operators (duplicate_clusters' label rounds) and multi-action
pipelines (mix construction, CDC upsert staging, char-LM model reuse)
must truncate lineage or every downstream action re-evaluates the full
upstream subtree. Locally, ``localCheckpoint`` is the right tool: blocks
live in executor storage, zero filesystem round-trip. But executor-LOCAL
blocks die with their executor — on a real cluster an 8-round clustering
job over 100 TB of candidate pairs would restart from nothing when one
node is lost mid-round, because the truncated lineage cannot recompute
the missing blocks.

``materialize`` therefore takes a ``checkpoint_dir``: when set (directly
or via the ``MEP_SPARK_CHECKPOINT_DIR`` environment variable), it uses a
RELIABLE checkpoint (``SparkContext.setCheckpointDir`` + ``.checkpoint``,
blocks written to the — at scale, fault-tolerant — filesystem), so a lost
executor re-reads its blocks instead of killing the job. When unset, it
falls back to ``localCheckpoint``, the correct local-mode default.

The env-var path exists for the registered driver queries, whose
(spark, sf_dir) signature cannot carry an option: a cluster deployment
exports MEP_SPARK_CHECKPOINT_DIR=hdfs://.../checkpoints and every
materialization boundary in every query flips to reliable mode at once.

RETENTION: reliable checkpoint files are NOT auto-deleted by default —
an iterative job leaves one directory per round, and a long-running
streaming upsert one per batch. Deployments must either set
``spark.cleaner.referenceTracking.cleanCheckpoints=true`` at session
BUILD time (Spark then removes a checkpoint's files when its RDD is
garbage-collected — ``session.get_spark`` sets this) or point
MEP_SPARK_CHECKPOINT_DIR at a path with a TTL/lifecycle policy. The
conf is not runtime-settable, so a vanilla driver session using the
env var needs the lifecycle-policy route.
"""

from __future__ import annotations

import os

from pyspark import StorageLevel
from pyspark.sql import DataFrame

#: Environment variable that flips every materialization boundary in the
#: package to reliable-checkpoint mode (value = the checkpoint directory).
CHECKPOINT_DIR_ENV = "MEP_SPARK_CHECKPOINT_DIR"


_SCAN_CLASSES = (
    "org.apache.spark.sql.execution.datasources.LogicalRelation",
    "org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation",
)


def _is_bare_scan(df: DataFrame) -> bool:
    """True when ``df``'s analyzed plan is a source relation, looking
    through the ``SubqueryAlias`` a catalog table read wraps it in."""
    jvm = df.sparkSession._jvm
    plan = df._jdf.queryExecution().analyzed()
    alias = jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias")
    while alias.isInstance(plan):
        plan = plan.child()
    return any(jvm.java.lang.Class.forName(c).isInstance(plan) for c in _SCAN_CLASSES)


def materialize(df: DataFrame, checkpoint_dir: str | None = None,
                eager: bool = True) -> DataFrame:
    """Truncate ``df``'s lineage: reliable ``.checkpoint()`` when a
    directory is given (argument wins over the MEP_SPARK_CHECKPOINT_DIR
    environment variable), ``localCheckpoint`` otherwise.

    ``eager=False`` defers materialization to the first action — the
    right mode when the caller may never execute the frame (plan-only
    tests) or wants the first real action to pay the cost.

    FAULT TOLERANCE: with no reliable directory, ``eager=False`` uses
    ``persist(MEMORY_AND_DISK)`` rather than a lazy ``localCheckpoint``.
    Both compute the subtree once and stop Catalyst re-evaluating it per
    consumer (the LeftAnti-through-Union duplication this mode exists
    for: cache substitution happens BEFORE the optimizer, so every union
    branch scans the same InMemoryRelation) — but localCheckpoint
    TRUNCATES lineage into executor-local blocks that are NOT
    recomputable: one lost/decommissioned executor after materialization
    fails the whole job on a real cluster. Persist keeps the lineage, so
    a lost block recomputes. The trade: cached blocks accumulate until
    the frame is garbage-collected or ``spark.catalog.clearCache()`` —
    same accumulation localCheckpoint had, now evictable/recomputable.
    Callers that need true lineage truncation (iterative plan growth)
    use ``eager=True``, which keeps localCheckpoint locally.

    ``eager=False`` returns a bare scan (a file read or a catalog table,
    V1 or V2 source) unchanged: a cached scan would stand in for every
    later read of the same source in the session, which then lose their
    column pruning.
    """
    if not eager and _is_bare_scan(df):
        return df
    target = checkpoint_dir or os.environ.get(CHECKPOINT_DIR_ENV)
    if target:
        sc = df.sparkSession.sparkContext
        # setCheckpointDir is idempotent for a fixed target; re-pointing
        # between calls is allowed (each checkpoint remembers its own dir)
        sc.setCheckpointDir(target)
        if eager:
            # .checkpoint() without a persist evaluates the plan TWICE
            # (once for the action that triggers it, once to write the
            # checkpoint files — known Spark behavior), so every
            # duplicate_clusters round and materialize boundary would pay
            # ~2x compute under MEP_SPARK_CHECKPOINT_DIR. Persist first so
            # the checkpoint write re-reads cached blocks, then unpersist:
            # the reliable files now carry the data and the cached blocks
            # are dead weight.
            df = df.persist(StorageLevel.MEMORY_AND_DISK)
            out = df.checkpoint(eager=True)
            df.unpersist()
            return out
        # lazy mode: the first action computes + writes in one pass only
        # if the caller persisted; we cannot persist here because nothing
        # may ever materialize it (plan-only tests) and the cached blocks
        # would pin executor storage with no unpersist point.
        return df.checkpoint(eager=False)
    if not eager:
        # see docstring: recomputable (lineage kept) where a lazy
        # localCheckpoint would strand non-recomputable executor-local
        # blocks; still computes the subtree once across all consumers.
        # Two tuning levers make persist bench at parity with the lazy
        # localCheckpoint it replaced (r9 ABBA, SCALE.md round-9
        # adjudication of the r8 drift): DESER — the DataFrame .cache()
        # default — instead of the serialized level, and the
        # session-level canChangeCachedPlanOutputPartitioning=true
        # (session.py), without which every shuffle compiled under an
        # InMemoryRelation runs at the full AQE initialPartitionNum
        # uncoalesced — THAT, not serialization, was the measured 1.65x
        # on q_perplexity_buckets.
        return df.persist(StorageLevel.MEMORY_AND_DISK_DESER)
    return df.localCheckpoint(eager=eager)
