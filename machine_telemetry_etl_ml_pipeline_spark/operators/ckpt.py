"""Checkpoint-rotation hygiene for iterative plans.

`localCheckpoint(eager=True)` registers its materialized blocks with
the block manager and they stay registered until the SparkContext
stops — `DataFrame.unpersist()` does NOT free them (it talks to the
SQL cache manager, not the checkpoint RDD), and Python GC never
reaches the JVM-side RDD reference. Measured on this build: every
`graph_label_propagation` run leaks 2 RDDs / ~5 MB, so a 48-query
x 3-rep bench suite accumulates hundreds of orphaned block-manager
entries — the "suite-context pressure" drift SCALE.md's
bench-regression re-measure documented. At 100 TB the same leak is
worse than drift: a 7-round peel keeps SEVEN full edge-list copies
in executor storage when only the newest is still reachable.

The fix is the GraphX iteration discipline: each round retires the
checkpoint it just superseded. Blocks are addressed through
`JavaSparkContext.getPersistentRDDs()` (a plain java.util.Map of
rdd-id -> JavaRDD), the only stable handle on a checkpointed
Dataset's internal RDD from Python. Retiring is only legal for a
frame that nothing downstream references — retired frames FAIL if
re-used (lineage is truncated; verified in tests/test_ckpt.py) —
which is exactly the strictly-superseded contract the iterative
operators already maintain.

Safety note: id attribution snapshots the persistent-RDD id set
around the checkpoint call, so concurrent queries checkpointing on
the same SparkContext could interleave — and for lineage-truncated
local checkpoints a mis-attributed unpersist is an unrecoverable
query failure, not a slowdown. All callers here run their rounds
sequentially on one driver thread (the loop IS the algorithm), and
`checkpoint_rotate` ENFORCES that: a second thread entering while
another holds the attribution window raises RuntimeError instead of
silently corrupting a neighbor's blocks. A multi-tenant deployment
would key the registry by job group instead.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession

from . import plancap

_ATTRIBUTION_LOCK = threading.Lock()

# Reliable-checkpoint escape hatch (VERDICT r13 item 7, guide §5):
# localCheckpoint blocks are executor-local and UNREPLICATED — on a
# real cluster an executor loss kills every query whose lineage was
# truncated onto that executor. Setting this env var to a
# fault-tolerant directory (HDFS/object store) switches every
# checkpoint_rotate / lazy_checkpoint call to reliable
# Dataset.checkpoint() against it — and every checkpoint in the package
# goes through those two (tests/test_registry_layout.py pins that);
# the local default (unset) keeps localCheckpoint, whose in-memory
# blocks are the right tradeoff for a single-node bench. Reliable
# checkpoints live in the FS, not the block manager, so rotation/
# retirement is a no-op for them; file cleanup is Spark's
# spark.cleaner.referenceTracking.cleanCheckpoints (or dir TTL).
_CKPT_DIR_ENV = "SPARK_GRAFT_CHECKPOINT_DIR"
_CKPT_DIR_SET_FOR: set = set()  # SparkContext ids already configured


def _reliable_dir(spark: SparkSession) -> "str | None":
    """The reliable checkpoint directory, set on `spark`'s context on
    first use; None when the escape hatch is off."""
    ckpt_dir = os.environ.get(_CKPT_DIR_ENV) or None
    if ckpt_dir is not None:
        sc = spark.sparkContext
        if id(sc) not in _CKPT_DIR_SET_FOR:
            sc.setCheckpointDir(ckpt_dir)
            _CKPT_DIR_SET_FOR.add(id(sc))
    return ckpt_dir


# Checkpoint ids that back a RETURNED lazy frame (the iterative
# operators' final round). bench.py sweeps the whole block manager
# between queries; any other long-running driver calls retire_live()
# after materializing the frames it consumed.
_LIVE_IDS: list = []


def _jsc(spark: SparkSession):
    """The JavaSparkContext, or None on sessions without JVM access
    (Spark Connect): there the helpers degrade to plain eager
    localCheckpoint with no-op retirement — correctness is unchanged,
    only the block hygiene is lost."""
    try:
        return spark.sparkContext._jsc
    except Exception:  # noqa: BLE001  (Connect raises on sparkContext)
        return None


def _persistent_ids(spark: SparkSession) -> set:
    jsc = _jsc(spark)
    if jsc is None:
        return set()
    return set(jsc.getPersistentRDDs().keySet().toArray())


def checkpoint_rotate(
    df: DataFrame, retire: "list | tuple" = ()
) -> "tuple[DataFrame, list]":
    """Eagerly localCheckpoint `df`, then unpersist the checkpoint ids
    in `retire` (ids from a previous call's return). Returns
    (checkpointed_df, new_ids) — thread the ids through the loop and
    retire each round's ids when the next round's checkpoint lands.
    """
    spark = df.sparkSession
    # Id attribution diffs the context-GLOBAL persistent-RDD set, so a
    # concurrent checkpoint on the same SparkContext would be
    # attributed to this caller and later wrongly unpersisted. Fail
    # loudly instead: the iterative operators are single-driver-thread
    # by design (the loop is the algorithm).
    if not _ATTRIBUTION_LOCK.acquire(blocking=False):
        raise RuntimeError(
            "checkpoint_rotate: concurrent call on one SparkContext — "
            "id attribution would cross-attribute checkpoint blocks "
            "(see operators/ckpt.py safety note); serialize callers "
            "or key attribution by job group"
        )
    try:
        if _reliable_dir(spark) is not None:
            out = df.checkpoint(eager=True)
            plancap.note(df)
            # reliable checkpoints hold no block-manager ids; retiring
            # the superseded ones stays correct (they may be local ids
            # from before the env flip mid-process)
            retire_ids(spark, retire)
            return out, []
        before = _persistent_ids(spark)
        out = df.localCheckpoint(eager=True)
        plancap.note(df)  # finalized construction-time plan (no-op unless auditing)
        jsc = _jsc(spark)
        if jsc is None:
            return out, []
        jmap = jsc.getPersistentRDDs()
        new_ids = [i for i in jmap.keySet().toArray() if i not in before]
        for rid in retire:
            r = jmap.get(rid)
            if r is not None:
                r.unpersist(False)
        return out, new_ids
    finally:
        _ATTRIBUTION_LOCK.release()


def lazy_checkpoint(df: DataFrame) -> DataFrame:
    """localCheckpoint(eager=False): the LOGICAL plan caps immediately
    (LogicalRDD), but blocks materialize only at the frame's first
    action — so an iterative loop whose per-round 1-row stats collect
    already scans the round's frame gets the checkpoint materialized
    in the SAME job (1 job/round instead of a stats job + an eager
    checkpoint job; VERDICT r13 item 3). Pair with `attributed()`
    around that first action to learn the block ids for rotation.
    Honors the reliable-checkpoint escape hatch like checkpoint_rotate."""
    if _reliable_dir(df.sparkSession) is not None:
        out = df.checkpoint(eager=False)
    else:
        out = df.localCheckpoint(eager=False)
    plancap.note(df)
    return out


def attributed(spark: SparkSession, action):
    """Run `action` — the FIRST action over frames built from
    lazy_checkpoint — under the attribution lock, diffing the
    persistent-RDD id set around it. Returns (action result, new ids).
    Same single-driver-thread contract as checkpoint_rotate: a
    concurrent caller raises instead of cross-attributing blocks."""
    if not _ATTRIBUTION_LOCK.acquire(blocking=False):
        raise RuntimeError(
            "attributed: concurrent call on one SparkContext — id "
            "attribution would cross-attribute checkpoint blocks "
            "(see operators/ckpt.py safety note); serialize callers"
        )
    try:
        before = _persistent_ids(spark)
        res = action()
        new_ids = [i for i in _persistent_ids(spark) if i not in before]
        return res, new_ids
    finally:
        _ATTRIBUTION_LOCK.release()


def retire_ids(spark: SparkSession, ids) -> None:
    """Unpersist specific checkpoint ids (end-of-loop cleanup for a
    frame the returned plan does not reference)."""
    jsc = _jsc(spark)
    if jsc is None:
        return
    jmap = jsc.getPersistentRDDs()
    for rid in ids:
        r = jmap.get(rid)
        if r is not None:
            r.unpersist(False)


def note_live(ids) -> None:
    """Record checkpoint ids that back a frame being RETURNED to the
    caller (the iterative operators' final round). The ids must stay
    persisted until the caller materializes the frame — truncated
    lineage cannot be recomputed — after which `retire_live` (or a
    global `unpersist_all` sweep) frees them."""
    _LIVE_IDS.extend(ids)


def retire_live(spark: SparkSession) -> int:
    """Retire every id noted via `note_live`. Call after the consumer
    has fully materialized (collected/written) the frames it was
    handed; returns the number retired. Long-running non-bench drivers
    use this instead of the sledgehammer `unpersist_all`."""
    ids = list(_LIVE_IDS)
    _LIVE_IDS.clear()
    retire_ids(spark, ids)
    return len(ids)


def unpersist_all(spark: SparkSession) -> int:
    """Free every persisted/checkpointed RDD on the context. Harness
    hygiene between independent queries (bench, long-running drivers):
    SEQUENTIAL-ONLY — no live query, stream, or concurrent rep may be
    mid-flight anywhere on this context, since this frees blocks it
    does not own (a live lineage-truncated checkpoint dies for good).
    Returns the number retired."""
    _LIVE_IDS.clear()  # everything is being swept anyway
    try:
        # drop SQL-cache-manager entries too: persist()-barrier entries
        # (e.g. graph_label_propagation's round caches) register both
        # an InMemoryRelation and a persistent RDD — retiring only the
        # RDD leaves a stale cache entry that silently re-caches on the
        # next same-plan query.
        spark.catalog.clearCache()
    except Exception:  # noqa: BLE001  (Connect sessions: best-effort)
        pass
    jsc = _jsc(spark)
    if jsc is None:
        return 0
    jmap = jsc.getPersistentRDDs()
    ids = list(jmap.keySet().toArray())
    for rid in ids:
        r = jmap.get(rid)
        if r is not None:
            r.unpersist(False)
    return len(ids)
