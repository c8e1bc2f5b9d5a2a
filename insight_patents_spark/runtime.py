"""Cross-query shared artifacts and per-query executor-state hygiene
for long-lived harness sessions.

Shared artifacts: :func:`shared` builds an intermediate that several
queries read (graph pair/edge snapshot, MinHash signature and tf
tables, verified pairs, LSH buckets, BPE merges) once per session and
source version — the graph-snapshot pattern: build once, traverse many
times. It owns the only artifact dict, keyed ``(applicationId, sf_dir,
tag, src_stamp(sf_dir, source))``; tags are module-qualified
(``"graph.edges"``) because all modules share one namespace. ``build``
materializes its own value (``localCheckpoint()``, ``persist()`` +
``count()``, or driver scalars). Builds nest (edges read pairs), so a
value is inserted only after its ``build()`` returns.

Each miss first evicts entries of a dead application (their pinned
checkpoints are unreclaimable) and the same ``(sf_dir, tag)`` under a
superseded stamp; other sf_dirs and tags stay. A dropped localCheckpoint
goes at the next :func:`release_ephemeral`; a dropped ``persist()``-ed
artifact is unpersisted at once, because Spark's CacheManager matches
cached data by plan and would serve a rebuild over a regenerated file
at the same path the old rows.

Release (r10 bench archaeology, VERDICT r10 "Performance"): many
operators ``localCheckpoint()`` small intermediates — loop frontiers,
probe batches, signature tables — because lazy multi-stage plans blow up
in Catalyst re-optimization. A localCheckpoint pins its blocks in
executor storage memory until explicitly unpersisted, and a 372-query
bench process never unpersisted any of them, so every query ran under
the accumulated storage/GC pressure of all of its predecessors (the
observed uniform ~1.3x drift plus vector-family outliers: vec_ann_nsw
alone checkpoints a full kNN edge table).

The operators themselves CANNOT unpersist at exit: they return lazy
DataFrames that may still read the checkpointed blocks when the harness
finally executes them. The release point is the harness, after the
result is fully consumed — which is what :func:`release_ephemeral`
provides.

What must survive a release: the shared artifacts hold localCheckpointed
DataFrames reused ACROSS queries; unpersisting a localCheckpoint is
unrecoverable (``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`` on next touch —
verified empirically, there is no recompute fallback). A release walks
the artifact dict's DataFrames' analyzed plans, collects the persistent
RDD ids behind their ``LogicalRDD`` leaves, and protects exactly those.

SQL-cached DataFrames (``.persist()``+count, e.g. the vector LSH bucket
tables) are left alone entirely: only RDDs whose ``checkpointData`` is
defined (i.e. localCheckpoints) are candidates. Persist-based cache
blocks are evictable/recomputable by Spark's own storage manager, so
they are not a leak in the same sense.

At 1000-executor scale the same discipline applies unchanged: a
long-lived driver serving many queries must bound pinned storage, and
"release after the sink commits, protect the shared snapshot tables"
is the production form of this hook.
"""

from __future__ import annotations

import logging
from typing import Any, Callable, TypeVar

from pyspark.sql import DataFrame, SparkSession

from .sources.tables import src_stamp

_LOG = logging.getLogger(__name__)

_T = TypeVar("_T")


class PlanScanError(RuntimeError):
    """A shared artifact's plan could not be scanned for its checkpoint
    RDD ids. Protection must be exact (releasing a live localCheckpoint
    is unrecoverable), so this aborts the release cycle instead of
    silently leaving the artifact unprotected."""


# (applicationId, sf_dir, tag, src_stamp) -> artifact: a DataFrame, a
# tuple holding DataFrames and scalars, or plain driver values.
# applicationId, not id(spark): Python may reuse an id after GC.
_SHARED: dict[tuple[str, str, str, str], Any] = {}


def shared(
    spark: SparkSession,
    sf_dir: str,
    tag: str,
    source: str,
    build: Callable[[], _T],
) -> _T:
    """The ``tag`` artifact for ``sf_dir``, built by ``build()`` on the
    first call per (session, version of source table ``source``) and
    returned as is to every later call (module doc: key, eviction,
    release protection)."""
    app = spark.sparkContext.applicationId
    key = (app, sf_dir, tag, src_stamp(sf_dir, source))
    if key in _SHARED:
        return _SHARED[key]
    for k in [k for k in _SHARED if k[0] != app or k[1:3] == (sf_dir, tag)]:
        old = _SHARED.pop(k)
        if k[0] == app:
            for df in _frames(old):
                if df.is_cached:
                    df.unpersist()
    value = build()
    _SHARED[key] = value
    return value


def _frames(value: Any) -> tuple[DataFrame, ...]:
    """The DataFrames inside one artifact (itself, or a tuple's)."""
    parts = value if isinstance(value, (tuple, list)) else (value,)
    return tuple(v for v in parts if isinstance(v, DataFrame))


def _plan_rdd_ids(df: DataFrame) -> set[int]:
    """Persistent-RDD ids behind the LogicalRDD leaves of ``df``'s plan.

    A localCheckpointed DataFrame's analyzed plan is rooted at (or
    contains) LogicalRDD nodes wrapping the pinned RDD; collectLeaves
    finds them at any depth (projections/filters on top included).

    Raises :class:`PlanScanError` if the plan cannot be read — the
    caller must fail CLOSED (skip releasing), because an unscanned
    artifact may own checkpoints that a release would destroy.
    """
    ids: set[int] = set()
    try:
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            if leaf.getClass().getSimpleName() == "LogicalRDD":
                ids.add(int(leaf.rdd().id()))
    except Exception as exc:  # noqa: BLE001 — fail closed, not open
        raise PlanScanError(
            f"cannot scan shared-artifact plan for checkpoint ids: {exc!r}"
        ) from exc
    return ids


def protected_rdd_ids() -> set[int]:
    """Union of checkpoint RDD ids owned by the shared artifacts.

    Propagates :class:`PlanScanError` from any unreadable artifact —
    callers that unpersist must treat that as "protection unknown" and
    release nothing this cycle.
    """
    ids: set[int] = set()
    for value in list(_SHARED.values()):
        for df in _frames(value):
            ids |= _plan_rdd_ids(df)
    return ids


def release_ephemeral(spark: SparkSession) -> list[int]:
    """Unpersist localCheckpoint RDDs not owned by a shared artifact.

    Call ONLY after the current query's result has been fully consumed
    (sink committed / collected): released checkpoints cannot be
    recomputed. Returns the released RDD ids (diagnostics/tests).

    Fails CLOSED: if any shared artifact's plan cannot be scanned, the
    protected set is unknown, so nothing is released this cycle (a
    leaked checkpoint costs memory; a wrongly released one costs the
    query — CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND with no recompute path).
    """
    try:
        protected = protected_rdd_ids()
    except PlanScanError as exc:
        _LOG.warning("release_ephemeral aborted (fail-closed): %s", exc)
        return []
    released: list[int] = []
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for k in jmap.keySet().toArray():
        rid = int(k)
        if rid in protected:
            continue
        jrdd = jmap.get(k)
        try:
            # Only localCheckpoints (checkpointData defined) are pinned
            # irrecoverably; plain persisted RDDs (SQL cache) stay.
            if not jrdd.rdd().checkpointData().isDefined():
                continue
            jrdd.unpersist(False)
            released.append(rid)
        except Exception:  # noqa: BLE001 — a racing removal is fine
            continue
    return released
