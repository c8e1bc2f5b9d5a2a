"""Harness state-hygiene contract (runtime.release_ephemeral).

Pins the r11 fix for the r10 full-bench inflation: ephemeral
localCheckpoints are unpersisted after a query's result is consumed,
while shared-artifact checkpoints (and persist()-based SQL caches) survive
and their downstream consumers still execute. Unpersisting a live
localCheckpoint is unrecoverable (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND),
so the protection logic is load-bearing, not an optimization.

Also pins the source loaders' per-session schema pinning
(sources/tables.py): a repeated load starts no schema-inference job,
and a regenerated source file is re-inferred.
"""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F

from insight_patents_spark import registry, runtime
from insight_patents_spark.sources import tables


def _persistent_ids(spark) -> set[int]:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in jmap.keySet().toArray()}


def _run(spark, sf_dir, name) -> None:
    registry.load_all()[name].fn(spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()


def test_release_drops_unregistered_checkpoint(spark):
    cp = spark.range(1000).withColumn("x", F.col("id") * 2).localCheckpoint()
    cp_id = int(
        cp._jdf.queryExecution().analyzed().collectLeaves().apply(0).rdd().id()
    )
    assert cp_id in _persistent_ids(spark)
    released = runtime.release_ephemeral(spark)
    assert cp_id in released
    assert cp_id not in _persistent_ids(spark)


def test_release_protects_shared_cache_and_consumers(spark, sf_dir):
    # Build the shared graph caches (pair + edge checkpoints), release,
    # then run iterative consumers that would crash with
    # CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND if protection failed.
    _run(spark, sf_dir, "graph_build")
    protected = runtime.protected_rdd_ids()
    assert protected, "graph caches should register protected checkpoints"
    runtime.release_ephemeral(spark)
    assert protected <= _persistent_ids(spark)
    _run(spark, sf_dir, "graph_cc")  # reads the protected edge cache
    runtime.release_ephemeral(spark)
    _run(spark, sf_dir, "graph_degree")  # and again after a release


def test_release_leaves_sql_cache_alone(spark):
    pre = _persistent_ids(spark)
    df = spark.range(512).withColumn("y", F.col("id") % 7).persist()
    df.count()
    cached_ids = _persistent_ids(spark) - pre
    assert cached_ids, "persist()+count should register a persistent RDD"
    released = runtime.release_ephemeral(spark)
    # persist()-based blocks are recomputable; the hook must not touch
    # them (vec_ann_lsh's bucket/shortlist cache contract): the cached
    # RDD is neither in the released list nor gone from the registry.
    assert cached_ids.isdisjoint(released)
    assert cached_ids <= _persistent_ids(spark)
    assert df.count() == 512
    df.unpersist()


def test_release_fails_closed_on_plan_scan_error(spark, monkeypatch):
    # An unscannable shared artifact means the protected set is unknown
    # — the hook must release NOTHING that cycle rather than risk
    # destroying the artifacts' live checkpoints (ADVICE r11).
    cp = spark.range(256).localCheckpoint()
    cp_id = int(
        cp._jdf.queryExecution().analyzed().collectLeaves().apply(0).rdd().id()
    )
    # a DataFrame artifact whose plan scan raises
    poison = spark.range(1)
    poison._jdf = None
    with monkeypatch.context() as m:
        m.setitem(runtime._SHARED, ("app", "sf", "test.poison", "s"), poison)
        released = runtime.release_ephemeral(spark)
        assert released == []
        assert cp_id in _persistent_ids(spark)
    # with the poison gone the same checkpoint is released normally
    assert cp_id in runtime.release_ephemeral(spark)


def test_regenerated_embeddings_rebuild_shared_artifact(spark, sf_dir, tmp_path):
    # The persisted LSH bucket table is a shared artifact keyed by the
    # embeddings' source stamp: regenerating the file in the same
    # session (other rows, new mtime) must rebuild it, not serve the
    # table built from the old file — neither from the artifact dict nor
    # from Spark's SQL cache, which matches the rebuild's plan (same
    # path, same schema) to the old persisted one.
    from insight_patents_spark.operators.vector import _lsh_bucket_table

    path = tmp_path / "embeddings.parquet"
    shutil.copyfile(f"{sf_dir}/embeddings.parquet", path)
    d = str(tmp_path)
    t = pq.read_table(path)
    first = _lsh_bucket_table(spark, d)
    assert first.count() == t.num_rows
    assert _lsh_bucket_table(spark, d) is first  # a hit
    pq.write_table(t.slice(0, t.num_rows // 2), path)
    st = os.stat(path)
    os.utime(path, (st.st_atime, st.st_mtime + 10))
    again = _lsh_bucket_table(spark, d)
    assert again is not first
    assert again.count() == t.num_rows // 2
    # the superseded SQL cache is dropped, not matched by plan
    assert not first.is_cached


def test_ephemeral_checkpoints_do_not_accumulate(spark, sf_dir):
    # A checkpoint-heavy query's pinned RDDs must not outlive the hook:
    # after release, only protected + persist-based blocks remain.
    _run(spark, sf_dir, "dedup_cluster_cc")  # builds sig/pairs/cc caches
    runtime.release_ephemeral(spark)
    baseline = _persistent_ids(spark)
    _run(spark, sf_dir, "graph_louvain_move")  # many loop checkpoints
    assert _persistent_ids(spark) > baseline
    runtime.release_ephemeral(spark)
    leftover = _persistent_ids(spark) - baseline - runtime.protected_rdd_ids()
    # anything left must be persist-based (no checkpointData), not pinned
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for k in jmap.keySet().toArray():
        if int(k) in leftover:
            assert not jmap.get(k).rdd().checkpointData().isDefined()


def _jobs_in_group(spark, group, fn):
    """Run ``fn()`` under job group ``group``; return (its result, the
    number of Spark jobs it started)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job events are async
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _fresh_schema(spark, path):
    # a schema-less read, as Spark infers it (events under nanosAsLong,
    # the conf every events read in the engine sets)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark.read.parquet(path).schema


def test_repeat_load_starts_no_schema_job(spark, sf_dir):
    for name in tables.TABLE_NAMES:
        first = tables.load(spark, sf_dir, name)
        again, jobs = _jobs_in_group(
            spark, f"pin:{name}", lambda: tables.load(spark, sf_dir, name)
        )
        assert jobs == 0, f"{name}: repeat load started {jobs} job(s)"
        assert again.schema == first.schema, name
        raw = tables.read_raw(spark, sf_dir, name)
        assert raw.schema == _fresh_schema(spark, f"{sf_dir}/{name}.parquet"), name


def test_regenerated_source_is_reinferred(spark, sf_dir, tmp_path):
    # a copy of events in a fresh dir: its first read infers (a job),
    # the second does not
    src = f"{sf_dir}/events.parquet"
    path = tmp_path / "events.parquet"
    shutil.copyfile(src, path)
    d = str(tmp_path)
    _, jobs = _jobs_in_group(
        spark, "pin:first", lambda: tables.read_raw(spark, d, "events").schema
    )
    assert jobs >= 1, "first read of a new source must infer its schema"
    _, jobs = _jobs_in_group(
        spark, "pin:second", lambda: tables.read_raw(spark, d, "events").schema
    )
    assert jobs == 0
    # regenerate it with ts as TIMESTAMP(NANOS): a new (mtime, size)
    # stamp, and a schema the pinned one no longer describes (ts reads as
    # bigint nanos under nanosAsLong)
    t = pq.read_table(src)
    i = t.schema.get_field_index("ts")
    t = t.set_column(i, "ts", t.column("ts").cast(pa.timestamp("ns")))
    pq.write_table(t, path)
    st = os.stat(path)
    os.utime(path, (st.st_atime, st.st_mtime + 10))
    raw, jobs = _jobs_in_group(
        spark, "pin:regen", lambda: tables.read_raw(spark, d, "events")
    )
    assert jobs >= 1, "a regenerated source must be re-inferred"
    assert raw.schema == _fresh_schema(spark, str(path))
    assert dict(raw.dtypes)["ts"] == "bigint"
    # load() still rebases the nanos onto the same wall clock
    cols = ("event_id", "ts")
    want = sorted(tables.load(spark, sf_dir, "events").select(*cols).collect())
    got = sorted(tables.load(spark, d, "events").select(*cols).collect())
    assert got == want
