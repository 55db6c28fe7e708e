"""Bucketed state table: incremental-merge equivalence (sequential
bucket-scoped merges == one-shot materialize over all events),
untouched-bucket immutability (files neither rewritten nor copied),
atomic manifest versioning, vacuum, and the CdcPipeline integration."""

import os

import pytest
from pyspark.sql import functions as F

from datastream_delta_plugins_spark.operators import cdc
from datastream_delta_plugins_spark.streaming.bucketed_state import (
    BucketedStateTable)
from datastream_delta_plugins_spark.streaming.pipeline import CdcPipeline
from test_streaming import _jobs_started

COLS = ["id", "val", "_op", "_sk1", "_sk2", "_sk3", "_sk4"]


def _changes(spark, rows):
    return spark.createDataFrame(
        rows, "id bigint, val string, _op string, _sk1 bigint, "
              "_sk2 bigint, _sk3 string, _sk4 bigint")


def _batch1(spark):
    return _changes(spark, [
        (i, f"v{i}", "INSERT", 100 + i, 1, "A", 1) for i in range(50)])


def _batch2(spark):
    # touches ids 0-9 only: updates 0-4, deletes 5-9, inserts 100-104
    rows = [(i, f"v{i}x", "UPDATE", 200 + i, 1, "A", 1) for i in range(5)]
    rows += [(i, f"v{i}", "DELETE", 300 + i, 1, "A", 1) for i in range(5, 10)]
    rows += [(i, f"n{i}", "INSERT", 100 + i, 1, "A", 1)
             for i in range(100, 105)]
    return _changes(spark, rows)


def _snap(df):
    return sorted(map(tuple, df.select("id", "val", "_is_deleted").collect()))


def test_incremental_equals_oneshot(spark, tmp_path):
    t = BucketedStateTable(spark, str(tmp_path / "st"), ["id"], n_buckets=8)
    assert t.read() is None
    t.merge(_batch1(spark))
    t.merge(_batch2(spark))
    oneshot = cdc.materialize(
        _batch1(spark).unionByName(_batch2(spark)), ["id"],
        keep_sort_keys=True)
    assert _snap(t.read()) == _snap(oneshot)


def test_untouched_buckets_not_rewritten(spark, tmp_path):
    t = BucketedStateTable(spark, str(tmp_path / "st"), ["id"], n_buckets=8)
    t.merge(_batch1(spark))
    m1 = t.current_manifest()
    files1 = {d: sorted(os.listdir(os.path.join(t.path, d)))
              for d in m1.values()}
    r = t.merge(_batch2(spark))
    m2 = t.current_manifest()
    touched = {str(b) for b in r["touched_buckets"]}
    untouched = set(m1) - touched
    assert untouched, "batch2 should leave some buckets untouched"
    for b in untouched:
        # manifest still points at the ORIGINAL dir with original files
        assert m2[b] == m1[b]
        assert sorted(os.listdir(os.path.join(t.path, m2[b]))) \
            == files1[m1[b]]
    for b in touched & set(m1):
        assert m2[b] != m1[b]  # touched buckets re-point to new files


def test_version_and_bucket_count_pinned(spark, tmp_path):
    t = BucketedStateTable(spark, str(tmp_path / "st"), ["id"], n_buckets=8)
    assert t.version() == -1
    t.merge(_batch1(spark))
    assert t.version() == 0
    t.merge(_batch2(spark))
    assert t.version() == 1
    with pytest.raises(ValueError, match="layout constant"):
        BucketedStateTable(spark, str(tmp_path / "st"), ["id"],
                           n_buckets=16).read()


def test_vacuum_removes_only_unreferenced(spark, tmp_path):
    t = BucketedStateTable(spark, str(tmp_path / "st"), ["id"], n_buckets=8)
    t.merge(_batch1(spark))
    before = _snap(t.read())
    t.merge(_batch2(spark))
    after = _snap(t.read())
    removed = t.vacuum(keep_versions=0)
    # superseded bucket dirs from v0 are gone, current state intact
    assert removed, "v0 versions of touched buckets should be collected"
    assert all(r.startswith(os.path.join("data", "v0")) for r in removed)
    assert _snap(t.read()) == after != before
    assert t.vacuum(keep_versions=0) == []  # idempotent


def test_cdc_pipeline_bucketed_backend(spark, tmp_path):
    p = CdcPipeline(spark, "t1", str(tmp_path / "src"),
                    str(tmp_path / "work"), ["id"],
                    state_backend="bucketed", n_state_buckets=8)
    p.apply_batch(_batch1(spark), 0, streaming_barrier=False)
    p.apply_batch(_batch2(spark), 1, streaming_barrier=False)
    oneshot = cdc.materialize(
        _batch1(spark).unionByName(_batch2(spark)), ["id"],
        keep_sort_keys=True)
    assert _snap(p.read_state()) == _snap(oneshot)


def test_cdc_pipeline_bucketed_catalog(spark, tmp_path):
    """D2 with the bucketed backend: the catalog table maps manifest
    buckets to partitions — PK readable from TBLPROPERTIES, catalog
    reads see post-merge state after every commit, and updates land
    without re-registering untouched buckets."""
    name = "bucketed_cat_t1"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    p = CdcPipeline(spark, "t1", str(tmp_path / "src"),
                    str(tmp_path / "work"), ["id"],
                    state_backend="bucketed", n_state_buckets=8,
                    catalog_table=name)
    p.apply_batch(_batch1(spark), 0, streaming_barrier=False)
    tbl = spark.table(name).drop("_state_bucket")
    assert _snap(tbl) == _snap(p.read_state())

    props = {r["key"]: r["value"] for r in spark.sql(
        f"SHOW TBLPROPERTIES {name}").collect()}
    assert props["primaryKey"] == "id"
    assert props["sourceTable"] == "t1"

    p.apply_batch(_batch2(spark), 1, streaming_barrier=False)
    oneshot = cdc.materialize(
        _batch1(spark).unionByName(_batch2(spark)), ["id"],
        keep_sort_keys=True)
    got = spark.table(name).drop("_state_bucket")
    assert _snap(got) == _snap(oneshot)
    # partition pruning works against the bucketed layout
    one = spark.sql(
        f"SELECT count(*) c FROM {name} WHERE _state_bucket = 0")
    assert one.collect()[0]["c"] >= 0
    spark.sql(f"DROP TABLE {name}")


def test_out_of_order_batch_cannot_regress_state(spark, tmp_path):
    """A late file replaying OLDER sort keys for merged PKs must not
    overwrite newer state (the reference's 3-day rescan delivers
    exactly this)."""
    t = BucketedStateTable(spark, str(tmp_path / "st"), ["id"], n_buckets=8)
    t.merge(_batch2(spark))           # newer keys first
    newer = _snap(t.read())
    t.merge(_batch1(spark))           # late batch, older keys, same PKs
    got = t.read().where(F.col("id") < 10)
    assert _snap(got) == [r for r in newer if r[0] < 10]


def test_schema_drift_nulls_untouched_buckets(spark, tmp_path):
    """A batch introducing a new column must merge cleanly: rows in
    rewritten buckets carry it, rows in untouched buckets read it as
    NULL (mergeSchema semantics, the D3 mergeSchema contract)."""
    t = BucketedStateTable(spark, str(tmp_path / "st"), ["id"], n_buckets=8)
    t.merge(_batch1(spark))
    drifted = spark.createDataFrame(
        [(3, "v3y", "yes", "UPDATE", 900, 1, "A", 1)],
        "id bigint, val string, extra string, _op string, _sk1 bigint, "
        "_sk2 bigint, _sk3 string, _sk4 bigint")
    r = t.merge(drifted)
    assert len(r["touched_buckets"]) == 1
    rows = {row["id"]: (row["val"], row["extra"])
            for row in t.read().select("id", "val", "extra").collect()}
    assert rows[3] == ("v3y", "yes")
    assert all(v[1] is None for k, v in rows.items() if k != 3)
    assert len(rows) == 50


def test_replication_job_bucketed_backend(spark, tmp_path):
    from datastream_delta_plugins_spark.streaming import (
        ReplicationJob, TableConfig)
    src = str(tmp_path / "src")
    _batch1(spark).coalesce(1).write.mode("overwrite") \
        .parquet(f"{src}/f_oracle-cdc-logminer_0")
    job = ReplicationJob(
        spark, str(tmp_path / "work"),
        [TableConfig("t1", src + "/*", ["id"])],
        state_backend="bucketed", n_state_buckets=8)
    job.run_batch()
    pipe = job.pipelines["t1"]
    assert pipe.bstate is not None
    assert pipe.read_state().count() == 50


def test_backend_switch_detected(spark, tmp_path):
    """A table written by one backend must refuse to open as the other
    with a clear error, in both directions."""
    # versioned -> bucketed
    p = CdcPipeline(spark, "t1", str(tmp_path / "s1"),
                    str(tmp_path / "w1"), ["id"])
    p.apply_batch(_batch1(spark), 0, streaming_barrier=False)
    t = BucketedStateTable(spark, str(tmp_path / "w1" / "state"), ["id"])
    with pytest.raises(ValueError, match="versioned state backend"):
        t.version()
    # bucketed -> versioned
    p2 = CdcPipeline(spark, "t2", str(tmp_path / "s2"),
                     str(tmp_path / "w2"), ["id"],
                     state_backend="bucketed", n_state_buckets=8)
    p2.apply_batch(_batch1(spark), 0, streaming_barrier=False)
    p3 = CdcPipeline(spark, "t2", str(tmp_path / "s2"),
                     str(tmp_path / "w2"), ["id"])
    with pytest.raises(ValueError, match="bucketed state backend"):
        p3.read_state()


def test_vacuum_clears_empty_version_dirs(spark, tmp_path):
    t = BucketedStateTable(spark, str(tmp_path / "st"), ["id"], n_buckets=2)
    t.merge(_batch1(spark))   # v0: both buckets
    t.merge(_batch1(spark))   # v1: both buckets superseded
    t.vacuum(keep_versions=0)
    # the superseded v0 attempt dir (attempt-unique name) is fully
    # gone, including the dir itself (single-level empty-dir cleanup)
    data = os.path.join(t.path, "data")
    assert not any(d.startswith("v0-") for d in os.listdir(data))
    assert _snap(t.read())    # current version intact


def test_streaming_restart_with_bucketed_backend(spark, tmp_path):
    """Checkpointed streaming + bucketed state across a restart: the
    second run must only process the new file and only rewrite the
    buckets it touches."""
    import sys
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import test_streaming as ts
    src = str(tmp_path / "src")
    pipe = CdcPipeline(spark, "t1", src + "/*", str(tmp_path / "work"),
                       pk_cols=["id"], state_backend="bucketed",
                       n_state_buckets=8)
    ts._write(spark, f"{src}/f1_oracle-cdc-logminer_0",
              ("oracle-cdc-logminer", "INSERT", 1, 1, "a"),
              ("oracle-cdc-logminer", "INSERT", 2, 2, "b"))
    ts._run(pipe)
    v1 = pipe.bstate.version()
    m1 = pipe.bstate.current_manifest()
    assert pipe.read_state().count() == 2

    ts._write(spark, f"{src}/f2_oracle-cdc-logminer_1",
              ("oracle-cdc-logminer", "UPDATE", 10, 1, "a2"))
    pipe2 = CdcPipeline(spark, "t1", src + "/*", str(tmp_path / "work"),
                        pk_cols=["id"], state_backend="bucketed",
                        n_state_buckets=8)
    ts._run(pipe2)  # same checkpoint dir: file 1 must NOT replay
    assert pipe2.bstate.version() == v1 + 1
    m2 = pipe2.bstate.current_manifest()
    changed = {b for b in m2 if m2[b] != m1.get(b)}
    assert len(changed) == 1  # only id=1's bucket was rewritten
    s = {r["id"]: (r["val"], r["_is_deleted"])
         for r in pipe2.read_state().collect()}
    assert s == {1: ("a2", False), 2: ("b", False)}


def test_change_feed_between_versions(spark, tmp_path):
    """changes_between reads only manifest-changed buckets and emits
    the exact INSERT/UPDATE/DELETE delta of batch2."""
    t = BucketedStateTable(spark, str(tmp_path / "st"), ["id"], n_buckets=8)
    t.merge(_batch1(spark))
    r2 = t.merge(_batch2(spark))
    assert t.changed_buckets(0, 1) == [str(b) for b in
                                       r2["touched_buckets"]]
    feed = {r["id"]: r["_change"]
            for r in t.changes_between(0, 1).collect()}
    want = {i: "UPDATE" for i in range(5)}
    want.update({i: "DELETE" for i in range(5, 10)})
    want.update({i: "INSERT" for i in range(100, 105)})
    assert feed == want


def test_change_feed_initial_version(spark, tmp_path):
    from datastream_delta_plugins_spark.operators import cdc
    t = BucketedStateTable(spark, str(tmp_path / "st"), ["id"], n_buckets=4)
    t.merge(_batch1(spark))
    feed = cdc.diff_states(None, t.read(), ["id"])
    assert feed.where(F.col("_change") == "INSERT").count() == 50


def test_change_feed_revival_is_insert(spark, tmp_path):
    """A soft-deleted PK re-inserted later must feed as INSERT."""
    from datastream_delta_plugins_spark.operators import cdc
    t = BucketedStateTable(spark, str(tmp_path / "st"), ["id"], n_buckets=4)
    t.merge(_changes(spark, [(1, "a", "INSERT", 1, 1, "A", 1)]))
    t.merge(_changes(spark, [(1, "a", "DELETE", 2, 1, "A", 1)]))
    t.merge(_changes(spark, [(1, "a2", "INSERT", 3, 1, "A", 1)]))
    assert {r["_change"] for r in t.changes_between(1, 2).collect()} \
        == {"INSERT"}
    assert {r["_change"] for r in t.changes_between(0, 1).collect()} \
        == {"DELETE"}


def test_auto_backend_migrates_at_threshold(spark, tmp_path):
    """state_backend='auto' (the default): versioned while small, then
    one seed migration to bucketed once the committed state crosses
    auto_bucket_rows — with the catalog registration surviving the
    switch and later merges running O(touched buckets)."""
    import os

    from datastream_delta_plugins_spark.streaming import state as sk

    spark.sql("CREATE DATABASE IF NOT EXISTS autodb")
    work = str(tmp_path / "w")
    pipe = CdcPipeline(spark, "t1", str(tmp_path / "src"), work, ["id"],
                       auto_bucket_rows=60, n_state_buckets=4,
                       catalog_table="autodb.t1_auto")
    # small batches stay versioned
    pipe.apply_batch(_batch1(spark), 0, streaming_barrier=False)  # 50 rows
    assert pipe.bstate is None
    assert os.path.isdir(os.path.join(work, "state", "commitlog"))
    # crossing the threshold triggers the seed + flip
    big = _batch1(spark).withColumn("id", F.col("id") + 100)
    pipe.apply_batch(big, 1, streaming_barrier=False)  # state -> 100 rows
    assert pipe.bstate is not None
    assert pipe.doc.get(sk.k_state_backend("t1")) == "bucketed"
    assert pipe.read_state().count() == 100
    # catalog survived the switch as the partitioned form
    assert spark.catalog.tableExists("autodb.t1_auto")
    assert spark.table("autodb.t1_auto").count() == 100
    # a restart reopens the bucketed layout
    pipe2 = CdcPipeline(spark, "t1", str(tmp_path / "src"), work, ["id"],
                        auto_bucket_rows=60, n_state_buckets=4,
                        catalog_table="autodb.t1_auto")
    assert pipe2.bstate is not None
    # and later merges go through the bucketed path (version advances)
    v0 = pipe2.bstate.version()
    upd = _batch1(spark).limit(3)
    pipe2.apply_batch(upd, 2, streaming_barrier=False)
    assert pipe2.bstate.version() == v0 + 1
    assert pipe2.read_state().count() == 100


def test_auto_migration_crash_windows_self_heal(spark, tmp_path,
                                                monkeypatch):
    """Crashes inside the migration must leave a restartable pipeline
    with a working catalog. The dangerous window is after the backend
    doc flip with the catalog re-registration still pending: because
    the migration DROPs the old unpartitioned registration BEFORE the
    flip, the restarted bucketed merge finds no table and creates the
    partitioned form — instead of issuing ADD PARTITION against the
    stale unpartitioned table forever."""
    import os

    from datastream_delta_plugins_spark.streaming import state as sk

    spark.sql("CREATE DATABASE IF NOT EXISTS autodb")
    spark.sql("DROP TABLE IF EXISTS autodb.t1_crash")
    work = str(tmp_path / "w")
    pipe = CdcPipeline(spark, "t1", str(tmp_path / "src"), work, ["id"],
                       auto_bucket_rows=60, n_state_buckets=4,
                       catalog_table="autodb.t1_crash")
    pipe.apply_batch(_batch1(spark), 0, streaming_barrier=False)
    assert spark.catalog.tableExists("autodb.t1_crash")

    # crash at the WORST point: seed done, old catalog dropped, doc
    # flipped, partitioned re-registration never ran
    monkeypatch.setattr(
        BucketedStateTable, "sync_catalog",
        lambda *a, **k: (_ for _ in ()).throw(
            RuntimeError("crash before catalog re-registration")))
    big = _batch1(spark).withColumn("id", F.col("id") + 100)
    try:
        pipe.apply_batch(big, 1, streaming_barrier=False)
    except RuntimeError:
        pass
    monkeypatch.undo()
    assert pipe.doc.get(sk.k_state_backend("t1")) == "bucketed"
    assert not spark.catalog.tableExists("autodb.t1_crash")

    # restart: bucketed layout reopens, and the next merge re-creates
    # the catalog in the partitioned form
    pipe2 = CdcPipeline(spark, "t1", str(tmp_path / "src"), work, ["id"],
                        auto_bucket_rows=60, n_state_buckets=4,
                        catalog_table="autodb.t1_crash")
    assert pipe2.bstate is not None
    pipe2.apply_batch(_batch1(spark).limit(3), 2, streaming_barrier=False)
    assert spark.catalog.tableExists("autodb.t1_crash")
    assert spark.table("autodb.t1_crash").count() == \
        pipe2.read_state().count()
    spark.sql("DROP TABLE IF EXISTS autodb.t1_crash")


def test_pipeline_auto_vacuums_bucketed_state(spark, tmp_path):
    """The bucketed backend must not leak superseded bucket dirs over
    a long run: with the default bucket_keep_versions=1 the pipeline
    vacuums after each merge.  Every batch here upserts the same 8 pks
    (all 4 buckets rewritten each version), so without the auto-vacuum
    every superseded copy of every bucket would survive; with it, only
    the current + previous version dirs may hold data."""
    import os

    work = str(tmp_path / "w")
    pipe = CdcPipeline(spark, "t1", str(tmp_path / "src"), work, ["id"],
                       state_backend="bucketed", n_state_buckets=4)
    for b in range(4):
        pipe.apply_batch(
            _changes(spark, [(i, f"x{b}", "INSERT" if b == 0 else
                              "UPDATE", b + 1, 1, "A", 1)
                             for i in range(8)]),
            b, streaming_barrier=False)
    data_root = os.path.join(work, "state", "data")
    assert len(os.listdir(data_root)) <= 2  # current + previous only
    v = pipe.bstate.version()
    assert v == 3
    # the change-feed window the keep policy promises still works
    assert pipe.bstate.changes_between(v - 1, v).count() == 8
    assert pipe.read_state().count() == 8


def test_read_at_time_travel(spark, tmp_path):
    """read_at(v) reproduces the table as of any retained version —
    the manifest payloads ARE the snapshot isolation."""
    from test_commitlog import _batch

    from datastream_delta_plugins_spark.streaming.bucketed_state import \
        BucketedStateTable
    t = BucketedStateTable(spark, str(tmp_path), ["id"],
                           sort_cols=("_sk1", "_sk2", "_sk3", "_sk4"),
                           n_buckets=4, keep_versions=None)
    t.merge(_batch(spark, 10))
    v0 = t.version()
    t.merge(_batch(spark, 20))
    v1 = t.version()
    assert t.read_at(v0).count() == 10
    assert t.read_at(v1).count() == 20
    assert t.read().count() == 20
    assert t.read_at(-1) is None


class _VanishingPayloadClient:
    """InMemoryObjectStore wrapper simulating a concurrent writer
    pruning manifest payloads between vacuum's version read and its
    payload reads: once armed, the FIRST get of each vanishing key
    passes (version() validation) and every later get returns None."""

    def __init__(self, inner, vanish_keys):
        self._inner = inner
        self._vanish = set(vanish_keys)
        self._gets = {}
        self.armed = False

    def get(self, key):
        if self.armed and key in self._vanish:
            n = self._gets.get(key, 0) + 1
            self._gets[key] = n
            if n >= 2:
                return None
        return self._inner.get(key)

    def __getattr__(self, name):
        return getattr(self._inner, name)


def test_vacuum_aborts_when_current_payload_vanishes(spark, tmp_path):
    """cur and its manifest must come from ONE snapshot: if vacuum
    read the version, then a concurrent writer advanced + pruned the
    window payloads before the separate payload reads, the live set
    would come back empty and the stamp guard would delete data the
    true CURRENT still references. The fixed vacuum reads
    (version, payload) together and treats a vanished current payload
    as 'lost the race — do nothing this pass'."""
    from datastream_delta_plugins_spark.streaming.commitlog import \
        InMemoryObjectStore

    inner = InMemoryObjectStore()
    path = str(tmp_path / "state")
    t = BucketedStateTable(spark, path, ["id"], n_buckets=4,
                           client=inner)
    t.merge(_batch1(spark))                      # v0
    t.merge(_batch2(spark))                      # v1 (partial buckets)
    t.merge(_changes(spark, [(0, "z0", "UPDATE", 900, 1, "A", 1)]))  # v2
    before = _snap(t.read())

    prefix = path.rstrip("/") + "/manifest/"
    wrapped = _VanishingPayloadClient(
        inner, {prefix + "v1.json", prefix + "v2.json"})
    maint = BucketedStateTable(spark, path, ["id"], n_buckets=4,
                               client=wrapped)
    wrapped.armed = True
    assert maint.vacuum(keep_versions=1) == []   # aborted, not a purge
    wrapped.armed = False
    assert _snap(t.read()) == before             # nothing live deleted


# -- the per-manifest read handle --

def test_read_handle_reused_until_manifest_changes(spark, tmp_path):
    """One analyzed DataFrame per committed manifest: the mergeSchema
    footer merge runs once, later reads return the same object with no
    Spark job, and a merge re-points the handle."""
    t = BucketedStateTable(spark, str(tmp_path / "st"), ["id"], n_buckets=8)
    t.merge(_batch1(spark))
    first = t.read()
    again, jobs = _jobs_started(spark, t.read)
    assert again is first and jobs == 0
    t.merge(_batch2(spark))
    after = t.read()
    assert after is not first
    oneshot = cdc.materialize(
        _batch1(spark).unionByName(_batch2(spark)), ["id"],
        keep_sort_keys=True)
    assert _snap(after) == _snap(oneshot)
    again, jobs = _jobs_started(spark, t.read)
    assert again is after and jobs == 0


def test_pipeline_bucketed_read_state_warm_and_shared(spark, tmp_path):
    """CdcPipeline over the bucketed backend: a warm read_state()
    starts no job, and a second instance's commit is visible to the
    first instance's next read (no stale handle)."""
    work = str(tmp_path / "work")

    def open_pipe():
        return CdcPipeline(spark, "t1", str(tmp_path / "src"), work,
                           ["id"], state_backend="bucketed",
                           n_state_buckets=8)

    a = open_pipe()
    a.apply_batch(_batch1(spark), 0, streaming_barrier=False)
    warm = a.read_state()
    again, jobs = _jobs_started(spark, a.read_state)
    assert again is warm and jobs == 0

    b = open_pipe()
    b.apply_batch(_batch2(spark), 1, streaming_barrier=False)
    fresh = a.read_state()
    assert fresh is not warm
    oneshot = cdc.materialize(
        _batch1(spark).unionByName(_batch2(spark)), ["id"],
        keep_sort_keys=True)
    assert _snap(fresh) == _snap(oneshot)


def test_auto_migration_moves_read_state_to_bucketed(spark, tmp_path):
    """A warm versioned handle does not outlive the auto backend's
    switch: after the migration read_state() serves the bucketed
    table's files and rows."""
    work = str(tmp_path / "w")
    pipe = CdcPipeline(spark, "t1", str(tmp_path / "src"), work, ["id"],
                       auto_bucket_rows=60, n_state_buckets=4)
    pipe.apply_batch(_batch1(spark), 0, streaming_barrier=False)
    assert pipe.bstate is None
    assert pipe.read_state().count() == 50  # warm versioned handle
    big = _batch1(spark).withColumn("id", F.col("id") + 100)
    pipe.apply_batch(big, 1, streaming_barrier=False)
    assert pipe.bstate is not None
    assert pipe._state_handle is None
    st = pipe.read_state()
    assert st is pipe.bstate.read()
    assert all("/state_bucketed/" in f for f in st.inputFiles())
    assert _snap(st) == _snap(cdc.materialize(
        _batch1(spark).unionByName(big), ["id"], keep_sort_keys=True))


def test_local_merge_racing_merge_no_lost_update(spark, tmp_path,
                                                 monkeypatch):
    """Two merges racing on local disk (no client): the manifest commit
    is a conditional PUT here too, so the loser re-plans and both
    batches' rows survive."""
    from test_commitlog_objectstore import merge_race_keeps_both_batches
    merge_race_keeps_both_batches(spark, tmp_path, monkeypatch, None)
