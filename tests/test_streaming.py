"""Structured Streaming CDC pipeline tests: file replay with
availableNow triggers, checkpointed incremental merges, late data,
schema drift, windowed aggregation, stateful dedup."""

import datetime
import os

import pytest
from pyspark.sql import functions as F, types as T

from datastream_delta_plugins_spark.operators import cdc
from datastream_delta_plugins_spark.streaming import (
    CdcPipeline, StateDoc, dedup_within_watermark, windowed_counts)
from datastream_delta_plugins_spark.streaming import state as sk

CHANGE_SCHEMA = T.StructType([
    T.StructField("source_timestamp", T.TimestampType()),
    T.StructField("read_method", T.StringType()),
    T.StructField("change_type", T.StringType()),
    T.StructField("_sk1", T.LongType()),
    T.StructField("_sk2", T.LongType()),
    T.StructField("_sk3", T.StringType()),
    T.StructField("_sk4", T.LongType()),
    T.StructField("id", T.LongType()),
    T.StructField("val", T.StringType()),
])

TS = datetime.datetime(2024, 1, 1)


def _rows(*evts):
    # evt: (read_method, change_type, sk1, id, val)
    return [(TS + datetime.timedelta(seconds=sk1), rm, ct,
             sk1, i, "na", 0, i, val)
            for (rm, ct, sk1, i, val) in evts]


def _write(spark, path, *evts):
    spark.createDataFrame(_rows(*evts), CHANGE_SCHEMA) \
         .coalesce(1).write.mode("overwrite").parquet(path)


def _run(pipe, trigger={"availableNow": True}):
    q = pipe.start(CHANGE_SCHEMA, trigger=trigger)
    q.awaitTermination(120)
    assert not q.isActive


@pytest.fixture
def pipe(spark, tmp_path):
    src = str(tmp_path / "src")
    return CdcPipeline(spark, "t1", src + "/*", str(tmp_path / "work"),
                       pk_cols=["id"]), src


def test_stream_snapshot_then_cdc(spark, pipe):
    pipe, src = pipe
    _write(spark, f"{src}/f1_oracle-backfill_0",
           ("oracle-backfill", None, 0, 1, "a"),
           ("oracle-backfill", None, 0, 2, "b"))
    _run(pipe)
    s1 = {r["id"]: (r["val"], r["_is_deleted"])
          for r in pipe.read_state().collect()}
    assert s1 == {1: ("a", False), 2: ("b", False)}
    # O5: a batch WITH dump rows proves the backfill is still producing
    # output — snapshot.seen, but not yet done
    assert pipe.doc.get(sk.k_snapshot_seen("t1")) == "true"
    assert pipe.doc.get(sk.k_snapshot_done("t1")) is None
    assert pipe.doc.get(sk.DB_CREATED) == "true"

    # second micro-batch run: update + delete + insert; checkpoint must
    # skip the already-seen snapshot file. Once the backfill job reports
    # COMPLETED, the dump-free batch releases the snapshot barrier.
    from datastream_delta_plugins_spark.streaming.pipeline import (
        BACKFILL_COMPLETED)
    pipe.mark_backfill(BACKFILL_COMPLETED)
    _write(spark, f"{src}/f2_oracle-cdc-logminer_1",
           ("oracle-cdc-logminer", "UPDATE", 10, 1, "a2"),
           ("oracle-cdc-logminer", "DELETE", 11, 2, "b"),
           ("oracle-cdc-logminer", "INSERT", 12, 3, "c"))
    _run(pipe)
    s2 = {r["id"]: (r["val"], r["_is_deleted"])
          for r in pipe.read_state().collect()}
    assert s2 == {1: ("a2", False), 2: ("b", True), 3: ("c", False)}
    assert pipe.doc.get(sk.k_snapshot_done("t1")) == "true"


def test_stream_multifile_dump_does_not_flip_barrier_early(spark, tmp_path):
    """A dump split across micro-batches must keep snapshot.done unset
    until the backfill reports COMPLETED and a dump-free scan follows
    (DatastreamEventReader.java:483-541)."""
    from datastream_delta_plugins_spark.streaming.pipeline import (
        BACKFILL_COMPLETED, BACKFILL_RUNNING)
    src = str(tmp_path / "src")
    pipe = CdcPipeline(spark, "t1", src + "/*", str(tmp_path / "work"),
                       pk_cols=["id"])
    pipe.mark_backfill(BACKFILL_RUNNING)

    _write(spark, f"{src}/f1_oracle-backfill_0",
           ("oracle-backfill", None, 0, 1, "a"))
    _run(pipe)
    assert pipe.doc.get(sk.k_snapshot_done("t1")) is None

    # second dump file arrives in a later batch: still not done
    _write(spark, f"{src}/f2_oracle-backfill_1",
           ("oracle-backfill", None, 0, 2, "b"))
    _run(pipe)
    assert pipe.doc.get(sk.k_snapshot_done("t1")) is None

    # a dump-free batch while the backfill still reports RUNNING: held
    _write(spark, f"{src}/f3_oracle-cdc-logminer_0",
           ("oracle-cdc-logminer", "UPDATE", 10, 1, "a2"))
    _run(pipe)
    assert pipe.doc.get(sk.k_snapshot_done("t1")) is None

    # backfill completes; the next dump-free scan releases the barrier
    pipe.mark_backfill(BACKFILL_COMPLETED)
    _write(spark, f"{src}/f4_oracle-cdc-logminer_1",
           ("oracle-cdc-logminer", "UPDATE", 11, 2, "b2"))
    _run(pipe)
    assert pipe.doc.get(sk.k_snapshot_done("t1")) == "true"
    s = {r["id"]: r["val"] for r in pipe.read_state().collect()}
    assert s == {1: "a2", 2: "b2"}


def test_stream_late_file_does_not_clobber(spark, pipe):
    pipe, src = pipe
    _write(spark, f"{src}/f1_oracle-cdc-logminer_0",
           ("oracle-cdc-logminer", "INSERT", 100, 1, "new"))
    _run(pipe)
    # a late file with an OLDER sort key for the same pk
    _write(spark, f"{src}/f0_late_oracle-cdc-logminer",
           ("oracle-cdc-logminer", "UPDATE", 50, 1, "old"))
    _run(pipe)
    s = {r["id"]: r["val"] for r in pipe.read_state().collect()}
    assert s == {1: "new"}


def test_stream_pk_update_pair(spark, pipe):
    pipe, src = pipe
    _write(spark, f"{src}/f1_oracle-cdc-logminer_0",
           ("oracle-cdc-logminer", "INSERT", 1, 1, "x"))
    _write(spark, f"{src}/f2_oracle-cdc-logminer_1",
           ("oracle-cdc-logminer", "UPDATE-DELETE", 2, 1, "x"),
           ("oracle-cdc-logminer", "UPDATE-INSERT", 3, 2, "x"))
    _run(pipe)
    s = {r["id"]: r["_is_deleted"] for r in pipe.read_state().collect()}
    assert s == {1: True, 2: False}


def test_schema_drift_evolves_state(spark, tmp_path):
    src = str(tmp_path / "src")
    pipe = CdcPipeline(spark, "t1", src + "/*", str(tmp_path / "work"),
                       pk_cols=["id"])
    _write(spark, f"{src}/f1_oracle-cdc-logminer_0",
           ("oracle-cdc-logminer", "INSERT", 1, 1, "a"))
    _run(pipe)
    fp1 = pipe.doc.get(sk.k_schema_key("t1"))

    # drifted schema: extra payload column (copy — .add mutates in place)
    drifted = T.StructType(list(CHANGE_SCHEMA.fields)
                           + [T.StructField("extra", T.LongType())])
    rows = [(TS, "oracle-cdc-logminer", "UPDATE", 5, 1, "na", 0, 1, "a2", 7)]
    spark.createDataFrame(rows, drifted).coalesce(1) \
         .write.parquet(f"{src}/f2_oracle-cdc-logminer_1")
    pipe2 = CdcPipeline(spark, "t1", src + "/*",
                        str(tmp_path / "work"), pk_cols=["id"])
    # stream again with the re-described (drifted) schema, as the
    # reference does after a schema_key change; checkpoint skips f1
    q = pipe2.start(drifted, trigger={"availableNow": True})
    q.awaitTermination(120)
    state = pipe2.read_state()
    assert "extra" in state.columns
    row = {r["id"]: (r["val"], r["extra"]) for r in state.collect()}
    assert row == {1: ("a2", 7)}
    assert pipe2.doc.get(sk.k_schema_key("t1")) != fp1


def test_stream_equals_batch_materialize(spark, pipe):
    pipe, src = pipe
    _write(spark, f"{src}/f1_oracle-backfill_0",
           *[("oracle-backfill", None, 0, i, f"v{i}") for i in range(50)])
    _write(spark, f"{src}/f2_oracle-cdc-logminer_1",
           *[("oracle-cdc-logminer", "UPDATE", 10 + i, i, f"u{i}")
             for i in range(0, 50, 3)])
    _write(spark, f"{src}/f3_oracle-cdc-logminer_2",
           *[("oracle-cdc-logminer", "DELETE", 100 + i, i, f"u{i}")
             for i in range(0, 50, 7)])
    _run(pipe)
    streamed = {(r["id"], r["val"], r["_is_deleted"])
                for r in pipe.read_state().collect()}
    batch = cdc.materialize(spark.read.schema(CHANGE_SCHEMA)
                            .parquet(f"{src}/*"), ["id"])
    expected = {(r["id"], r["val"], r["_is_deleted"])
                for r in batch.collect()}
    assert streamed == expected


def test_windowed_counts_matches_batch(spark, tmp_path):
    rows = [(TS + datetime.timedelta(minutes=7 * i), "e", None,
             i, i, "na", 0, i, "x") for i in range(40)]
    p = str(tmp_path / "ev")
    spark.createDataFrame(rows, CHANGE_SCHEMA).write.parquet(p)
    stream = spark.readStream.schema(CHANGE_SCHEMA).parquet(p)
    out = windowed_counts(stream, "source_timestamp", "1 hour")
    q = (out.writeStream.format("memory").queryName("wc")
            .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r["h"], r["c"]) for r in spark.sql("SELECT * FROM wc").collect()}
    batch = (spark.read.parquet(p)
             .groupBy(F.date_trunc("hour", "source_timestamp").alias("h"))
             .agg(F.count(F.lit(1)).alias("c")))
    expected = {(r["h"], r["c"]) for r in batch.collect()}
    assert got == expected


def test_dedup_within_watermark(spark, tmp_path):
    rows = _rows(("e", None, 1, 1, "a"), ("e", None, 1, 1, "a"),
                 ("e", None, 2, 2, "b"))
    p = str(tmp_path / "dups")
    spark.createDataFrame(rows, CHANGE_SCHEMA).write.parquet(p)
    stream = spark.readStream.schema(CHANGE_SCHEMA).parquet(p)
    out = dedup_within_watermark(stream, ["id", "_sk1"], "source_timestamp")
    q = (out.writeStream.format("memory").queryName("dd")
            .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted(r["id"] for r in spark.sql("SELECT id FROM dd").collect())
    assert got == [1, 2]


def test_state_doc_roundtrip(tmp_path):
    doc = StateDoc(str(tmp_path / "s.json"))
    doc.set(**{sk.DB_CREATED: "true", sk.k_pos("t1"): "5"})
    doc.save()
    doc2 = StateDoc(str(tmp_path / "s.json"))
    assert doc2.get(sk.DB_CREATED) == "true"
    assert doc2.get(sk.k_pos("t1")) == "5"
    assert doc2.get("missing", "d") == "d"


def test_stateful_sessionize_emits_on_close(spark, tmp_path):
    from datastream_delta_plugins_spark.streaming.stateful import (
        sessionize_stream)
    src = str(tmp_path / "ev")
    schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
    ])
    t0 = datetime.datetime(2024, 1, 1)

    def mk(*rows):
        return spark.createDataFrame(
            [(u, t0 + datetime.timedelta(seconds=s), v) for u, s, v in rows],
            schema)

    # batch 1: user 1 session A (2 events), user 2 session (1 event)
    mk((1, 0, 1.0), (1, 60, 2.0), (2, 0, 5.0)) \
        .coalesce(1).write.mode("overwrite").parquet(f"{src}/b1")
    # batch 2: user 1 event 1h later -> closes session A and opens B
    mk((1, 3660, 3.0)) \
        .coalesce(1).write.mode("overwrite").parquet(f"{src}/b2")

    stream = spark.readStream.schema(schema).parquet(src + "/*")
    sessions = sessionize_stream(stream, gap_seconds=1800)
    q = (sessions.writeStream.format("memory").queryName("sess")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM sess").collect()
    # only user 1's first session has been closed by a later event
    assert len(rows) == 1
    r = rows[0]
    assert (r["user_id"], r["n_events"], r["sum_value"]) == (1, 2, 3.0)
    assert r["session_start"] == t0
    assert r["session_end"] == t0 + datetime.timedelta(seconds=60)


def test_replication_job_barrier_and_database(spark, tmp_path):
    from datastream_delta_plugins_spark.streaming import (
        ReplicationJob, TableConfig)
    from datastream_delta_plugins_spark.streaming.pipeline import (
        BACKFILL_COMPLETED, BACKFILL_RUNNING)

    def _src(name):
        d = str(tmp_path / name)
        return d

    t1, t2 = _src("t1"), _src("t2")
    # t1 gets snapshot + cdc; t2's backfill is still running and its
    # dump arrives later
    _write(spark, f"{t1}/f_oracle-backfill_0",
           ("oracle-backfill", None, 0, 1, "a"))
    _write(spark, f"{t1}/f_oracle-cdc-logminer_1",
           ("oracle-cdc-logminer", "UPDATE", 5, 1, "a2"))
    _write(spark, f"{t2}/f_oracle-cdc-logminer_0",
           ("oracle-cdc-logminer", "INSERT", 1, 9, "z"))

    job = ReplicationJob(
        spark, str(tmp_path / "work"),
        [TableConfig("t1", t1 + "/*", ["id"]),
         TableConfig("t2", t2 + "/*", ["id"],
                     backfill_status=BACKFILL_RUNNING)],
        ttl_days=30)
    job.run_batch()

    assert spark.catalog.databaseExists("replica")  # D1
    # cycle 1 recorded t1's dump file set; done needs a scan that sees
    # no NEW dump files (O5 fidelity)
    assert not job.snapshot_done("t1")
    assert not job.snapshot_done("t2")

    # t1 state reflects the update; re-running is idempotent-safe
    state = {r["id"]: r for r in job.pipelines["t1"].read_state().collect()}
    assert state[1]["val"] == "a2"

    # cycle 2: t1's file set is unchanged -> done; t2's dump lands in
    # this cycle (file set changed) -> still held
    _write(spark, f"{t2}/f_oracle-backfill_1",
           ("oracle-backfill", None, 0, 9, "z"))
    job.run_batch()
    assert job.snapshot_done("t1")
    assert not job.snapshot_done("t2")
    assert not job.all_dumps_done()  # O5 barrier held by t2

    # t2's backfill completes; cycle 3 observes a stable file set
    job.pipelines["t2"].mark_backfill(BACKFILL_COMPLETED)
    job.run_batch()
    assert job.snapshot_done("t2") and job.all_dumps_done()
    report = job.state_report()
    assert report["db.created"] == "true"
    assert report["t1.snapshot.done"] == "true"
    assert report["all.tables.dump.done"] == "true"

    # S8 end-to-end: the merge commit marked every processed source
    # file in the TTL manifest; purge after expiry deletes them
    import datetime as dt
    marked = set(job.ttl.doc.as_dict())
    assert any("oracle-backfill" in f for f in marked)
    assert any("oracle-cdc-logminer" in f for f in marked)
    gone = job.ttl.purge_expired(
        dt.datetime.now(dt.timezone.utc) + dt.timedelta(days=31))
    assert sorted(gone) == sorted(marked)


def test_batch_multifile_dump_does_not_flip_barrier_early(spark, tmp_path):
    """Two-file dump split across run_batch cycles: the barrier must
    hold until a cycle observes no new dump files."""
    from datastream_delta_plugins_spark.streaming import (
        ReplicationJob, TableConfig)
    src = str(tmp_path / "t1")
    _write(spark, f"{src}/f1_oracle-backfill_0",
           ("oracle-backfill", None, 0, 1, "a"))
    job = ReplicationJob(spark, str(tmp_path / "work"),
                         [TableConfig("t1", src + "/*", ["id"])])
    job.run_batch()
    assert not job.snapshot_done("t1")
    # file 2 of the dump lands between cycles (backfill already
    # COMPLETED by default) — done must NOT flip on the cycle that
    # discovers it
    _write(spark, f"{src}/f2_oracle-backfill_1",
           ("oracle-backfill", None, 0, 2, "b"))
    job.run_batch()
    assert not job.snapshot_done("t1")
    job.run_batch()  # stable file set -> done
    assert job.snapshot_done("t1")
    s = {r["id"]: r["val"]
         for r in job.pipelines["t1"].read_state().collect()}
    assert s == {1: "a", 2: "b"}


def test_skip_snapshot_table_starts_done(spark, tmp_path):
    from datastream_delta_plugins_spark.streaming import (
        ReplicationJob, TableConfig)
    src = str(tmp_path / "t1")
    _write(spark, f"{src}/f_oracle-cdc-logminer_0",
           ("oracle-cdc-logminer", "INSERT", 1, 1, "x"))
    job = ReplicationJob(spark, str(tmp_path / "work"),
                         [TableConfig("t1", src + "/*", ["id"],
                                      skip_snapshot=True)])
    assert job.snapshot_done("t1")
    job.run_batch()
    assert job.all_dumps_done()


def test_catalog_registration_with_pk(spark, tmp_path):
    """D2: the materialized table is registered in the Spark catalog
    with the primary key in table properties, and follows the state
    pointer across merges (DatastreamEventReader.java:558-570)."""
    from datastream_delta_plugins_spark.streaming import (
        ReplicationJob, TableConfig)
    src = str(tmp_path / "t1")
    _write(spark, f"{src}/f1_oracle-backfill_0",
           ("oracle-backfill", None, 0, 1, "a"))
    job = ReplicationJob(spark, str(tmp_path / "work"),
                         [TableConfig("t1", src + "/*", ["id"])],
                         database="replica")
    job.run_batch()
    assert spark.catalog.tableExists("replica.t1")
    props = {r["key"]: r["value"] for r in
             spark.sql("SHOW TBLPROPERTIES replica.t1").collect()}
    assert props["primaryKey"] == "id"
    assert {r["id"]: r["val"] for r in
            spark.table("replica.t1").collect()} == {1: "a"}
    # a later merge re-points the catalog table at the new state version
    _write(spark, f"{src}/f2_oracle-cdc-logminer_0",
           ("oracle-cdc-logminer", "UPDATE", 5, 1, "a2"))
    job.run_batch()
    assert {r["id"]: r["val"] for r in
            spark.table("replica.t1").collect()} == {1: "a2"}


def test_retry_policy_recovers_transient_and_aborts_terminal():
    from datastream_delta_plugins_spark.streaming.retry import (
        RecoverableSourceError, RetryPolicy, TerminalReplicationError)
    sleeps = []
    clock = {"t": 0.0}

    def fake_sleep(s):
        sleeps.append(s)
        clock["t"] += s

    policy = RetryPolicy(sleep=fake_sleep, clock=lambda: clock["t"])
    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] < 3:
            raise RecoverableSourceError("transient fs hiccup")
        return "ok"

    assert policy.call(flaky) == "ok"
    assert calls["n"] == 3 and sleeps == [1.0, 2.0]

    with pytest.raises(TerminalReplicationError):
        policy.call(lambda: (_ for _ in ()).throw(
            TerminalReplicationError("bad config")))

    # budget exhaustion re-raises the recoverable error
    policy2 = RetryPolicy(max_elapsed=3.0, sleep=fake_sleep,
                          clock=lambda: clock["t"])

    def always_flaky():
        raise RecoverableSourceError("still down")

    with pytest.raises(RecoverableSourceError):
        policy2.call(always_flaky)


def test_stream_retry_recovers_mid_batch_failure(spark, tmp_path):
    """A transient failure inside the micro-batch merge retries with
    backoff instead of killing the streaming query."""
    from datastream_delta_plugins_spark.streaming.retry import (
        RecoverableSourceError, RetryPolicy)
    src = str(tmp_path / "src")
    _write(spark, f"{src}/f1_oracle-cdc-logminer_0",
           ("oracle-cdc-logminer", "INSERT", 1, 1, "x"))
    policy = RetryPolicy(sleep=lambda s: None)
    pipe = CdcPipeline(spark, "t1", src + "/*", str(tmp_path / "work"),
                       pk_cols=["id"], retry=policy)
    real_apply = pipe.apply_batch
    fails = {"n": 0}

    def flaky_apply(df, batch_id=-1, **kw):
        if fails["n"] < 1:
            fails["n"] += 1
            raise RecoverableSourceError("transient")
        return real_apply(df, batch_id, **kw)

    pipe.apply_batch = flaky_apply
    _run(pipe)
    assert fails["n"] == 1
    assert {r["id"]: r["val"] for r in pipe.read_state().collect()} == {1: "x"}


def test_zero_dump_table_completes_barrier(spark, tmp_path):
    """A table whose backfill reports COMPLETED having produced zero
    dump files (empty source table) must still reach snapshot.done on
    the first dump-free scan — requiring a dump row to have been seen
    would hang the all-dumps barrier forever."""
    src = str(tmp_path / "src")
    from datastream_delta_plugins_spark.streaming.pipeline import (
        BACKFILL_COMPLETED)
    pipe = CdcPipeline(spark, "t1", src + "/*", str(tmp_path / "work"),
                       pk_cols=["id"])
    # CDC-only batch, zero snapshot rows; with NO status reported yet
    # the barrier must hold (a stream can start before the dump lands)
    df = spark.createDataFrame(
        _rows(("oracle-cdc-logminer", "INSERT", 1, 1, "x")), CHANGE_SCHEMA)
    pipe.apply_batch(df, 0)
    assert pipe.doc.get(sk.k_snapshot_done("t1")) is None
    # the job reports COMPLETED -> the next dump-free scan releases it
    pipe.mark_backfill(BACKFILL_COMPLETED)
    pipe.apply_batch(spark.createDataFrame([], CHANGE_SCHEMA), 1)
    assert pipe.doc.get(sk.k_snapshot_done("t1")) == "true"

    # ... but a RUNNING backfill still holds the barrier on an
    # empty scan
    pipe2 = CdcPipeline(spark, "t2", src + "/*", str(tmp_path / "work2"),
                        pk_cols=["id"])
    from datastream_delta_plugins_spark.streaming.pipeline import (
        BACKFILL_RUNNING)
    pipe2.mark_backfill(BACKFILL_RUNNING)
    pipe2.apply_batch(spark.createDataFrame([], CHANGE_SCHEMA), 0)
    assert pipe2.doc.get(sk.k_snapshot_done("t2")) is None


def test_restart_preserves_marked_backfill_status(spark, tmp_path):
    """Rebuilding a ReplicationJob over existing state must not clobber
    runtime backfill progress with the (stale) config value."""
    from datastream_delta_plugins_spark.streaming import (
        ReplicationJob, TableConfig)
    from datastream_delta_plugins_spark.streaming.pipeline import (
        BACKFILL_COMPLETED, BACKFILL_RUNNING)
    src = str(tmp_path / "t1")
    _write(spark, f"{src}/f_oracle-cdc-logminer_0",
           ("oracle-cdc-logminer", "INSERT", 1, 1, "x"))
    cfg = [TableConfig("t1", src + "/*", ["id"],
                       backfill_status=BACKFILL_RUNNING)]
    work = str(tmp_path / "work")
    job = ReplicationJob(spark, work, cfg)
    job.pipelines["t1"].mark_backfill(BACKFILL_COMPLETED)

    job2 = ReplicationJob(spark, work, cfg)  # restart
    assert job2.pipelines["t1"].doc.get(
        sk.k_backfill_status("t1")) == BACKFILL_COMPLETED
    job2.run_batch()
    job2.run_batch()  # stable file set + COMPLETED -> done
    assert job2.snapshot_done("t1")


def test_max_files_per_trigger_paces_catchup(spark, tmp_path):
    """Ingest tuning (Utils.java:105-106 analog): a 3-file backlog with
    maxFilesPerTrigger=1 must drain across >= 3 micro-batches, each
    merge bounded by one file — final state identical to an unpaced
    run."""
    src = str(tmp_path / "src")
    pipe = CdcPipeline(spark, "t1", src + "/*", str(tmp_path / "work"),
                       pk_cols=["id"])
    _write(spark, f"{src}/f1_oracle-cdc-logminer_0",
           ("oracle-cdc-logminer", "INSERT", 1, 1, "a"))
    _write(spark, f"{src}/f2_oracle-cdc-logminer_1",
           ("oracle-cdc-logminer", "UPDATE", 2, 1, "a2"),
           ("oracle-cdc-logminer", "INSERT", 3, 2, "b"))
    _write(spark, f"{src}/f3_oracle-cdc-logminer_2",
           ("oracle-cdc-logminer", "DELETE", 4, 2, "b"))
    q = pipe.start(CHANGE_SCHEMA, trigger={"availableNow": True},
                   max_files_per_trigger=1)
    q.awaitTermination(120)
    assert not q.isActive
    s = {r["id"]: (r["val"], r["_is_deleted"])
         for r in pipe.read_state().collect()}
    assert s == {1: ("a2", False), 2: ("b", True)}
    # last committed batch id proves the backlog drained in paced steps
    assert int(pipe.doc.get(sk.k_last_done("t1"))) >= 2


def test_pipeline_metrics_listener(spark, tmp_path):
    """Progress events captured per micro-batch with row counts, JSONL
    audit written, summary aggregates — the stream-state surfacing
    analog (DatastreamEventReader.java:371-395)."""
    import json as _json

    from datastream_delta_plugins_spark.streaming import PipelineMetrics
    src = str(tmp_path / "src")
    pipe = CdcPipeline(spark, "t1", src + "/*", str(tmp_path / "work"),
                       pk_cols=["id"])
    _write(spark, f"{src}/f1_oracle-cdc-logminer_0",
           ("oracle-cdc-logminer", "INSERT", 1, 1, "a"),
           ("oracle-cdc-logminer", "INSERT", 2, 2, "b"))
    mpath = str(tmp_path / "metrics.jsonl")
    m = PipelineMetrics(path=mpath)
    spark.streams.addListener(m)
    try:
        _run(pipe)
        assert m.wait_for(1), "no progress event within timeout"
    finally:
        spark.streams.removeListener(m)
    rows_seen = sum(e["num_input_rows"] for e in m.progress)
    assert rows_seen == 2
    s = list(m.summary().values())[0]
    assert s["batches"] >= 1 and s["rows"] == 2 and s["failed"] is None
    with open(mpath) as f:
        lines = [_json.loads(line) for line in f]
    assert any(e["event"] == "progress" and e["num_input_rows"] == 2
               for e in lines)


def test_stream_interval_join_matches_batch(spark, tmp_path):
    """Watermarked stream-stream interval join must emit exactly the
    pairs the batch operator produces on the same data (bounded state:
    the time bound rides the join condition)."""
    from datastream_delta_plugins_spark.operators.temporal import (
        interval_join)
    from datastream_delta_plugins_spark.streaming.pipeline import (
        stream_interval_join)
    schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("tag", T.StringType()),
    ])
    lrows = [(1, TS + datetime.timedelta(seconds=s), f"l{s}")
             for s in (0, 100, 1000)]
    rrows = [(1, TS + datetime.timedelta(seconds=s), f"r{s}")
             for s in (50, 150, 5000)] + \
            [(2, TS + datetime.timedelta(seconds=60), "other")]
    ldir, rdir = str(tmp_path / "l"), str(tmp_path / "r")
    spark.createDataFrame(lrows, schema).write.parquet(ldir)
    spark.createDataFrame(rrows, schema).write.parquet(rdir)

    # fractional upper bound: the 149.5 cut drops the (l100, r150)
    # pair on BOTH engines — int() truncation to 149 would too, but
    # truncation to 150 (an earlier bug) admitted it in streaming only
    ls = spark.readStream.schema(schema).parquet(ldir)
    rs = spark.readStream.schema(schema).parquet(rdir)
    j = stream_interval_join(ls, rs, on=["user_id"],
                             lower_seconds=0, upper_seconds=50.5,
                             right_cols={"tag": "rt"})
    q = (j.select(F.col("tag").alias("lt"), "rt")  # unqualified: no dup cols
          .writeStream.format("memory").queryName("sij")
          .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    assert not q.isActive
    got = sorted((r["lt"], r["rt"])
                 for r in spark.table("sij").collect())

    batch = interval_join(
        spark.createDataFrame(lrows, schema),
        spark.createDataFrame(rrows, schema).withColumnRenamed("tag", "rt"),
        on=["user_id"], lower_seconds=0, upper_seconds=50.5,
        right_cols={"rt": "rt"})
    want = sorted((r["tag"], r["rt"]) for r in batch.collect())
    assert got == want and got  # (l0, r50), (l100, r150) excluded by 50.5

    import pytest as _pytest
    with _pytest.raises(ValueError, match="equality key"):
        stream_interval_join(ls, rs, on=[])
    with _pytest.raises(ValueError, match="upper"):
        stream_interval_join(ls, rs, on=["user_id"], lower_seconds=9,
                             upper_seconds=1)


def test_run_batch_handles_missing_source_dir(spark, tmp_path):
    """A table whose change dir has no files yet must not crash the
    cycle, and must complete via the stable-empty-set rule once the
    backfill reports COMPLETED (dump-less table skip)."""
    from datastream_delta_plugins_spark.streaming import (
        ReplicationJob, TableConfig)
    job = ReplicationJob(
        spark, str(tmp_path / "work"),
        [TableConfig("t1", str(tmp_path / "never_written") + "/*",
                     ["id"])])
    job.run_batch()            # records the (empty) file set
    assert not job.snapshot_done("t1")
    job.run_batch()            # stable empty set + COMPLETED -> done
    assert job.snapshot_done("t1")
    assert job.all_dumps_done()


def test_backfill_marker_in_dir_name_not_misclassified(spark, tmp_path):
    """'backfill' in a DIRECTORY segment must not flag CDC files as
    snapshot (classification is by file name, like the reference's
    blob-name test)."""
    from datastream_delta_plugins_spark.streaming import (
        ReplicationJob, TableConfig)
    from datastream_delta_plugins_spark.streaming import state as sk2
    src = str(tmp_path / "backfill_drop" / "t1")
    _write(spark, f"{src}/f1_oracle-cdc-logminer_0",
           ("oracle-cdc-logminer", "INSERT", 1, 1, "a"))
    job = ReplicationJob(spark, str(tmp_path / "work"),
                         [TableConfig("t1", src + "/*", ["id"])])
    job.run_batch()
    pipe = job.pipelines["t1"]
    # CDC-only table: no snapshot rows were seen
    assert pipe.doc.get(sk2.k_snapshot_seen("t1")) is None
    job.run_batch()
    assert job.snapshot_done("t1")  # empty dump set, stable


def test_table_config_columns_projects_payload(spark, tmp_path):
    from datastream_delta_plugins_spark.streaming import (
        ReplicationJob, TableConfig)
    src = str(tmp_path / "src")
    _write(spark, f"{src}/f1_oracle-cdc-logminer_0",
           ("oracle-cdc-logminer", "INSERT", 1, 1, "a"))
    job = ReplicationJob(
        spark, str(tmp_path / "work"),
        [TableConfig("t1", src + "/*", ["id"], columns=["id"])])
    job.run_batch()
    state = job.pipelines["t1"].read_state()
    assert "val" not in state.columns      # projected away (P1)
    assert state.count() == 1


def test_paced_stream_never_flips_barrier(spark, tmp_path):
    """maxFilesPerTrigger batches are not full scans: a cdc-only batch
    in a paced catch-up must not flip snapshot.done even with the
    backfill COMPLETED and visible dump files still queued."""
    from datastream_delta_plugins_spark.streaming.pipeline import (
        BACKFILL_COMPLETED)
    src = str(tmp_path / "src")
    pipe = CdcPipeline(spark, "t1", src + "/*", str(tmp_path / "work"),
                       pk_cols=["id"])
    pipe.mark_backfill(BACKFILL_COMPLETED)
    # mtime order: dump, cdc, dump — the middle cdc-only batch used to
    # satisfy "dump-free scan" and flip the barrier with D2 pending
    _write(spark, f"{src}/f1_oracle-backfill_0",
           ("oracle-backfill", None, 0, 1, "a"))
    _write(spark, f"{src}/f2_oracle-cdc-logminer_1",
           ("oracle-cdc-logminer", "UPDATE", 5, 1, "a2"))
    _write(spark, f"{src}/f3_oracle-backfill_2",
           ("oracle-backfill", None, 0, 2, "b"))
    q = pipe.start(CHANGE_SCHEMA, trigger={"availableNow": True},
                   max_files_per_trigger=1)
    q.awaitTermination(120)
    assert not q.isActive
    assert pipe.doc.get(sk.k_snapshot_seen("t1")) == "true"
    assert pipe.doc.get(sk.k_snapshot_done("t1")) is None  # held
    assert pipe.read_state().count() == 2


def test_diff_states_ignores_sort_key_touch(spark):
    """A 'touch' update (same payload, newer sort keys) must NOT feed
    an UPDATE downstream."""
    from datastream_delta_plugins_spark.operators import cdc as cdc_ops
    prev = spark.createDataFrame(
        [(1, "a", False, 1, 1, "A", 1)],
        "id bigint, val string, _is_deleted boolean, _sk1 bigint, "
        "_sk2 bigint, _sk3 string, _sk4 bigint")
    cur = spark.createDataFrame(
        [(1, "a", False, 9, 9, "Z", 9)],  # only sort keys moved
        "id bigint, val string, _is_deleted boolean, _sk1 bigint, "
        "_sk2 bigint, _sk3 string, _sk4 bigint")
    assert cdc_ops.diff_states(prev, cur, ["id"]).count() == 0


def test_soak_per_batch_latency_does_not_trend_up(spark, tmp_path):
    """Sustained-load soak (round-3/4 listing fixes claim O(batch) per
    micro-batch): drain a 100-file backlog as 100 single-file
    micro-batches over a fixed PK set and assert per-batch wall time
    does NOT trend upward as processed-file history accumulates —
    an O(history) regression in listing, state rewrite, or manifest
    maintenance would grow late batches by ~5-10x over the run, far
    beyond this host's noise envelope."""
    import statistics

    from datastream_delta_plugins_spark.streaming import PipelineMetrics

    N = 100
    src = str(tmp_path / "src")
    # bucketed backend (the scale path): merges scoped to touched
    # buckets; fixed PK set keeps intended state size constant, so any
    # latency trend is pure history cost
    pipe = CdcPipeline(spark, "t1", src + "/*", str(tmp_path / "work"),
                       pk_cols=["id"], state_backend="bucketed",
                       n_state_buckets=4)
    for b in range(N):
        _write(spark, f"{src}/f{b:03d}_oracle-cdc-logminer_{b}",
               *[("oracle-cdc-logminer",
                  "INSERT" if b == 0 else "UPDATE",
                  b * 10 + k, k, f"v{b}") for k in range(5)])

    m = PipelineMetrics()
    spark.streams.addListener(m)
    try:
        q = pipe.start(CHANGE_SCHEMA, trigger={"availableNow": True},
                       max_files_per_trigger=1)
        q.awaitTermination(1200)
        assert not q.isActive
        assert m.wait_for(N, timeout=120)
    finally:
        spark.streams.removeListener(m)

    prog = sorted((e for e in m.progress if e["num_input_rows"]),
                  key=lambda e: e["batch_id"])
    assert len(prog) >= N
    walls = [e["duration_ms"].get("triggerExecution", 0) for e in prog]
    early = statistics.median(walls[10:30])
    late = statistics.median(walls[-20:])
    # cushion absorbs this host's multi-second contention bursts (a
    # burst can straddle the final batches); a genuine O(history)
    # regression grows 5-10x over 100 batches and still fails
    assert late <= max(3 * early, early + 2500), \
        f"per-batch latency trended up: early median {early}ms, " \
        f"late median {late}ms"
    # the merged state is the last update per PK
    s = {r["id"]: r["val"] for r in pipe.read_state().collect()}
    assert s == {k: f"v{N - 1}" for k in range(5)}


def test_versioned_dual_writer_conflicts_and_preserves_winner(
        spark, tmp_path):
    """Zombie-driver/failover protection on the versioned backend over
    a bucket: two pipeline instances committing the SAME version — with
    byte-equal payload shapes — must produce exactly one success; the
    loser raises ConcurrentWriterError (the writer nonce defeats the
    content-equality absorption) and, because data dirs are now
    attempt-unique, the loser's parquet never touches the winner's."""
    from datastream_delta_plugins_spark.streaming.commitlog import \
        InMemoryObjectStore
    _dual_writer_race(spark, tmp_path, InMemoryObjectStore())


def test_versioned_dual_writer_conflicts_on_local_disk(spark, tmp_path):
    """The same race with no client: the local commit log is the same
    conditional PUT, so the second writer of a version loses loudly
    instead of replacing the winner's commit."""
    _dual_writer_race(spark, tmp_path, None)


def _dual_writer_race(spark, tmp_path, client):
    import os

    from datastream_delta_plugins_spark.streaming.commitlog import \
        ConcurrentWriterError

    src = str(tmp_path / "src")
    work = str(tmp_path / "work")
    _write(spark, f"{src}/f1_oracle-backfill_0",
           ("oracle-backfill", None, 0, 1, "a"))
    batch = spark.read.schema(CHANGE_SCHEMA).parquet(src + "/*")

    a = CdcPipeline(spark, "t1", src + "/*", work, pk_cols=["id"],
                    state_backend="versioned", client=client)
    b = CdcPipeline(spark, "t1", src + "/*", work, pk_cols=["id"],
                    state_backend="versioned", client=client)
    a._write_state(cdc.materialize(cdc.normalize_ops(batch), ["id"],
                                   keep_sort_keys=True))
    import unittest.mock as mock
    with mock.patch.object(b, "_current_version", return_value=-1):
        with pytest.raises(ConcurrentWriterError):
            b._write_state(cdc.materialize(cdc.normalize_ops(batch),
                                           ["id"], keep_sort_keys=True))
    # winner's committed state reads back intact, from its own dir
    st = a.read_state()
    assert st.count() == 1
    committed = a.clog.read_committed()[1]["data_dir"]
    # the loser holds no handle on its orphan dir: its read follows the
    # log to the winner's rows
    assert b._state_handle is None
    lost = b.read_state()
    assert [tuple(r) for r in lost.select("id", "val").collect()] \
        == [(1, "a")]
    assert all(f"/{committed}/" in f for f in lost.inputFiles())
    files = {f for f in os.listdir(os.path.join(work, "state", committed))
             if f.endswith(".parquet")}
    assert files, "winner's data dir must still hold its parquet"
    # loser's orphan dir is disjoint and pruned by the next commit
    dirs = [d for d in os.listdir(os.path.join(work, "state"))
            if d.startswith("v0")]
    assert len(dirs) == 2 and committed in dirs
    a._write_state(cdc.materialize(cdc.normalize_ops(batch), ["id"],
                                   keep_sort_keys=True))  # v1
    a._write_state(cdc.materialize(cdc.normalize_ops(batch), ["id"],
                                   keep_sort_keys=True))  # v2: prunes v0
    left = [d for d in os.listdir(os.path.join(work, "state"))
            if d.startswith("v0")]
    assert left == []  # both the superseded winner AND the orphan


# -- the per-version read handle --

def _jobs_started(spark, fn):
    """(fn(), number of Spark jobs fn started), via a job group."""
    import uuid
    sc = spark.sparkContext
    group = f"probe-{uuid.uuid4().hex}"
    saved = {k: sc.getLocalProperty(k) for k in
             ("spark.jobGroup.id", "spark.job.description",
              "spark.job.interruptOnCancel")}
    sc.setJobGroup(group, "probe")
    try:
        out = fn()
    finally:
        for k, v in saved.items():
            sc.setLocalProperty(k, v)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _batch(spark, *evts):
    return spark.createDataFrame(_rows(*evts), CHANGE_SCHEMA)


def _live(df):
    return sorted((r["id"], r["val"])
                  for r in df.where(~F.col("_is_deleted")).collect())


def test_read_state_handle_reused_until_next_commit(spark, tmp_path):
    """One analyzed DataFrame per committed version: repeated reads
    return the same object and start no Spark job; a commit replaces
    it with a handle on the new version."""
    src = str(tmp_path / "src")
    pipe = CdcPipeline(spark, "t1", src + "/*", str(tmp_path / "work"),
                       pk_cols=["id"], state_backend="versioned")
    assert pipe.read_state() is None
    pipe.apply_batch(_batch(spark, ("oracle-backfill", None, 0, 1, "a"),
                            ("oracle-backfill", None, 0, 2, "b")),
                     0, streaming_barrier=False)
    # the commit seeded the handle: even the first read runs no job
    first, jobs = _jobs_started(spark, pipe.read_state)
    assert jobs == 0
    again, jobs = _jobs_started(spark, pipe.read_state)
    assert again is first and jobs == 0
    assert _live(first) == [(1, "a"), (2, "b")]

    pipe.apply_batch(_batch(spark, ("oracle-cdc-logminer", "UPDATE", 5,
                                    1, "a2")), 1, streaming_barrier=False)
    after = pipe.read_state()
    assert after is not first
    assert _live(after) == [(1, "a2"), (2, "b")]
    assert pipe.read_state() is after

    # a cold instance (restart) infers once per version, then reuses
    cold = CdcPipeline(spark, "t1", src + "/*", str(tmp_path / "work"),
                       pk_cols=["id"], state_backend="versioned")
    handle = cold.read_state()
    assert _live(handle) == [(1, "a2"), (2, "b")]
    again, jobs = _jobs_started(spark, cold.read_state)
    assert again is handle and jobs == 0


def test_read_state_sees_another_instances_commit(spark, tmp_path):
    """A warm handle is never stale: once a second pipeline instance
    on the same work dir commits, the first instance's read returns
    the new version's rows."""
    src = str(tmp_path / "src")
    work = str(tmp_path / "work")
    a = CdcPipeline(spark, "t1", src + "/*", work, pk_cols=["id"],
                    state_backend="versioned")
    a.apply_batch(_batch(spark, ("oracle-backfill", None, 0, 1, "a")),
                  0, streaming_barrier=False)
    warm = a.read_state()
    assert _live(warm) == [(1, "a")]

    b = CdcPipeline(spark, "t1", src + "/*", work, pk_cols=["id"],
                    state_backend="versioned")
    b.apply_batch(_batch(spark, ("oracle-cdc-logminer", "INSERT", 5,
                                 2, "b")), 1, streaming_barrier=False)
    fresh = a.read_state()
    assert fresh is not warm
    assert _live(fresh) == [(1, "a"), (2, "b")]
    assert all(f"/{b.clog.read_committed()[1]['data_dir']}/" in f
               for f in fresh.inputFiles())


def test_seeded_handle_schema_equals_inferred(spark, tmp_path):
    """The handle a commit seeds carries the schema Spark infers for
    the committed dir: after the initial materialize, after a merge,
    and after a drift batch whose new column the state lacks."""
    src = str(tmp_path / "src")
    pipe = CdcPipeline(spark, "t1", src + "/*", str(tmp_path / "work"),
                       pk_cols=["id"], state_backend="versioned")

    def check():
        seeded, jobs = _jobs_started(spark, pipe.read_state)
        assert jobs == 0  # the seeded handle, not a fresh inference
        committed = pipe.clog.read_committed()[1]["data_dir"]
        assert seeded.schema == spark.read.parquet(
            os.path.join(pipe.state_dir, committed)).schema
        return seeded

    pipe.apply_batch(_batch(spark, ("oracle-backfill", None, 0, 1, "a")),
                     0, streaming_barrier=False)
    check()
    pipe.apply_batch(_batch(spark, ("oracle-cdc-logminer", "UPDATE", 5,
                                    1, "a2")), 1, streaming_barrier=False)
    check()
    drifted = T.StructType(list(CHANGE_SCHEMA.fields)
                           + [T.StructField("extra", T.LongType())])
    rows = [r + (7,) for r in _rows(("oracle-cdc-logminer", "INSERT", 9,
                                     2, "b"))]
    pipe.apply_batch(spark.createDataFrame(rows, drifted), 2,
                     streaming_barrier=False)
    seeded = check()
    assert "extra" in seeded.columns
    got = {r["id"]: (r["val"], r["extra"]) for r in seeded.collect()}
    assert got == {1: ("a2", None), 2: ("b", 7)}


# -- the one-pass merge and its observed bookkeeping stats --

def test_warm_versioned_apply_batch_starts_at_most_four_jobs(spark,
                                                            tmp_path):
    """A warm versioned apply_batch is one write: the stats ride it as
    an observation and the merge scans the state once (it was 10 jobs
    with a separate stats aggregate and a two-scan merge)."""
    src = str(tmp_path / "src")
    pipe = CdcPipeline(spark, "t1", src + "/*", str(tmp_path / "work"),
                       pk_cols=["id"], state_backend="versioned")
    pipe.apply_batch(_batch(spark, *[("oracle-backfill", None, 0, i, "a")
                                     for i in range(20)]),
                     0, streaming_barrier=False)
    pipe.read_state()
    _, jobs = _jobs_started(spark, lambda: pipe.apply_batch(
        _batch(spark, ("oracle-cdc-logminer", "UPDATE", 5, 1, "a2"),
               ("oracle-cdc-logminer", "INSERT", 6, 99, "n")),
        1, streaming_barrier=False))
    assert jobs <= 4
    assert _live(pipe.read_state())[:2] == [(0, "a"), (1, "a2")]
    assert (99, "n") in _live(pipe.read_state())


def test_merge_result_belongs_to_the_batch_session(spark, tmp_path):
    """The merged frame must run in the BATCH's session: an Observation
    on a foreachBatch frame never fills when the written frame belongs
    to another session, and apply_batch would block forever. A batch
    from a second session (as foreachBatch hands over) still applies."""
    import threading

    src = str(tmp_path / "src")
    pipe = CdcPipeline(spark, "t1", src + "/*", str(tmp_path / "work"),
                       pk_cols=["id"], state_backend="versioned")
    pipe.apply_batch(_batch(spark, ("oracle-backfill", None, 0, 1, "a")),
                     0, streaming_barrier=False)
    other = spark.newSession()
    batch = other.createDataFrame(
        _rows(("oracle-cdc-logminer", "UPDATE", 5, 1, "a2")), CHANGE_SCHEMA)
    merged = cdc.merge_batch(pipe.read_state(), cdc.normalize_ops(batch),
                             ["id"])
    assert merged.sparkSession is batch.sparkSession
    assert merged._jdf.sparkSession().equals(batch._jdf.sparkSession())

    t = threading.Thread(target=pipe.apply_batch, args=(batch, 1),
                         kwargs={"streaming_barrier": False}, daemon=True)
    t.start()
    t.join(120)
    assert not t.is_alive(), "apply_batch blocked on its observation"
    assert _live(pipe.read_state()) == [(1, "a2")]


def test_ttl_marks_exactly_the_streamed_batch_files(spark, tmp_path):
    """With ttl= set, the files a streamed batch read (observed on the
    merge write) are marked processed, and only those: a second batch
    onto the existing state adds exactly its own files."""
    import glob

    from datastream_delta_plugins_spark.sources.ttl import ProcessedFileTtl
    src = str(tmp_path / "src")
    ttl = ProcessedFileTtl(str(tmp_path / "ttl.json"))
    pipe = CdcPipeline(spark, "t1", src + "/*", str(tmp_path / "work"),
                       pk_cols=["id"], ttl=ttl, state_backend="versioned")

    def parts(name):
        return set(glob.glob(f"{src}/{name}/*.parquet"))

    _write(spark, f"{src}/f1_oracle-backfill_0",
           ("oracle-backfill", None, 0, 1, "a"))
    _run(pipe)
    first = set(ttl.doc.as_dict())
    assert first == parts("f1_oracle-backfill_0")
    _write(spark, f"{src}/f2_oracle-cdc-logminer_1",
           ("oracle-cdc-logminer", "UPDATE", 5, 1, "a2"),
           ("oracle-cdc-logminer", "INSERT", 6, 2, "b"))
    _run(pipe)
    assert set(ttl.doc.as_dict()) - first == \
        parts("f2_oracle-cdc-logminer_1")
    assert _live(pipe.read_state()) == [(1, "a2"), (2, "b")]


@pytest.mark.parametrize("backend", ["versioned", "bucketed"])
def test_empty_batch_commits_nothing_and_still_advances_barrier(
        spark, tmp_path, backend):
    """An empty batch is known only from the observed row count after
    the merge's first scan: it commits no version, leaves no data dir
    behind, and still advances the snapshot barrier like an empty
    scan."""
    src = str(tmp_path / "src")
    pipe = CdcPipeline(spark, "t1", src + "/*", str(tmp_path / "work"),
                       pk_cols=["id"], state_backend=backend)
    pipe.apply_batch(_batch(spark, ("oracle-backfill", None, 0, 1, "a")),
                     0, streaming_barrier=False)
    version = (pipe.bstate or pipe.clog).version()

    def files():
        return sorted(os.path.relpath(os.path.join(r, n), pipe.state_dir)
                      for r, _d, ns in os.walk(pipe.state_dir) for n in ns)

    before = files()
    pipe.mark_backfill("COMPLETED")
    pipe.apply_batch(spark.createDataFrame([], CHANGE_SCHEMA), 1)
    assert (pipe.bstate or pipe.clog).version() == version
    assert files() == before
    assert pipe.doc.get(sk.k_snapshot_done("t1")) == "true"
    assert pipe.doc.get(sk.k_last_done("t1")) == "0"
    assert _live(pipe.read_state()) == [(1, "a")]
