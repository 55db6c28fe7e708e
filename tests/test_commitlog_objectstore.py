"""ObjectStoreLog: the commit seam proven against REQUEST semantics —
atomic conditional PUT, strongly-consistent GET, lagging LIST — via the
injectable InMemoryObjectStore, so a real GCS/S3 binding is config-only
(implement four requests over the SDK). Covers crash-before/after the
PUT commit point, listing lag, concurrent writers, request latency, and
the pipelines running their manifests end-to-end on the mock bucket."""

import json

import pytest

from datastream_delta_plugins_spark.streaming.commitlog import (
    ConcurrentWriterError, InMemoryObjectStore, ObjectStoreLog,
    make_commit_log)


def test_roundtrip_and_monotonic_versions():
    log = ObjectStoreLog("bucket/t1", client=InMemoryObjectStore())
    assert log.read_committed() is None
    assert log.commit({"doc": 1}) == 0
    assert log.commit({"doc": 2}) == 1
    assert log.read_committed() == (1, {"version": 1, "doc": 2})
    # a fresh reader over the same client sees the same state
    r = ObjectStoreLog("bucket/t1", client=log.client)
    assert r.read_committed()[0] == 1


def test_crash_before_put_is_invisible_after_put_is_committed():
    """The conditional PUT is the commit point: a crash before it
    leaves the previous version committed; a crash AFTER it (commit()
    never returned) still committed — the atomicity object stores
    actually give, which call sites tolerate by idempotent retries."""
    store = InMemoryObjectStore()
    log = ObjectStoreLog("b/t", client=store)
    log.commit({"doc": 0})

    real_put = store.put_if_absent

    def crash_before(key, data):
        raise OSError("network down before PUT")
    store.put_if_absent = crash_before
    with pytest.raises(OSError):
        log.commit({"doc": "lost"})
    store.put_if_absent = real_put
    assert ObjectStoreLog("b/t", client=store).read_committed()[1][
        "doc"] == 0

    def crash_after(key, data):
        real_put(key, data)
        raise OSError("crashed after PUT")
    store.put_if_absent = crash_after
    with pytest.raises(OSError):
        log.commit({"doc": "durable"})
    store.put_if_absent = real_put
    # the PUT landed -> committed, even though commit() never returned
    assert ObjectStoreLog("b/t", client=store).read_committed()[1][
        "doc"] == "durable"
    # recovery: the writer re-reads and continues past it
    v = log.commit({"doc": "next"})
    assert ObjectStoreLog("b/t", client=store).read_committed() == \
        (v, {"version": v, "doc": "next"})


def test_listing_lag_is_stale_never_torn():
    """A lagging LIST may hide the newest version from OTHER readers
    (stale read that converges) but must never surface a torn or
    uncommitted one — and must not hide a writer's own commits from
    its next version() (it would re-plan a taken version)."""
    store = InMemoryObjectStore(listing_lag=2)
    w = ObjectStoreLog("b/t", client=store)
    w.commit({"doc": 0})
    w.commit({"doc": 1})  # own-floor: planning v1 didn't self-conflict
    r = ObjectStoreLog("b/t", client=store)
    got = r.read_committed()  # lagged: may be stale, never torn
    assert got is not None and got[1]["doc"] in (0, 1)
    for _ in range(3):  # lag expires -> converges
        got = ObjectStoreLog("b/t", client=store).read_committed()
    assert got[1]["doc"] == 1
    # the writer itself always sees its floor
    assert w.version() == 1


def test_concurrent_writer_detected_by_conditional_put():
    store = InMemoryObjectStore()
    a = ObjectStoreLog("b/t", client=store)
    b = ObjectStoreLog("b/t", client=store)
    a.commit({"doc": "a0"})
    # both plan v1 from the same view; a wins the conditional PUT
    a.commit({"doc": "a1"})
    import unittest.mock as mock
    with mock.patch.object(b, "version", return_value=0):  # stale view
        with pytest.raises(ConcurrentWriterError):
            b.commit({"doc": "b"})
    # nothing was written by the loser; retry lands on the next slot
    assert b.commit({"doc": "b"}) == 2


def test_request_latency_does_not_change_outcomes():
    store = InMemoryObjectStore(latency_s=0.002)
    log = ObjectStoreLog("b/t", client=store)
    for i in range(5):
        log.commit({"doc": i})
    assert log.read_committed()[1]["doc"] == 4
    ops = [op for op, _ in store.requests]
    assert "put" in ops and "list" in ops  # went through the client


def test_prune_respects_keep_and_payload_retention():
    store = InMemoryObjectStore()
    log = ObjectStoreLog("b/t", client=store, keep=3)
    for i in range(10):
        log.commit({"doc": i})
    assert log._payload(6)["doc"] == 6
    with pytest.raises(FileNotFoundError):
        log._payload(5)
    # keep=None never prunes
    log2 = ObjectStoreLog("b/u", client=store, keep=None)
    for i in range(10):
        log2.commit({"doc": i})
    assert log2._payload(0)["doc"] == 0


def test_partial_prune_cannot_shadow_new_commits():
    """Same invariant as VersionLog: a prune that failed partway (old
    versions surviving below a gap) must not regress version()."""
    store = InMemoryObjectStore()
    log = ObjectStoreLog("b/t", client=store, keep=None)
    for i in range(5):
        log.commit({"doc": i})
    store.delete(log._key(3))  # failed-prune hole below the top
    fresh = ObjectStoreLog("b/t", client=store)
    assert fresh.version() == 4
    assert fresh.read_committed()[1]["doc"] == 4


@pytest.mark.parametrize("lag", [0, 1, 3])
def test_crash_schedule_property_on_object_store(lag):
    """The crash-schedule safety property under request semantics: a
    fresh reader observes either the last commit whose PUT landed or a
    lag-stale predecessor — never a torn payload, never an invented
    version — and the writer always recovers."""
    import random
    rng = random.Random(20260815 + lag)
    store = InMemoryObjectStore(listing_lag=lag)
    w = ObjectStoreLog("b/t", client=store)
    landed = []  # payloads whose PUT reached the store
    real_put = store.put_if_absent

    def commit_retrying(payload):
        # a writer that died mid-commit may re-plan its own (lagged,
        # already-taken) version on restart: ConcurrentWriterError,
        # re-list, retry — the convergence loop a real deployment runs
        for _ in range(lag + 2):
            try:
                return w.commit(payload)
            except ConcurrentWriterError:
                continue
        raise AssertionError("never converged past listing lag")

    for i in range(24):
        action = rng.choice(["ok", "ok", "crash_before", "crash_after"])
        if action == "ok":
            v = commit_retrying({"doc": i})
            landed.append((v, i))
        elif action == "crash_before":
            store.put_if_absent = lambda k, d: (_ for _ in ()).throw(
                OSError("before"))
            with pytest.raises(OSError):
                w.commit({"doc": f"lost-{i}"})
            store.put_if_absent = real_put
        else:
            vplan = w.version() + 1  # the version the PUT will land on

            def crash_after(k, d):
                real_put(k, d)
                raise OSError("after")
            store.put_if_absent = crash_after
            with pytest.raises(OSError):
                w.commit({"doc": f"durable-{i}"})
            store.put_if_absent = real_put
            landed.append((vplan, f"durable-{i}"))  # PUT landed = committed
            for _ in range(lag):  # restarted writer re-lists until
                w.version()       # its crashed commit surfaces
        got = ObjectStoreLog("b/t", client=store).read_committed()
        if not landed or got is None:
            # nothing committed, or everything still lag-hidden from
            # this fresh reader — a stale-EMPTY read is legal under
            # lag; a torn or invented one never is
            assert got is None and (lag > 0 or not landed)
        else:
            # stale-by-lag reads allowed; torn/invented never
            valid = {(v, doc) for v, doc in landed}
            assert (got[0], got[1]["doc"]) in valid
            assert got[0] <= landed[-1][0]
    v = commit_retrying({"doc": "final"})
    # the writer's own floor is immediate; readers converge post-lag
    for _ in range(lag + 1):
        got = ObjectStoreLog("b/t", client=store).read_committed()
    assert got == (v, {"version": v, "doc": "final"})


def test_versioned_pipeline_on_object_store_mock(spark, tmp_path):
    """CdcPipeline manifests through request semantics end-to-end:
    data parquet on disk, every commit a conditional PUT against the
    shared mock bucket; a second pipeline instance (restart) reopens
    committed state through the same bucket."""
    import os

    from test_commitlog import _batch

    from datastream_delta_plugins_spark.streaming.pipeline import CdcPipeline

    store = InMemoryObjectStore()

    def mk():
        return CdcPipeline(spark, "t1", str(tmp_path / "src"),
                           str(tmp_path / "w"), ["id"],
                           sort_cols=("_sk1", "_sk2", "_sk3", "_sk4"),
                           client=store)

    p = mk()
    p.apply_batch(_batch(spark), 0, streaming_barrier=False)
    assert p.read_state().count() == 20
    p.apply_batch(_batch(spark, 5), 1, streaming_barrier=False)
    assert p.read_state().count() == 20
    # no POSIX pointer or version files anywhere under the state dir
    for root, _dirs, names in os.walk(tmp_path / "w" / "state"):
        assert "CURRENT" not in names
        assert not [n for n in names if n.endswith(".json")]
    # restart: a fresh instance reads the bucket's committed manifest
    assert mk().read_state().count() == 20


def test_read_committed_gets_the_payload_once():
    """read_committed() returns the payload its validation read: one
    LIST and one GET, for a reader whose listing is current and for
    the writer itself."""
    store = InMemoryObjectStore()
    w = ObjectStoreLog("b/t", client=store)
    w.commit({"doc": 1})
    w.commit({"doc": 2})
    for log in (w, ObjectStoreLog("b/t", client=store)):
        store.requests.clear()
        assert log.read_committed() == (1, {"version": 1, "doc": 2})
        assert store.requests == [("list", "b/t/commitlog/v"),
                                  ("get", "b/t/commitlog/v1.json")]


def test_warm_read_state_is_one_list_one_get(spark, tmp_path):
    """A warm versioned read_state() on a bucket deployment costs one
    LIST and one GET of the commit log, and no Spark job."""
    from test_commitlog import _batch

    from datastream_delta_plugins_spark.streaming.pipeline import CdcPipeline

    store = InMemoryObjectStore()
    p = CdcPipeline(spark, "t1", str(tmp_path / "src"), str(tmp_path / "w"),
                    ["id"], sort_cols=("_sk1", "_sk2", "_sk3", "_sk4"),
                    state_backend="versioned", client=store)
    p.apply_batch(_batch(spark), 0, streaming_barrier=False)
    handle = p.read_state()
    store.requests.clear()
    assert p.read_state() is handle
    assert [op for op, _ in store.requests] == ["list", "get"]


def test_bucketed_state_on_object_store_mock(spark, tmp_path):
    from test_commitlog import _batch

    from datastream_delta_plugins_spark.streaming.bucketed_state import \
        BucketedStateTable

    store = InMemoryObjectStore()
    t = BucketedStateTable(spark, str(tmp_path), ["id"],
                           sort_cols=("_sk1", "_sk2", "_sk3", "_sk4"),
                           n_buckets=4, client=store)
    t.merge(_batch(spark))
    t.merge(_batch(spark, 5))
    assert t.read().count() == 20
    t2 = BucketedStateTable(spark, str(tmp_path), ["id"],
                            sort_cols=("_sk1", "_sk2", "_sk3", "_sk4"),
                            n_buckets=4, client=store)
    assert t2.read().count() == 20


def test_make_commit_log_object_mock_shares_bucket(tmp_path):
    """Logs opened over one client see each other's commits, like
    independent clients of one bucket."""
    store = InMemoryObjectStore()
    a = make_commit_log(str(tmp_path), client=store)
    b = make_commit_log(str(tmp_path), client=store)
    a.commit({"doc": 1})
    assert b.read_committed()[1]["doc"] == 1
    assert json.loads(a.client.get(a._key(0)))["doc"] == 1


def test_landing_manifest_on_object_store_mock(spark, tmp_path):
    """The Avro landing's ENTIRE sidecar plane rides request
    semantics: manifest versions AND day segments live in the mock
    bucket; only parquet batches (Spark/executor-written data) stay
    on filesystem storage — no _landing_log ever touches POSIX."""
    import os as _os
    import sys
    sys.path.insert(0, "tests")
    from test_avro_landing import _events, _write_avro

    from datastream_delta_plugins_spark.sources.avro_landing import \
        AvroLandingConverter
    src = tmp_path / "avro"
    src.mkdir()
    _write_avro(src, "k1_oracle-cdc-logminer_0.avro", _events(0, 10))
    store = InMemoryObjectStore()
    c = AvroLandingConverter(spark, str(src), str(tmp_path / "landing"),
                             client=store)
    assert c.convert_new()["converted"] == 1
    assert c.read_landing().count() == 10
    # a fresh converter instance over the same bucket sees the commit
    c2 = AvroLandingConverter(spark, str(src), str(tmp_path / "landing"),
                              client=store)
    assert c2.convert_new() == {"converted": 0, "batch_dir": None}
    # the landing-log plane left ZERO files on the local filesystem —
    # manifest and segments are bucket objects only
    assert not _os.path.exists(tmp_path / "landing" / "_landing_log")
    keys = c.store.list_keys(str(tmp_path / "landing") + "/")
    assert any("/segments/" in k for k in keys)
    assert any(k.endswith("v0.json") for k in keys)


def test_auto_migration_on_object_store_mock(spark, tmp_path):
    """The auto backend's versioned->bucketed switchover commits both
    layouts' manifests through the mock bucket: migration fires off
    the committed n_rows payload, and the restarted pipeline reopens
    the bucketed layout."""
    from test_commitlog import _batch

    from datastream_delta_plugins_spark.streaming.pipeline import CdcPipeline

    store = InMemoryObjectStore()

    def mk():
        return CdcPipeline(spark, "t1", str(tmp_path / "src"),
                           str(tmp_path / "w"), ["id"],
                           sort_cols=("_sk1", "_sk2", "_sk3", "_sk4"),
                           state_backend="auto", auto_bucket_rows=5,
                           n_state_buckets=4, client=store)

    p = mk()
    p.apply_batch(_batch(spark), 0, streaming_barrier=False)
    assert p.bstate is not None  # crossed the threshold and migrated
    assert p.read_state().count() == 20
    p.apply_batch(_batch(spark, 30), 1, streaming_barrier=False)
    assert p.read_state().count() == 30
    p2 = mk()
    assert p2.bstate is not None
    assert p2.read_state().count() == 30


def test_full_landing_lifecycle_on_lagging_mock_bucket(spark, tmp_path,
                                                       monkeypatch):
    """The ENTIRE landing protocol — convert, read, compact, vacuum,
    retention — runs against object-store request semantics with
    listing lag: every sidecar operation is a client request, zero
    landing-log files ever touch POSIX, and the converter's
    steady-state scan parses only changed segments (the parse cache)."""
    import os as _os
    import sys
    sys.path.insert(0, "tests")
    from test_avro_landing import _at_day, _events, _write_avro

    from datastream_delta_plugins_spark.sources.avro_landing import \
        AvroLandingConverter

    src = tmp_path / "avro"
    src.mkdir()
    landing = str(tmp_path / "landing")
    bucket = InMemoryObjectStore(listing_lag=1)
    c = AvroLandingConverter(spark, str(src), landing, client=bucket,
                             retention_days=1.5)
    assert c.store is bucket  # sidecars ride the SAME bucket client

    # day 0: convert a backlog of small batches
    _at_day(monkeypatch, 0)
    for b in range(4):
        _write_avro(src, f"k1_oracle-cdc-logminer_{b}.avro",
                    _events(b * 5, b * 5 + 5))
        assert c.convert_new()["converted"] == 1
    assert c.read_landing().count() == 20

    # steady-state scan: the segment parse cache means a no-op scan
    # issues ZERO segment GETs (manifest reads only)
    before = len(bucket.requests)
    assert c.convert_new() == {"converted": 0, "batch_dir": None}
    seg_gets = [r for r in bucket.requests[before:]
                if r[0] == "get" and "/segments/" in r[1]]
    assert seg_gets == []

    # a FRESH converter (cold cache) parses each live segment once
    c2 = AvroLandingConverter(spark, str(src), landing, client=bucket,
                              retention_days=1.5)
    before = len(bucket.requests)
    assert c2.convert_new() == {"converted": 0, "batch_dir": None}
    seg_gets = [r for r in bucket.requests[before:]
                if r[0] == "get" and "/segments/" in r[1]]
    assert len(seg_gets) == len(c2._committed()["segments"])

    # day 1: more data, then compact + vacuum under the lagging LIST
    _at_day(monkeypatch, 1)
    _write_avro(src, "k1_oracle-cdc-logminer_d1.avro", _events(20, 30))
    assert c.convert_new()["converted"] == 1
    assert c.compact(min_batches=2)["compacted"] == 5
    assert c.read_landing().count() == 30
    removed = c.vacuum()
    assert len([d for d in removed if d.startswith("b")]) == 5
    assert c.read_landing().count() == 30

    # day 3: day-0 blobs expire once deleted at the source
    _at_day(monkeypatch, 3)
    for b in range(4):
        _os.remove(src / f"k1_oracle-cdc-logminer_{b}.avro")
    _write_avro(src, "k1_oracle-cdc-logminer_d3.avro", _events(30, 35))
    assert c.convert_new()["converted"] == 1
    days = set(c._committed()["segments"])
    assert len(days) == 2  # day-0 segment dropped, day-1 + day-3 live
    assert c.read_landing().count() == 35
    assert c.convert_new() == {"converted": 0, "batch_dir": None}

    # the audit: the landing-log plane left NOTHING on local disk —
    # manifest versions and segments are bucket objects only, and all
    # four request kinds were exercised against it
    assert not _os.path.exists(tmp_path / "landing" / "_landing_log")
    ops = {op for op, k in bucket.requests if "_landing_log" in k}
    assert {"put", "get", "list", "delete"} <= ops


def test_converter_racing_compactor_both_effects_land(spark, tmp_path,
                                                      monkeypatch):
    """OCC above the seam: a converter whose commit loses the
    conditional PUT to a concurrent compactor re-plans against the
    new CURRENT and lands — both writers' effects survive, no rows
    lost or duplicated, and the expensive decode is NOT redone (the
    re-plan reuses the attempt's already-converted dir)."""
    import sys
    sys.path.insert(0, "tests")
    from test_avro_landing import _events, _write_avro

    import datastream_delta_plugins_spark.sources.avro_landing as al
    from datastream_delta_plugins_spark.sources.avro_landing import \
        AvroLandingConverter

    src = tmp_path / "avro"
    src.mkdir()
    landing = str(tmp_path / "landing")
    store = InMemoryObjectStore()
    c1 = AvroLandingConverter(spark, str(src), landing, client=store)
    c2 = AvroLandingConverter(spark, str(src), landing, client=store)
    _write_avro(src, "k1_oracle-cdc-logminer_0.avro", _events(0, 10))
    assert c1.convert_new()["converted"] == 1

    decodes = {"n": 0}
    real_convert = al.convert_avro_to_parquet

    def counting_convert(*a, **k):
        decodes["n"] += 1
        return real_convert(*a, **k)
    monkeypatch.setattr(al, "convert_avro_to_parquet", counting_convert)

    # interleave: c2 compacts BETWEEN c1's plan and c1's commit
    _write_avro(src, "k1_oracle-cdc-logminer_1.avro", _events(10, 25))
    real_commit_at = c1.clog.commit_at
    fired = {"done": False}

    def compact_first(v, payload):
        if not fired["done"]:
            fired["done"] = True
            assert c2.compact(min_batches=1)["compacted"] == 1
        return real_commit_at(v, payload)
    monkeypatch.setattr(c1.clog, "commit_at", compact_first)

    res = c1.convert_new()  # loses v1 to the compactor, retries at v2
    assert res["converted"] == 1
    assert decodes["n"] == 1  # the re-plan reused the decoded dir
    monkeypatch.undo()

    # both effects landed: compacted dir + the converter's new batch
    assert c1.clog.version() == 2
    assert c1.read_landing().count() == 25
    assert c1.read_landing().select("uuid").distinct().count() == 25
    assert len(c1.converted_files()) == 2
    # steady state converges for both writers
    assert c1.convert_new() == {"converted": 0, "batch_dir": None}
    assert c2.convert_new() == {"converted": 0, "batch_dir": None}
    # vacuum retires the conflicted attempt's orphan, reads survive
    c1.vacuum()
    assert c1.read_landing().count() == 25


def test_bucketed_merge_racing_merge_no_lost_update(spark, tmp_path,
                                                    monkeypatch):
    """Two writers merging into one bucketed table: the loser's stale
    manifest must NOT land over the winner's (lost update) — commit_at
    conflicts and the re-merge folds the batch into the winner's
    state. Every row from both writers survives."""
    merge_race_keeps_both_batches(spark, tmp_path, monkeypatch,
                                  InMemoryObjectStore())


def merge_race_keeps_both_batches(spark, tmp_path, monkeypatch, client):
    """Writer b merges between writer a's plan and a's manifest commit;
    a must re-plan (OCC) and both batches' rows survive. ``client``:
    the shared bucket, or None for local disk."""
    from test_bucketed_state import _changes

    from datastream_delta_plugins_spark.streaming.bucketed_state import \
        BucketedStateTable

    path = str(tmp_path / "state")

    def mk():
        return BucketedStateTable(spark, path, ["id"], n_buckets=4,
                                  client=client)

    def rows(*items):  # (id, val, sk) triples -> change batch
        return _changes(spark, [(i, v, "INSERT", sk, 1, "A", 1)
                                for i, v, sk in items])
    a, b = mk(), mk()
    a.merge(rows((1, "a1", 100), (2, "a2", 100)))

    real_commit_at = a.clog.commit_at
    fired = {"done": False}

    def b_merges_first(v, payload):
        if not fired["done"]:
            fired["done"] = True
            b.merge(rows((3, "b3", 100), (4, "b4", 100)))
        return real_commit_at(v, payload)
    monkeypatch.setattr(a.clog, "commit_at", b_merges_first)
    res = a.merge(rows((2, "a2v2", 200), (5, "a5", 100)))
    monkeypatch.undo()

    assert res["version"] == 2  # planned v1, lost it to b, landed v2
    rows = {(r["id"], r["val"]) for r in
            mk().read().select("id", "val").collect()}
    assert rows == {(1, "a1"), (2, "a2v2"), (3, "b3"), (4, "b4"),
                    (5, "a5")}
    # the conflicted attempt's data dir is an orphan vacuum retires
    a.vacuum(keep_versions=0)
    rows2 = {(r["id"], r["val"]) for r in
             mk().read().select("id", "val").collect()}
    assert rows2 == rows


def test_posix_delete_never_ascends_past_one_level(tmp_path):
    """PosixStore.delete cleans at most the key's IMMEDIATE emptied
    parent — never an ascent that could remove a watched root (the
    producer's drop directory) out from under its owner — and the
    cleanup is disableable for stores over unowned trees."""
    import os as _os

    from datastream_delta_plugins_spark.streaming.commitlog import \
        PosixStore
    s = PosixStore()
    deep = tmp_path / "drop" / "2026" / "08" / "15"
    deep.mkdir(parents=True)
    s.put(str(deep / "f.avro"), b"x")
    s.delete(str(deep / "f.avro"))
    assert not deep.exists()                    # emptied day dir goes
    assert (tmp_path / "drop" / "2026" / "08").exists()  # month stays
    assert (tmp_path / "drop").exists()

    s2 = PosixStore(rmdir_empty_parent=False)
    flat = tmp_path / "flat"
    flat.mkdir()
    s2.put(str(flat / "g.avro"), b"x")
    s2.delete(str(flat / "g.avro"))
    assert flat.exists()  # the unowned source root is untouched


def test_bucketed_manifest_never_derived_from_lagging_listing(
        spark, tmp_path):
    """merge()/seed() must compute the committed bucket set from the
    DATA (touched buckets / distinct collect), never by listing the
    just-written keys — the client contract allows listings to lag
    puts, and a lagged listing would silently drop fresh partitions
    from the manifest (permanent row loss)."""
    from test_bucketed_state import _batch1, _snap

    from datastream_delta_plugins_spark.operators import cdc
    from datastream_delta_plugins_spark.streaming.bucketed_state import \
        BucketedStateTable
    from datastream_delta_plugins_spark.streaming.commitlog import \
        PosixStore

    class NoFreshListing(PosixStore):
        def list_keys(self, prefix, start_after=None):
            raise AssertionError(
                f"write path listed just-written keys under {prefix}")

    t = BucketedStateTable(spark, str(tmp_path / "st"), ["id"],
                           n_buckets=4, data_store=NoFreshListing())
    t.merge(_batch1(spark))
    t.merge(_batch1(spark))
    ref = cdc.materialize(_batch1(spark).unionByName(_batch1(spark)),
                          ["id"], keep_sort_keys=True)
    assert _snap(t.read()) == _snap(ref)
    # every touched bucket made it into the manifest
    assert set(t.current_manifest()) == {
        str(r[0]) for r in ref.selectExpr(
            "pmod(xxhash64(id), 4) AS b").distinct().collect()}


def test_rollup_occ_retry_replans_on_conflict(spark, tmp_path,
                                              monkeypatch):
    """A rollup writer losing the manifest commit to a concurrent
    writer must re-plan (re-read signatures + re-aggregate) and land —
    not fail, and not overwrite the other writer's manifest from a
    stale snapshot."""
    import datastream_delta_plugins_spark.sinks.rollup as rollup_mod
    from pyspark.sql import functions as F

    src = str(tmp_path / "src")
    (spark.range(100)
          .selectExpr("id", "CAST(id % 3 AS INT) AS p")
          .write.partitionBy("p").parquet(src))
    rp = str(tmp_path / "rollup")
    aggs = {"n": F.count(F.lit(1)), "s": F.sum("id")}
    rollup_mod.update_rollup(spark, src, rp, [], aggs)

    # grow the source so the next update has work to do, then make the
    # first commit attempt lose to an interleaved competitor
    (spark.range(100, 130)
          .selectExpr("id", "CAST(id % 3 AS INT) AS p")
          .write.mode("append").partitionBy("p").parquet(src))
    real_mk = rollup_mod._log_with_legacy
    state = {"fired": False}

    def interleaving(path, subdir, legacy):
        log = real_mk(path, subdir, legacy)
        if subdir != rollup_mod.ROLLUP_LOG:
            return log
        real_commit_at = log.commit_at

        def commit_with_race(v, payload):
            if not state["fired"]:
                state["fired"] = True
                competitor = real_mk(path, subdir, legacy)
                competitor.commit_at(v, {"doc": {"raced": [0, 0, 0.0]}})
            return real_commit_at(v, payload)
        log.commit_at = commit_with_race
        return log
    monkeypatch.setattr(rollup_mod, "_log_with_legacy", interleaving)
    res = rollup_mod.update_rollup(spark, src, rp, [], aggs)
    monkeypatch.undo()
    assert state["fired"]
    assert res["changed"] == 3  # the retry re-aggregated
    got = {(r["p"], r["n"], r["s"]) for r in
           rollup_mod.read_rollup(spark, rp)
           .collect()}
    want = {(r["p"], r["n"], r["s"]) for r in
            spark.read.parquet(src).groupBy("p")
                 .agg(F.count(F.lit(1)).alias("n"),
                      F.sum("id").alias("s")).collect()}
    assert got == want


def test_auto_migration_crash_retry_on_object_store_mock(spark,
                                                         tmp_path):
    """A migration that crashes AFTER the bucketed seed committed to
    the bucket but BEFORE the backend flip must be retryable: the
    retry wipes the half-migrated table THROUGH the log/client
    interfaces (a local rmtree cannot reset a bucket-resident
    manifest — seed() would fail 'not empty' forever) and reseeds
    from the still-authoritative versioned state."""
    from test_commitlog import _batch

    from datastream_delta_plugins_spark.streaming.pipeline import CdcPipeline

    store = InMemoryObjectStore()

    def mk():
        return CdcPipeline(spark, "t1", str(tmp_path / "src"),
                           str(tmp_path / "w"), ["id"],
                           sort_cols=("_sk1", "_sk2", "_sk3", "_sk4"),
                           state_backend="auto", auto_bucket_rows=5,
                           n_state_buckets=4, client=store)

    p = mk()
    real_put = p.doc.put

    def crash_before_flip(k, v):
        if "backend" in str(k):
            raise OSError("crash between seed and backend flip")
        return real_put(k, v)
    p.doc.put = crash_before_flip
    with pytest.raises(OSError, match="between seed and backend flip"):
        p.apply_batch(_batch(spark), 0, streaming_barrier=False)

    # versioned stayed authoritative; the retry re-migrates cleanly
    p2 = mk()
    assert p2.bstate is None  # flip never happened
    p2.apply_batch(_batch(spark), 0, streaming_barrier=False)
    assert p2.bstate is not None
    assert p2.read_state().count() == 20
    p2.apply_batch(_batch(spark, 30), 1, streaming_barrier=False)
    assert p2.read_state().count() == 30
    # a third open sees the migrated table
    assert mk().read_state().count() == 30


def test_bucketed_wipe_resets_manifest_and_data(spark, tmp_path):
    from test_bucketed_state import _batch1

    from datastream_delta_plugins_spark.streaming.bucketed_state import \
        BucketedStateTable

    store = InMemoryObjectStore()

    def mk():
        return BucketedStateTable(spark, str(tmp_path / "st"), ["id"],
                                  n_buckets=4, client=store)
    t = mk()
    t.seed(__import__("datastream_delta_plugins_spark.operators.cdc",
                      fromlist=["cdc"]).materialize(
        _batch1(spark), ["id"], keep_sort_keys=True))
    assert t.version() == 0
    t.wipe()
    t2 = mk()
    assert t2.version() == -1
    assert t2.read() is None
    # reseed over the wiped table succeeds (seed is one-time only on
    # a NON-wiped table)
    t2.seed(__import__("datastream_delta_plugins_spark.operators.cdc",
                       fromlist=["cdc"]).materialize(
        _batch1(spark), ["id"], keep_sort_keys=True))
    assert t2.read().count() == 50
