"""Commit-protocol tests (streaming/commitlog.py): crash between data
and commit, torn payloads, listing lag, concurrent writers, and the
three sinks (versioned state, bucketed state, rollup) on the local log
end-to-end.

The contract tests run once per store layout (``LAYOUTS``):

- ``log``: a fresh local dir (``VersionLog`` over ``PosixStore``);
- ``pointer``: a local dir whose log subdir still holds the ``CURRENT``
  file of the retired pointer-swap protocol — the listing rule must
  never read it;
- ``bucket``: an ``InMemoryObjectStore`` with a one-LIST listing lag.
"""

import json
import os

import pytest

from datastream_delta_plugins_spark.streaming.commitlog import (
    ConcurrentWriterError, InMemoryObjectStore, VersionLog, make_commit_log)

LAYOUTS = ["pointer", "log", "bucket"]
LOCAL_LAYOUTS = ["pointer", "log"]


def log_opener(root, layout: str):
    """``open(**kw)`` -> a commit log at ``root`` in ``layout``; every
    call opens a new instance (a restart) over the same store."""
    client = InMemoryObjectStore(listing_lag=1) \
        if layout == "bucket" else None
    if layout == "pointer":
        os.makedirs(os.path.join(root, "commitlog"))
        with open(os.path.join(root, "commitlog", "CURRENT"), "w") as f:
            f.write("0")  # stale: claims a version the dir never held

    def open_log(**kw):
        return make_commit_log(str(root), client=client, **kw)
    return open_log


def settled_read(open_log):
    """A fresh reader's view once listing lag has expired (a bucket
    hides a fresh key from one LIST)."""
    r = open_log()
    r.read_committed()
    return r.read_committed()


@pytest.mark.parametrize("layout", LAYOUTS)
def test_empty_log_reads_none(tmp_path, layout):
    log = log_opener(tmp_path, layout)()
    assert log.version() == -1
    assert log.read_committed() is None


@pytest.mark.parametrize("layout", LAYOUTS)
def test_commit_read_roundtrip_and_monotonic_versions(tmp_path, layout):
    open_log = log_opener(tmp_path, layout)
    log = open_log()
    assert log.commit({"doc": {"a": 1}}) == 0
    assert log.commit({"doc": {"a": 2}}) == 1
    v, payload = log.read_committed()
    assert v == 1 and payload["doc"] == {"a": 2}
    # a fresh instance (restart) sees the same committed state
    assert settled_read(open_log)[0] == 1


@pytest.mark.parametrize("layout", LAYOUTS)
def test_crash_between_data_and_commit_keeps_previous(tmp_path, layout):
    """Data files land first, the commit publishes last: a writer that
    dies in between must leave the previous version the committed one,
    and the retry must plan the same next version."""
    open_log = log_opener(tmp_path, layout)
    log = open_log()
    log.commit({"data_dir": "v0"})
    # simulated crash: the v1 data dir exists, commit never ran
    os.makedirs(tmp_path / "v1")
    assert log.read_committed() == (0, {"version": 0, "data_dir": "v0"})
    assert settled_read(open_log) == (0, {"version": 0, "data_dir": "v0"})
    # retry plans the same version and succeeds
    assert log.version() + 1 == 1
    assert log.commit({"data_dir": "v1"}) == 1


def test_version_log_ignores_torn_payload(tmp_path):
    """A half-written payload (no valid JSON / wrong version stamp)
    must read as uncommitted, and a retrying writer may reclaim it."""
    log = VersionLog(str(tmp_path))
    log.commit({"doc": 1})
    os.makedirs(log.log_dir, exist_ok=True)
    with open(os.path.join(log.log_dir, "v1.json"), "w") as f:
        f.write('{"version": 1, "doc"')  # torn write
    assert log.version() == 0
    assert log.commit({"doc": 2}) == 1  # reclaimed
    assert log.read_committed()[1]["doc"] == 2


def test_version_log_concurrent_writer_detected(tmp_path, monkeypatch):
    a = VersionLog(str(tmp_path))
    b = VersionLog(str(tmp_path))
    a.commit({"doc": "a0"})
    # both plan v1 from the same stale view; a commits first
    a.commit({"doc": "a1"})
    monkeypatch.setattr(b, "version", lambda: 0)  # stale read
    with pytest.raises(ConcurrentWriterError):
        b.commit({"doc": "b"})
    monkeypatch.undo()
    # normal retry lands on the next free version
    assert b.commit({"doc": "b"}) == 2


def test_version_log_listing_lag_is_conservative(tmp_path):
    """Listing lag can only HIDE committed versions, so the read is at
    worst stale (a lower committed version), never torn — and a hidden
    MIDDLE version cannot shadow the newest commit."""
    log = VersionLog(str(tmp_path))
    for i in range(4):
        log.commit({"doc": i})
    hidden = os.path.join(log.log_dir, "v2.json")
    os.rename(hidden, hidden + ".lagged")
    # v3 is still listed and valid -> still the committed version
    assert log.version() == 3
    # hiding the TOP version yields the previous committed one
    top = os.path.join(log.log_dir, "v3.json")
    os.rename(top, top + ".lagged")
    assert log.version() == 1
    assert log.read_committed()[1]["doc"] == 1
    os.rename(hidden + ".lagged", hidden)
    os.rename(top + ".lagged", top)
    assert log.version() == 3


def test_version_log_partial_prune_cannot_shadow_new_commits(tmp_path):
    """A prune that failed partway (old versions surviving below a
    gap) must not regress version() — an earlier contiguity rule could
    be fooled into re-claiming a pruned slot and shadowing the real
    head with an old payload."""
    log = VersionLog(str(tmp_path))
    for i in range(6):
        log.commit({"doc": i})
    os.remove(os.path.join(log.log_dir, "v4.json"))  # partial prune
    assert log.version() == 5
    assert log.commit({"doc": "new"}) == 6
    assert log.read_committed()[1]["doc"] == "new"


def test_version_log_tolerates_pruned_floor(tmp_path):
    """Pruned low versions never affect the committed head (version()
    is the highest valid listed file)."""
    log = VersionLog(str(tmp_path))
    for i in range(12):
        log.commit({"doc": i})
    listed = sorted(int(n[1:-5]) for n in os.listdir(log.log_dir)
                    if n.startswith("v"))
    assert listed[0] > 0  # pruning actually happened
    assert log.version() == 11


@pytest.mark.parametrize("layout", LAYOUTS)
def test_stale_reader_survives_new_commit(tmp_path, layout):
    """A reader holding version N keeps a readable payload while the
    writer commits N+1 (the prune window protects recent versions)."""
    open_log = log_opener(tmp_path, layout)
    log = open_log()
    log.commit({"doc": "old"})
    held_v, held_payload = settled_read(open_log)
    log.commit({"doc": "new"})
    # the held version's payload is still stored and re-readable
    assert open_log()._payload(held_v)["doc"] == "old"
    assert log.read_committed()[1]["doc"] == "new"


@pytest.mark.parametrize("layout", LAYOUTS)
def test_racing_writers_each_version_committed_once(tmp_path, layout):
    """Writers racing over one log, each with its own instance and a
    retry on conflict: every commit() that returns owns its version —
    no two writers return the same version, and each returned
    version reads back the payload its writer put."""
    import sys
    import threading

    open_log = log_opener(tmp_path, layout)
    won: list[tuple[int, str]] = []
    lock = threading.Lock()

    def writer(w):
        log = open_log(keep=None)
        for i in range(15):
            while True:
                try:
                    v = log.commit({"doc": f"w{w}-{i}"})
                    break
                except ConcurrentWriterError:
                    continue
            with lock:
                won.append((v, f"w{w}-{i}"))

    saved = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=writer, args=(w,))
                   for w in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(saved)
    assert not any(t.is_alive() for t in threads)
    assert len(won) == 8 * 15
    assert sorted(v for v, _ in won) == list(range(8 * 15))
    reader = open_log(keep=None)
    for v, doc in won:
        assert reader._payload(v)["doc"] == doc


# -- the three sinks on the local log --


def _batch(spark, n=20):
    rows = [(i, f"n{i}", "INSERT", 100 + i, i % 4) for i in range(n)]
    df = spark.createDataFrame(
        rows, "id long, name string, _op string, _sk1 long, _sk2 long")
    return df.withColumn("_sk3", df.id.cast("string")) \
             .withColumn("_sk4", df.id % 2)


def test_versioned_pipeline_on_version_log(spark, tmp_path):
    from datastream_delta_plugins_spark.streaming.pipeline import CdcPipeline
    p = CdcPipeline(spark, "t1", str(tmp_path / "src"),
                    str(tmp_path / "w"), ["id"],
                    sort_cols=("_sk1", "_sk2", "_sk3", "_sk4"))
    p.apply_batch(_batch(spark), 0, streaming_barrier=False)
    assert p.read_state().count() == 20
    p.apply_batch(_batch(spark, 5), 1, streaming_barrier=False)
    assert p.read_state().count() == 20
    assert not os.path.exists(tmp_path / "w" / "state" / "CURRENT")


def test_bucketed_state_on_version_log(spark, tmp_path):
    from datastream_delta_plugins_spark.streaming.bucketed_state import \
        BucketedStateTable
    t = BucketedStateTable(spark, str(tmp_path / "st"), ["id"],
                           sort_cols=("_sk1", "_sk2", "_sk3", "_sk4"),
                           n_buckets=4)
    t.merge(_batch(spark))
    assert t.read().count() == 20
    t.merge(_batch(spark, 3))
    assert t.read().count() == 20
    assert t.version() == 1
    assert not os.path.exists(tmp_path / "st" / "CURRENT")


def test_rollup_manifest_on_version_log(spark, tmp_path):
    from pyspark.sql import functions as F

    from datastream_delta_plugins_spark.sinks.rollup import (
        _load_manifest, _store_manifest, load_committed, store_committed)
    _store_manifest(str(tmp_path), {"d=1": [1, 10, 0.0]})
    assert _load_manifest(str(tmp_path)) == {"d=1": [1, 10, 0.0]}
    store_committed(str(tmp_path), {"batch_id": 3, "files": {}})
    assert load_committed(str(tmp_path))["batch_id"] == 3


# ----------------------------------------------- randomized crash schedules

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


@settings(max_examples=40, deadline=None)
@given(schedule=st.lists(
    st.sampled_from(["ok", "crash_publish", "crash_after_claim"]),
    min_size=1, max_size=24))
@pytest.mark.parametrize("layout", LAYOUTS)
def test_crash_schedule_never_loses_or_tears_commits(tmp_path_factory,
                                                     layout, schedule):
    """Safety property under any interleaving of successful commits and
    commits that crash at the atomic-publish boundary: a fresh reader
    (once listing lag expired) observes exactly the last commit() call
    that RETURNED — never a torn payload, never a lost commit, never a
    crashed one — and the writer always recovers (the next commit
    succeeds and becomes readable)."""
    tmp = tmp_path_factory.mktemp("sched")
    open_log = log_opener(tmp, layout)
    log = open_log()
    committed = []  # payloads whose commit() returned

    for i, action in enumerate(schedule):
        if action == "ok":
            v = log.commit({"doc": i})
            committed.append((v, i))
        else:
            # crash at the atomic publish step: on local disk the
            # os.link create-exclusive publish of the complete temp
            # payload (temp file written, target never appears); on a
            # bucket the conditional PUT request itself
            import datastream_delta_plugins_spark.streaming.commitlog \
                as clmod
            real_link = clmod.os.link

            def _boom(*a):
                raise OSError("injected crash at publish")
            try:
                if layout == "bucket":
                    log.client.put_if_absent = _boom
                else:
                    clmod.os.link = _boom
                with pytest.raises(OSError, match="injected"):
                    log.commit({"doc": f"crashed-{i}"})
            finally:
                clmod.os.link = real_link
                vars(log.client).pop("put_if_absent", None)
        # a FRESH reader (no in-memory state) sees exactly the last
        # successful commit, at its returned version
        got = settled_read(open_log)
        if not committed:
            assert got is None
        else:
            v, doc = committed[-1]
            assert got is not None
            assert got[0] == v
            assert got[1]["doc"] == doc
            # no crashed payload is ever visible
            assert not str(got[1]["doc"]).startswith("crashed-")

    # recovery: one more commit always succeeds and is readable
    v = log.commit({"doc": "final"})
    assert settled_read(open_log) == (v, {"version": v, "doc": "final"})


def test_reclamation_race_never_deletes_a_winners_commit(tmp_path,
                                                         monkeypatch):
    """Two writers racing to reclaim the SAME torn pre-link-protocol
    leftover: reclamation is an exclusive rename-aside, so the loser
    can never blind-remove the winner's just-published payload
    (remove-then-link TOCTOU) and never escapes with a bare
    FileNotFoundError."""
    log = VersionLog(str(tmp_path))
    log.commit({"doc": 0})
    target = os.path.join(log.log_dir, "v1.json")
    open(target, "w").close()  # torn leftover both writers see

    # simulate the loser's view: the winner reclaimed the leftover and
    # published between the loser's validity check and its reclaim
    real_rename = os.rename
    state = {"fired": False}

    def winner_interleaves(src, dst):
        if src == target and not state["fired"]:
            state["fired"] = True
            real_rename(src, dst)  # loser's rename-aside succeeds...
            # ...but the winner publishes v1 before the loser links
            with open(target, "w") as f:
                json.dump({"version": 1, "doc": "winner"}, f)
            return
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", winner_interleaves)
    with pytest.raises(ConcurrentWriterError):
        log.commit({"doc": "loser"})
    monkeypatch.undo()
    # the winner's commit survived intact
    assert VersionLog(str(tmp_path)).read_committed() == \
        (1, {"version": 1, "doc": "winner"})

    # and the symmetric view: the other racer takes the leftover aside
    # between our link failure and our rename — rename raises
    # FileNotFoundError, the leftover is gone, and our retry link wins
    t2 = os.path.join(log.log_dir, "v2.json")
    open(t2, "w").close()

    def already_taken(src, dst):
        if src == t2:
            os.remove(src)  # the racer's rename-aside
            raise FileNotFoundError(src)
        return real_rename(src, dst)
    monkeypatch.setattr(os, "rename", already_taken)
    assert log.commit({"doc": 2}) == 2  # no unhandled FileNotFoundError
    assert log.read_committed()[1]["doc"] == 2


def test_reclamation_validates_what_it_moved_aside(tmp_path,
                                                   monkeypatch):
    """The residual TOCTOU in leftover reclamation: the winner
    reclaims the torn leftover AND publishes a valid commit between
    the loser's validity check and the loser's rename-aside. The
    rename then moves aside a fresh inode holding a DURABLE commit —
    the loser must notice (validate what it moved aside), restore it
    with a create-exclusive link, and raise, instead of linking its
    own payload over the winner's."""
    log = VersionLog(str(tmp_path))
    log.commit({"doc": 0})
    target = os.path.join(log.log_dir, "v1.json")
    open(target, "w").close()  # torn leftover both writers see

    real_rename = os.rename
    state = {"fired": False}

    def winner_publishes_first(src, dst):
        if src == target and not state["fired"]:
            state["fired"] = True
            # winner's reclaim + publish land BEFORE our rename runs
            # (our _valid check above already read the torn file)
            with open(target, "w") as f:
                json.dump({"version": 1, "doc": "winner"}, f)
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", winner_publishes_first)
    with pytest.raises(ConcurrentWriterError):
        log.commit({"doc": "loser"})
    monkeypatch.undo()
    # the winner's durable commit was restored intact, not lost
    assert VersionLog(str(tmp_path)).read_committed() == \
        (1, {"version": 1, "doc": "winner"})
    # and no temp/reclaimed litter remains
    assert sorted(os.listdir(log.log_dir)) == ["v0.json", "v1.json"]
