"""Upgrade-path tests: directories written by the PRE-commit-seam
layout (root-level CURRENT pointer, single-file rollup manifests) must
never read as "empty" — that would let the next batch silently reset a
live table — and must be adoptable in place; directories written by
the retired pointer-swap protocol (in-log CURRENT) open as they are.
Also pins the commit-log contract changes: configurable retention (keep), the
link-protocol publish (a listed version file is complete by
construction), and the merge payload carrying n_rows so the auto
backend never re-counts state per micro-batch."""

import json
import os
import re

import pytest

from test_commitlog import LAYOUTS, LOCAL_LAYOUTS, log_opener

from datastream_delta_plugins_spark.streaming.commitlog import (
    VersionLog, legacy_root_version, make_commit_log)


# ------------------------------------------------ legacy root pointer

@pytest.mark.parametrize("layout", LOCAL_LAYOUTS)
def test_root_pointer_refuses_to_read_as_empty(tmp_path, layout):
    """An un-migrated pre-seam dir (root CURRENT, nothing in the log)
    must raise, not return -1 — version -1 would let the next commit
    overwrite the live v0 data the pointer still references. (A bucket
    never holds this POSIX-only layout.)"""
    with open(tmp_path / "CURRENT", "w") as f:
        f.write("3")
    log = log_opener(tmp_path, layout)()
    with pytest.raises(RuntimeError, match="adopt_legacy"):
        log.version()
    with pytest.raises(RuntimeError, match="pre-commit-seam"):
        log.commit({"doc": 1})  # commit plans via version()


@pytest.mark.parametrize("layout", LOCAL_LAYOUTS)
def test_adopt_legacy_migrates_and_is_idempotent(tmp_path, layout):
    with open(tmp_path / "CURRENT", "w") as f:
        f.write("2")
    log = log_opener(tmp_path, layout)()
    assert log.adopt_legacy({"data_dir": "v2"}) == 2
    assert not os.path.exists(tmp_path / "CURRENT")
    assert log.read_committed() == (2, {"version": 2, "data_dir": "v2"})
    # idempotent: nothing to adopt on a clean dir
    assert log.adopt_legacy({"data_dir": "v2"}) is None
    # crash-rerun: pointer recreated after the publish (remove ran
    # last and a crash interleaved) — re-adoption only clears it
    with open(tmp_path / "CURRENT", "w") as f:
        f.write("2")
    assert log.adopt_legacy({"data_dir": "SHOULD-NOT-PUBLISH"}) == 2
    assert log.read_committed()[1]["data_dir"] == "v2"
    assert legacy_root_version(str(tmp_path)) is None
    # normal operation continues past the adopted version
    assert log.commit({"data_dir": "v3"}) == 3


def test_pipeline_adopts_legacy_versioned_layout(spark, tmp_path):
    """A CdcPipeline state dir written before the seam (CURRENT at the
    state-dir root, v{N}/ parquet beside it) is adopted on open: the
    old state stays readable and the next batch MERGES into it instead
    of resetting the table."""
    from datastream_delta_plugins_spark.streaming.pipeline import CdcPipeline

    def mk():
        return CdcPipeline(spark, "t1", str(tmp_path / "src"),
                           str(tmp_path / "w"), ["id"],
                           sort_cols=("_sk1", "_sk2", "_sk3", "_sk4"))

    p = mk()
    p.apply_batch(_batch(spark), 0, streaming_barrier=False)
    assert p.read_state().count() == 20
    # rewrite the on-disk layout to the pre-seam shape: pointer at the
    # state-dir root, no commitlog/ subdir, and the nonce-LESS v{N}
    # data dir name the old writer used (the new writer names dirs
    # v{N}-{nonce}; a genuine legacy dir predates nonces)
    import os
    import shutil
    sd = tmp_path / "w" / "state"
    log = make_commit_log(str(sd))
    v = log.version()
    dname = log.read_committed()[1]["data_dir"]
    if dname != f"v{v}":
        os.rename(sd / dname, sd / f"v{v}")
    shutil.rmtree(sd / "commitlog")
    with open(sd / "CURRENT", "w") as f:
        f.write(str(v))
    # a fresh pipeline adopts, reads the old state, and merges
    p2 = mk()
    assert p2.read_state().count() == 20
    p2.apply_batch(_batch(spark, 5), 1, streaming_barrier=False)
    assert p2.read_state().count() == 20  # merged, not reset


def test_bucketed_adopts_legacy_layout(spark, tmp_path):
    """A bucketed state dir from the pre-seam layout (root CURRENT +
    manifest/v{N}.json bare bucket->dir maps) is adopted on open and
    merges continue against the old buckets."""
    from datastream_delta_plugins_spark.streaming.bucketed_state import \
        BucketedStateTable

    t = BucketedStateTable(spark, str(tmp_path), ["id"],
                           sort_cols=("_sk1", "_sk2", "_sk3", "_sk4"),
                           n_buckets=4)
    t.merge(_batch(spark))
    assert t.read().count() == 20
    # rewrite to the pre-seam shape: bare map json, root pointer
    man = t.current_manifest()
    v = t.version()
    with open(tmp_path / "manifest" / f"v{v}.json", "w") as f:
        json.dump(man, f)  # bare bucket->dir map, no version/n_buckets
    with open(tmp_path / "CURRENT", "w") as f:
        f.write(str(v))
    t2 = BucketedStateTable(spark, str(tmp_path), ["id"],
                            sort_cols=("_sk1", "_sk2", "_sk3", "_sk4"),
                            n_buckets=4)
    assert not os.path.exists(tmp_path / "CURRENT")
    assert t2.read().count() == 20
    t2.merge(_batch(spark, 5))
    assert t2.read().count() == 20  # merged into the adopted buckets


def test_bucketed_rejects_legacy_versioned_pointer(spark, tmp_path):
    """A root CURRENT with NO matching manifest json came from the
    versioned backend — adoption must refuse (backends cannot switch
    in place), not fabricate an empty manifest."""
    from datastream_delta_plugins_spark.streaming.bucketed_state import \
        BucketedStateTable
    os.makedirs(tmp_path / "manifest")
    with open(tmp_path / "CURRENT", "w") as f:
        f.write("0")
    with pytest.raises(ValueError, match="versioned state backend"):
        BucketedStateTable(spark, str(tmp_path), ["id"], n_buckets=4)


def test_rollup_adopts_legacy_single_file_manifests(tmp_path):
    """The rollup sink's pre-seam single-file manifests are adopted
    into the commit log on first touch and the legacy file removed."""
    from datastream_delta_plugins_spark.sinks.rollup import (
        _load_manifest, load_committed)
    with open(tmp_path / "_committed_files.json", "w") as f:
        json.dump({"batch_id": 7, "files": {"a": 1}}, f)
    with open(tmp_path / "_rollup_manifest.json", "w") as f:
        json.dump({"d=1": [1, 10, 0.0]}, f)
    assert load_committed(str(tmp_path))["batch_id"] == 7
    assert not os.path.exists(tmp_path / "_committed_files.json")
    assert _load_manifest(str(tmp_path)) == {"d=1": [1, 10, 0.0]}
    assert not os.path.exists(tmp_path / "_rollup_manifest.json")
    # survives the adoption: a fresh read comes from the log
    assert load_committed(str(tmp_path))["batch_id"] == 7


# ------------------------------------------------ pointer-swap layout

def _to_pointer_layout(log_dir):
    """Rewrite a commit log subdir as the retired pointer-swap protocol
    left it: payloads stamped with their version but no ``_writer``
    nonce, a ``CURRENT`` file naming the head, and a torn payload one
    above the head (a writer that died mid-write). Returns (head, the
    head's payload)."""
    vs = sorted(int(m.group(1)) for n in os.listdir(log_dir)
                if (m := re.fullmatch(r"v(\d+)\.json", n)))
    for v in vs:
        path = os.path.join(log_dir, f"v{v}.json")
        with open(path) as f:
            doc = json.load(f)
        del doc["_writer"]
        with open(path, "w") as f:
            json.dump(doc, f, indent=1, sort_keys=True)
    head = vs[-1]
    with open(os.path.join(log_dir, "CURRENT"), "w") as f:
        f.write(str(head))
    with open(os.path.join(log_dir, f"v{head + 1}.json"), "w") as f:
        f.write('{"version": %d, "da' % (head + 1))
    return head, doc


def _site(spark, tmp_path, kind):
    """(open, log dir, commit log of an instance, advance(inst, i) ->
    rows the site then holds, rows(inst)) for one manifest site."""
    from pyspark.sql import functions as F

    if kind in ("versioned", "bucketed"):
        from datastream_delta_plugins_spark.streaming.pipeline import \
            CdcPipeline
        work = str(tmp_path / "w")

        def open_site():
            return CdcPipeline(spark, "t1", str(tmp_path / "src"), work,
                               ["id"], state_backend=kind,
                               sort_cols=("_sk1", "_sk2", "_sk3", "_sk4"),
                               n_state_buckets=4)

        def advance(p, i):
            p.apply_batch(_batch(spark, 10 * (i + 1)), i,
                          streaming_barrier=False)

        def log_of(p):
            return p.bstate.clog if p.bstate else p.clog
        sub = "commitlog" if kind == "versioned" else "manifest"
        return (open_site, os.path.join(work, "state", sub), log_of,
                advance, lambda p: p.read_state().count())
    if kind == "landing":
        from test_avro_landing import _events, _write_avro

        from datastream_delta_plugins_spark.sources.avro_landing import (
            LOG_SUBDIR, AvroLandingConverter)
        src = tmp_path / "avro"
        src.mkdir()
        landing = str(tmp_path / "landing")

        def advance(c, i):
            _write_avro(src, f"k1_oracle-cdc-logminer_{i}.avro",
                        _events(10 * i, 10 * i + 10))
            assert c.convert_new()["converted"] == 1
        return (lambda: AvroLandingConverter(spark, str(src), landing),
                os.path.join(landing, LOG_SUBDIR), lambda c: c.clog,
                advance, lambda c: c.read_landing().count())
    from datastream_delta_plugins_spark.sinks.rollup import (
        ROLLUP_LOG, read_rollup, update_rollup)
    src, rp = str(tmp_path / "src"), str(tmp_path / "rollup")

    def advance(_, i):
        (spark.range(10 * i, 10 * i + 10)
              .selectExpr("id", "CAST(id % 2 AS INT) AS p")
              .write.mode("append").partitionBy("p").parquet(src))
        update_rollup(spark, src, rp, [], {"n": F.count(F.lit(1))})
    return (lambda: rp, os.path.join(rp, ROLLUP_LOG),
            lambda _: make_commit_log(rp, ROLLUP_LOG), advance,
            lambda _: read_rollup(spark, rp).agg(F.sum("n")).first()[0])


@pytest.mark.parametrize("kind",
                         ["versioned", "bucketed", "landing", "rollup"])
def test_pointer_swap_layout_opens_in_place(spark, tmp_path, kind):
    """A log subdir the retired pointer-swap protocol wrote opens at
    the pointer's version with the same payload, with no migration;
    the next commit lands one above it, and the torn payload a crashed
    writer left there is ignored by reads and reclaimed by that
    commit."""
    open_site, log_dir, log_of, advance, rows = _site(spark, tmp_path,
                                                      kind)
    site = open_site()
    advance(site, 0)
    advance(site, 1)
    head, payload = _to_pointer_layout(log_dir)

    again = open_site()
    assert log_of(again).read_committed() == (head, payload)
    assert rows(again) == 20
    advance(again, 2)
    assert log_of(open_site()).read_committed()[0] == head + 1
    assert rows(open_site()) == 30
    assert not [n for n in os.listdir(log_dir) if n.startswith(".")]


# ------------------------------------------------ retention (keep)

@pytest.mark.parametrize("layout", LAYOUTS)
def test_keep_none_disables_pruning(tmp_path, layout):
    log = log_opener(tmp_path, layout)(keep=None)
    for i in range(20):
        log.commit({"doc": i})
    for v in range(20):
        assert log._payload(v)["doc"] == v  # nothing pruned


@pytest.mark.parametrize("layout", LAYOUTS)
def test_keep_bounds_retained_payloads(tmp_path, layout):
    log = log_opener(tmp_path, layout)(keep=12)
    for i in range(20):
        log.commit({"doc": i})
    assert log._payload(7)["doc"] == 7  # v7..v19 retained (keep+1)
    with pytest.raises(FileNotFoundError):
        log._payload(6)


def test_bucketed_keep_versions_extends_changes_horizon(spark, tmp_path):
    """bucket_keep_versions beyond the old hard-coded 8 must keep the
    manifest payloads alive for the advertised changes_between()
    horizon (ADVICE round-5 finding: the log pruned at 8 regardless)."""
    from datastream_delta_plugins_spark.streaming.bucketed_state import \
        BucketedStateTable
    t = BucketedStateTable(spark, str(tmp_path), ["id"],
                           sort_cols=("_sk1", "_sk2", "_sk3", "_sk4"),
                           n_buckets=2, keep_versions=None)
    for i in range(11):
        t.merge(_batch(spark, i))
    # horizon of 11 versions back — would FileNotFoundError at keep=8
    feed = t.changes_between(0, t.version())
    assert feed.count() > 0


# ------------------------------------------------ link protocol

def test_version_log_reclaims_empty_preprotocol_claim(tmp_path):
    """An EMPTY v{N}.json (a torn claim left by the pre-link protocol,
    or a crashed third-party writer) is invalid, so a committing writer
    reclaims it — and with the link protocol a reclaim can never steal
    a LIVE writer's commit, because a published file is complete by
    construction."""
    log = VersionLog(str(tmp_path))
    log.commit({"doc": 0})
    open(os.path.join(log.log_dir, "v1.json"), "w").close()  # empty claim
    assert log.version() == 0
    assert log.commit({"doc": 1}) == 1
    assert log.read_committed() == (1, {"version": 1, "doc": 1})


def test_version_log_publish_leaves_no_temp_files(tmp_path):
    log = VersionLog(str(tmp_path))
    for i in range(5):
        log.commit({"doc": i})
    leftovers = [f for f in os.listdir(log.log_dir)
                 if f.startswith(".put")]
    assert leftovers == []


# ------------------------------------------------ n_rows in payload

def test_merge_payload_carries_n_rows(spark, tmp_path):
    from datastream_delta_plugins_spark.streaming.pipeline import CdcPipeline
    p = CdcPipeline(spark, "t1", str(tmp_path / "src"),
                    str(tmp_path / "w"), ["id"],
                    sort_cols=("_sk1", "_sk2", "_sk3", "_sk4"))
    p.apply_batch(_batch(spark), 0, streaming_barrier=False)
    v, payload = p.clog.read_committed()
    assert payload["n_rows"] == 20


def test_auto_migration_trigger_reads_payload_not_count(spark, tmp_path,
                                                        monkeypatch):
    """The auto backend's migration check must ride the committed
    n_rows, never fire a count() Spark job per micro-batch (round-5
    verdict 'what's wrong' #4)."""
    from pyspark.sql import DataFrame

    from datastream_delta_plugins_spark.streaming.pipeline import CdcPipeline
    p = CdcPipeline(spark, "t1", str(tmp_path / "src"),
                    str(tmp_path / "w"), ["id"],
                    sort_cols=("_sk1", "_sk2", "_sk3", "_sk4"),
                    state_backend="auto", auto_bucket_rows=1_000_000)
    p.apply_batch(_batch(spark), 0, streaming_barrier=False)

    def _no_count(self):
        raise AssertionError("count() job fired in the migration check")
    monkeypatch.setattr(DataFrame, "count", _no_count)
    p._maybe_migrate_to_bucketed()  # below threshold: no job, no raise


def test_auto_migration_still_fires_from_payload(spark, tmp_path):
    from datastream_delta_plugins_spark.streaming.pipeline import CdcPipeline
    p = CdcPipeline(spark, "t1", str(tmp_path / "src"),
                    str(tmp_path / "w"), ["id"],
                    sort_cols=("_sk1", "_sk2", "_sk3", "_sk4"),
                    state_backend="auto", auto_bucket_rows=5)
    p.apply_batch(_batch(spark), 0, streaming_barrier=False)
    assert p.bstate is not None  # apply_batch triggers the check
    assert p.read_state().count() == 20


# ------------------------------------------------ helpers

def _batch(spark, n=20):
    rows = [(i, f"n{i}", "INSERT", 100 + i, i % 4) for i in range(n)]
    df = spark.createDataFrame(
        rows, "id long, name string, _op string, _sk1 long, _sk2 long")
    return df.withColumn("_sk3", df.id.cast("string")) \
             .withColumn("_sk4", df.id % 2)


def test_rollup_corrupt_legacy_manifest_is_survivable(tmp_path):
    """A corrupt (truncated) pre-seam manifest must not crash the
    pure read APIs with a bare JSONDecodeError from the adoption
    block; adoption skips it and the fallback read surfaces a clear
    'corrupt legacy manifest' error naming the file."""
    from datastream_delta_plugins_spark.sinks.rollup import (
        load_committed, store_committed)
    with open(tmp_path / "_committed_files.json", "w") as f:
        f.write('{"batch_id": 7, "files"')  # torn write
    with pytest.raises(RuntimeError, match="corrupt legacy manifest"):
        load_committed(str(tmp_path))
    # the corrupt file is left in place for repair, and a writer that
    # commits through the log makes reads healthy again (log wins)
    store_committed(str(tmp_path), {"batch_id": 9, "files": {}})
    assert load_committed(str(tmp_path))["batch_id"] == 9
