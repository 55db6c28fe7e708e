"""Decode-once Avro landing: wire bytes -> parquet, exactly once per file.

Even vectorized, Avro decode is the priciest step of the ingest path
(BENCH `avro_decode_mb_s`); at 100 TB nothing may read a change file's
bytes twice. The reference consumes each Datastream blob exactly once
and relies on the bucket's TTL to retire it (reference:
DatastreamEventConsumer.java:182-199, DatastreamEventReader.java:213-281
mark-after-commit). This module is that discipline for the Spark
engine: an incremental converter that decodes each new Avro file ONCE
(`convert_avro_to_parquet`: decode to one Arrow batch, write parquet
with pyarrow, no JVM row materialization) into a parquet landing
directory, after which every consumer — the CDC merge stream,
re-merges, rollups, ad-hoc queries — reads parquet and never touches
Avro again.

A batch of ONE new file (on a local default filesystem) converts in
the driver process and starts no Spark job: binaryFile never splits a
file, so the distributed plan would be one task that pays a job launch
and a Python worker start for no parallelism (the reference likewise
reads each blob in its own consumer process). Batches of two or more
files convert as a mapInArrow job, one task per file. Either way the
batch's schema fingerprint comes from the decode plan, not from reading
the written parquet back.

Crash safety rides the commit seam (streaming/commitlog.py):

  - each conversion batch writes parquet under an attempt-unique
    ``data/b{N}-{nonce}/`` dir FIRST, then commits the manifest;
  - a crash (or a lost OCC race) between data and commit leaves an
    UNREFERENCED orphan dir that ``vacuum()`` retires — the retry
    writes a fresh dir, so no file is ever represented twice in the
    committed landing and concurrent writers never clobber each
    other's in-flight data (the Delta/Iceberg unique-file-name rule);
  - ``read_landing`` serves exactly the committed batch dirs.

A streaming consumer watching ``data/`` directly may glimpse a not-yet-
committed batch (at-least-once); the CDC merge is idempotent under row
replay (sort-key max), so end-to-end state remains exactly-once — the
same argument the reference makes for its rescans.

Manifest scale (the reference's production shape: 15 s blob rotation x
30-day retention ~= 173k live blobs PER TABLE): the converted-file set
is sharded into per-day SEGMENT files under ``_landing_log/segments/``
and the commit payload carries only {day -> segment file} references —
each commit rewrites ONE segment (the active day's), so payload and
per-commit write stay O(days of retention) and O(day's files), never
O(history). Segment files are immutable and attempt-uniquely named
(version + nonce; a crashed retry publishes a fresh name and leaves
the orphan for vacuum, mirroring the batch-dir rule), which makes a
per-name parse cache safe — the driver's steady-state scan parses
only CHANGED segments. A
segment drops off the manifest when it is BOTH older than
``retention_days`` AND none of its files still exist in the source
(pruning a still-present blob would re-convert it and duplicate rows);
the existence probe runs only for horizon-crossing segments.

Source listing at that scale must not glob 173k blobs per 30 s scan:
``path_layout="datestream"`` prunes the walk to date-partitioned
subtrees (yyyy/mm/dd[/hh/mm], the Datastream layout) lexicographically
at or after the retention horizon — the reference's startOffset trick
(DatastreamEventReader.java:543-556). Non-date directory names are
walked conservatively (never pruned).
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import time

from ..streaming.commitlog import (ConcurrentWriterError, attempt_name_re,
                                   attempt_unique_name)
from .avro_ocf import convert_avro_to_parquet

LOG_SUBDIR = "_landing_log"
SEG_SUBDIR = "segments"
#: one {batch dir}.json per compaction attempt: its input batch dirs
CMP_SUBDIR = "compactions"

#: batch dir: b{version}[-nonce]
_BDIR = attempt_name_re("b")
#: segment file: {day}.v{version}[-nonce].json
_SEGV = re.compile(r"\.v(\d+)(?:-[0-9a-f]+)?\.json$")


def _schema_fp(schema) -> str:
    """Order-insensitive fingerprint of a Spark schema (names+types)."""
    fields = sorted((f.name, f.dataType.simpleString(), f.nullable)
                    for f in schema.fields)
    return hashlib.sha256(repr(fields).encode()).hexdigest()[:16]


def _day(ts: float) -> str:
    return time.strftime("%Y-%m-%d", time.gmtime(ts))


class AvroLandingConverter:
    """Single-writer incremental Avro->parquet landing at `landing_dir`."""

    def __init__(self, spark, avro_dir: str, landing_dir: str,
                 avro_schema=None, columns=None,
                 retention_days: float | None = 30.0,
                 path_layout: str = "flat",
                 source_store=None, data_store=None,
                 occ_retries: int = 5, client=None):
        from ..streaming.commitlog import PosixStore, make_commit_log
        if path_layout not in ("flat", "datestream"):
            raise ValueError(f"unknown path_layout {path_layout!r}")
        self.spark = spark
        self.avro_dir = avro_dir
        self.landing_dir = landing_dir
        self.data_dir = os.path.join(landing_dir, "data")
        self.avro_schema = avro_schema
        self.columns = columns
        self.retention_days = retention_days
        self.path_layout = path_layout
        self.occ_retries = occ_retries
        self.seg_dir = os.path.join(landing_dir, LOG_SUBDIR, SEG_SUBDIR)
        self.cmp_dir = os.path.join(landing_dir, LOG_SUBDIR, CMP_SUBDIR)
        # client: config-only bucket deployment — a real
        # ObjectStoreClient (e.g. objectstores.GcsClient/S3Client)
        # carries the whole sidecar plane, manifest log included
        self.clog = make_commit_log(landing_dir, LOG_SUBDIR, client=client)
        # every sidecar request rides the client interface so the
        # whole landing protocol (segments, listings, vacuum) can run
        # against real object-store request semantics; bytes Spark /
        # the decoder read and write (parquet, avro blobs) stay on the
        # engine's filesystem connectors as in any Spark deployment
        self.store = client if client is not None else PosixStore()
        self.source_store = source_store or PosixStore()  # blob listing
        self.data_store = data_store or PosixStore()      # batch-dir GC
        # segment files are immutable once referenced by a commit and
        # attempt-uniquely named, so a parse cache keyed by name never
        # serves stale content; write-through on publish keeps a
        # single-process crash/retry coherent. Bounds the per-scan
        # driver cost at production shape (~173k files / 30 days) to
        # O(changed segments) instead of O(history).
        self._seg_cache: dict[str, dict[str, float]] = {}

    # -- manifest --

    def _committed(self) -> dict:
        return self._committed_versioned()[1]

    def _committed_versioned(self) -> tuple[int, dict]:
        """(version, normalized payload) in ONE read — OCC attempts
        plan and commit against this single version."""
        rc = self.clog.read_committed()
        if rc is None:
            return -1, {"segments": {}, "batch_dirs": [], "schemas": {}}
        doc = dict(rc[1])
        if "files" in doc and "segments" not in doc:
            # pre-segment payload (inline cumulative file dict): expose
            # it through the same interface; the next commit migrates
            # the whole set into day segments
            doc.setdefault("segments", {})
        doc.setdefault("schemas", {})
        return rc[0], doc

    def _read_segment(self, name: str) -> dict[str, float]:
        """Parse one (immutable, attempt-uniquely-named) segment file,
        through the cache."""
        hit = self._seg_cache.get(name)
        if hit is not None:
            return hit
        raw = self.store.get(os.path.join(self.seg_dir, name))
        if raw is None:
            raise FileNotFoundError(
                f"segment {name} referenced by the committed manifest "
                f"is missing under {self.seg_dir}")
        doc = json.loads(raw)
        self._seg_cache[name] = doc
        return doc

    def _prune_seg_cache(self, live: set[str]) -> None:
        if len(self._seg_cache) > 2 * len(live) + 64:
            for n in [n for n in self._seg_cache if n not in live]:
                del self._seg_cache[n]

    def _segment_files(self, committed: dict) -> dict[str, float]:
        """Union of every referenced segment (+ any legacy inline set)."""
        out: dict[str, float] = dict(committed.get("files", {}))
        segs = committed.get("segments", {})
        self._prune_seg_cache(set(segs.values()))
        for seg in segs.values():
            out.update(self._read_segment(seg))
        return out

    def converted_files(self) -> set[str]:
        return set(self._segment_files(self._committed()))

    def committed_batch_dirs(self) -> list[str]:
        return list(self._committed()["batch_dirs"])

    # -- conversion --

    def _list_source(self) -> list[str]:
        """Source-blob listing as ONE client LIST request.

        ``path_layout='datestream'`` passes the retention horizon as
        ``start_after`` (GCS ``startOffset`` / S3 ``StartAfter``,
        yyyy/mm/dd paths order lexicographically) — the reference's
        startOffset trick (DatastreamEventReader.java:543-556) — so a
        30-day bucket with months of expired blobs never lists them.

        CONTRACT: ``datestream`` declares the source tree IS
        date-pathed (the Datastream layout). On exact-filter bindings
        (GCS/S3/mock) any key sorting lexicographically below the
        horizon string is never listed — exactly the reference's
        startOffset semantics, which treats sub-horizon keys as
        expired regardless of why they sort there. The POSIX binding
        is a conservative superset: it prunes only provably-expired
        date-shaped subtrees and walks non-date names (they would be
        skipped on a bucket). Blobs under non-date paths need
        ``path_layout='flat'``."""
        prefix = self.avro_dir.rstrip("/") + "/"
        start = None
        if self.path_layout == "datestream" \
                and self.retention_days is not None:
            horizon = time.time() - self.retention_days * 86400.0
            start = prefix + time.strftime("%Y/%m/%d",
                                           time.gmtime(horizon))
        return sorted(k for k in self.source_store.list_keys(
            prefix, start_after=start) if k.endswith(".avro"))

    def convert_new(self) -> dict:
        """Decode every not-yet-converted Avro file into one new landing
        batch. Returns {"converted": n, "batch_dir": str | None}.

        Losing the conditional-PUT commit to a concurrent writer (a
        compactor or vacuum racing this converter) re-plans against
        the new CURRENT with a bounded OCC retry; the expensive decode
        is REUSED when the re-plan finds the same still-unconverted
        file set (the normal maintenance race), and redone only when
        another converter took files from under us."""
        from ..streaming.retry import occ_retry
        ctx: dict = {}
        return occ_retry(lambda: self._convert_attempt(ctx),
                         retries=self.occ_retries)

    def _convert_attempt(self, ctx: dict) -> dict:
        ver, committed = self._committed_versioned()
        seen = self._segment_files(committed)
        listed = self._list_source()
        new = [p for p in listed if p not in seen]
        if not new:
            return {"converted": 0, "batch_dir": None}
        batch = ver + 1
        if ctx.get("files") == new and ctx.get("stamp", -1) >= ver:
            # a previous attempt already decoded exactly this file set
            # into a still-orphaned dir — reference it instead of
            # decoding twice. Safe ONLY while the dir's version stamp
            # is >= the version we just read: vacuum deletes orphans
            # stamped strictly BELOW current, so a reusable dir is by
            # construction inside vacuum's spared window (a dir whose
            # stamp fell behind after repeated lost races is decoded
            # fresh rather than raced against the collector)
            bdir, schema = ctx["bdir"], ctx["schema"]
        else:
            # attempt-unique name (version + nonce): data first,
            # commit last — a crashed or OCC-conflicted attempt
            # leaves an UNREFERENCED orphan dir for vacuum() and can
            # never clobber a concurrent writer's in-flight batch
            # (two writers planning the same version write disjoint
            # dirs; the conditional-PUT commit picks exactly one
            # manifest)
            bdir = attempt_unique_name("b", batch)
            out = os.path.join(self.data_dir, bdir)

            # the fingerprint schema is the decode plan's, as Spark
            # reads the written parquet back: no schema-read job
            schema = self._write_attempt(
                ver, lambda: convert_avro_to_parquet(
                    self.spark, new, out, columns=self.columns,
                    avro_schema=self.avro_schema).schema)
            ctx.update(files=new, bdir=bdir, schema=schema, stamp=batch)
        now = time.time()
        segments = self._updated_segments(committed, new, now,
                                          set(listed), batch)
        schemas = dict(committed["schemas"])
        schemas[bdir] = _schema_fp(schema)
        # commit AT the planned version: a concurrent commit since our
        # read surfaces as ConcurrentWriterError (occ_retry re-plans)
        # instead of this stale plan landing later and erasing it
        self.clog.commit_at(batch, {
            "segments": segments,
            "batch_dirs": committed["batch_dirs"] + [bdir],
            "schemas": schemas})
        return {"converted": len(new), "batch_dir": bdir}

    def _write_attempt(self, ver: int, write):
        """Run the data write of an attempt planned against version
        ``ver``. Once the log moves past the attempt's stamp, vacuum()
        may collect its still-unreferenced dir mid-write; such an
        attempt could never commit (its version is taken), so a write
        that fails after the log moved on is the conflict occ_retry
        re-plans, not an error for the caller."""
        try:
            return write()
        except Exception as e:
            if self.clog.version() > ver:
                raise ConcurrentWriterError(
                    f"landing at {self.landing_dir} moved past version "
                    f"{ver} while this attempt wrote its data") from e
            raise

    def _updated_segments(self, committed: dict, new: list[str],
                          now: float, present: set[str],
                          batch: int) -> dict:
        """Next commit's {day -> segment file} map.

        Rewrites ONLY segments with changes this commit: the active
        day's (new files; plus, on first commit after an upgrade, the
        legacy inline set folded in by day) — every other day's
        reference is carried forward untouched. Segment files are
        immutable once referenced and attempt-uniquely NAMED (version
        + nonce), published with a plain PUT: a crashed or
        OCC-conflicted attempt leaves an unreferenced orphan for
        vacuum() and can never clobber a committed segment another
        writer's manifest references.
        """
        segments = dict(committed.get("segments", {}))
        dirty: dict[str, dict[str, float]] = {_day(now): {}}
        if committed.get("files"):
            # legacy inline payload: fold into segments once, by entry
            # timestamp
            for p, t in committed["files"].items():
                dirty.setdefault(_day(t), {})[p] = t
        for p in new:
            dirty[_day(now)][p] = now
        horizon, hday = None, None
        if self.retention_days is not None:
            horizon = now - self.retention_days * 86400.0
            hday = _day(horizon)

            def kept(files: dict) -> dict:
                # an entry survives the horizon while its blob is still
                # present — re-converting a live blob would duplicate
                # its rows (the existence probe runs only for segments
                # at the boundary, never per scan for the whole set)
                return {p: t for p, t in files.items()
                        if t >= horizon or p in present
                        or self.source_store.head(p)}

            for day in list(segments):
                if day in dirty or day > hday:
                    continue  # fresh segments can't hold expired rows
                files = self._read_segment(segments[day])
                k = kept(files)
                if not k:
                    del segments[day]
                elif len(k) < len(files):
                    dirty[day] = k  # boundary-day entry-level rewrite
        for day, add in dirty.items():
            base = {}
            # the active day extends its committed segment; retention
            # rewrites and legacy folds already carry their full set
            if day == _day(now) and day in committed.get("segments", {}) \
                    and day not in ((hday,) if hday else ()):
                base = dict(self._read_segment(segments[day]))
            elif day == _day(now) and day in committed.get("segments", {}):
                # the active day IS the horizon boundary (sub-day
                # retention): extend AND entry-prune its segment
                base = kept(self._read_segment(segments[day]))
            base.update(add)
            if not base:
                segments.pop(day, None)
                continue
            name = f"{day}.{attempt_unique_name('v', batch)}.json"
            self.store.put(os.path.join(self.seg_dir, name),
                           json.dumps(base).encode())
            self._seg_cache[name] = base  # write-through
            segments[day] = name
        return segments

    # -- consumption --

    def read_landing(self):
        """Batch read of exactly the committed landing batches (orphan
        dirs from crashed conversions are invisible here). Batches
        written across a payload schema drift carry different schema
        fingerprints in the manifest; the read then unions vintages
        with ``mergeSchema`` — pre-drift batches null-fill the evolved
        columns (the state merge's contract) instead of whichever footer
        Spark happened to sample planing the new column away."""
        committed = self._committed()
        return self._read_dirs(committed, committed["batch_dirs"])

    def _read_dirs(self, committed: dict, dirs: list):
        if not dirs:
            return None
        fps = {committed["schemas"].get(d) for d in dirs}
        reader = self.spark.read.option("basePath", self.data_dir)
        if len(fps) > 1 or None in fps:
            # drifted vintages (or pre-fingerprint batches): merge
            reader = reader.option("mergeSchema", "true")
        return reader.parquet(*[os.path.join(self.data_dir, d)
                                for d in dirs])

    def landing_schema(self):
        df = self.read_landing()
        return None if df is None else df.schema

    # -- maintenance --

    def compact(self, min_batches: int = 8) -> dict:
        """Rewrite the committed batch dirs into ONE when enough small
        batches accumulated (a 30 s conversion cadence makes one dir
        per scan — unbounded dir counts degrade listing and read
        planning exactly like the 15 s file-rotation problem the
        partitioned sink compacts). Data first, commit last: the
        compacted dir lands under the NEXT version's name, the commit
        swaps the manifest's inputs for it, and the superseded batch
        dirs become orphans for vacuum(). A compaction across
        drifted vintages materializes the MERGED schema, so the new
        dir's single fingerprint is the union schema's. Returns
        {"compacted": n_dirs | 0}.

        Run this in maintenance windows, not under a LIVE streaming
        consumer: the stream's file source sees the compacted dir as
        new data and re-merges every row it contains — correct (the
        CDC merge is idempotent under replay) but O(landing) of wasted
        work per compaction.

        Losing the commit to a converter does not redo the rewrite: the
        next OCC attempt re-reads the log and, while every input is
        still listed, commits the written dir on top of the newer
        manifest (the batches added since the plan stay referenced). A
        converter that commits faster than one rewrite therefore cannot
        starve it. Only a lost input (another compaction won) re-plans
        and rewrites."""
        from ..streaming.retry import occ_retry
        ctx: dict = {}
        return occ_retry(lambda: self._compact_attempt(min_batches, ctx),
                         retries=self.occ_retries)

    def _compact_attempt(self, min_batches: int, ctx: dict) -> dict:
        ver, committed = self._committed_versioned()
        listed = committed["batch_dirs"]
        if ctx and set(ctx["inputs"]) <= set(listed):
            # commit-time rebase: a commit since the plan only added
            # dirs (a converter's), so the written rewrite is still
            # exact while every input is listed
            bdir, inputs, fp = ctx["bdir"], ctx["inputs"], ctx["fp"]
        else:
            if len(listed) < min_batches:
                return {"compacted": 0}
            inputs = list(listed)
            df = self._read_dirs(committed, inputs)
            bdir = attempt_unique_name("b", ver + 1)
            # record the inputs BEFORE any data lands in the dir, so
            # vacuum() can tell an in-flight compaction (every input
            # still listed: it may yet rebase and commit) from a dead one
            self.store.put(os.path.join(self.cmp_dir, bdir + ".json"),
                           json.dumps(inputs).encode())
            self._write_attempt(ver, lambda: df.write.mode("overwrite")
                                .parquet(os.path.join(self.data_dir, bdir)))
            fp = _schema_fp(df.schema)
            ctx.update(bdir=bdir, inputs=inputs, fp=fp)
        # the newest manifest's segments and its batches added since
        # the plan ride on; commit_at makes a racing advance a conflict
        # that the next attempt rebases over
        added = [d for d in listed if d not in inputs]
        payload = {"segments": committed.get("segments", {}),
                   "batch_dirs": [bdir] + added,
                   "schemas": {bdir: fp, **{
                       d: committed["schemas"][d] for d in added
                       if d in committed["schemas"]}}}
        if committed.get("files"):
            payload["files"] = committed["files"]  # legacy set rides on
        self.clog.commit_at(ver + 1, payload)
        return {"compacted": len(inputs)}

    def _in_flight_compaction(self, d: str, live: set) -> bool:
        """An unreferenced dir is a compaction that may still commit
        while every input its record names is listed in CURRENT (inputs
        only ever leave the manifest, so once one is gone the
        compaction abandons). Converter dirs carry no record."""
        raw = self.store.get(os.path.join(self.cmp_dir, d + ".json"))
        return raw is not None and set(json.loads(raw)) <= live

    def vacuum(self) -> list[str]:
        """Delete data dirs the CURRENT manifest no longer references —
        crash orphans and batches superseded by compact() — and
        segment files superseded by later rewrites. In-flight readers
        of the previous version should finish first (same contract as
        BucketedStateTable.vacuum keep_versions=0).

        A compaction dir whose recorded inputs are all still live is
        never collected, whatever its stamp: that compaction may yet
        rebase and commit. A crashed one is therefore kept until a
        later compaction supersedes one of its inputs. The record lives
        exactly as long as the dir's data: a rebased compaction commits
        past its stamp, so a stale snapshot between the two (a lagging
        log listing, or a vacuum that read just before the commit) sees
        the committed dir unreferenced and below the stamp guard, and
        only its record, with every input still live there, spares it."""
        # ONE snapshot: live set and the stamp guard must derive from
        # the SAME read — a second CURRENT read may lag (regress) on an
        # object-store listing, and a lagging live set under a fresher
        # `cur` would delete segments/dirs the true current manifest
        # still references
        cur, committed = self._committed_versioned()
        live = set(committed["batch_dirs"])
        removed = []
        dprefix = self.data_dir.rstrip("/") + "/"
        dead_dirs: list[str] = []
        spared: dict[str, bool] = {}

        def dead(d: str) -> bool:
            m = _BDIR.match(d)
            # version guard: an unreferenced dir stamped AT or above
            # the current version may belong to a live writer — a
            # concurrent first attempt (stamp cur+1) or an OCC retry
            # reusing its decode (stamp == cur; convert_new's reuse
            # condition mirrors this bound). Strictly-older converter
            # orphans are collectable as soon as any commit advances
            # past their stamp (a writer still writing one is doomed
            # anyway: _write_attempt reports its failed write as the
            # conflict). An older compaction dir is spared while all
            # its inputs are live: its commit may still rebase.
            if not m or d in live or int(m.group(1)) >= cur:
                return False
            if d not in spared:
                spared[d] = self._in_flight_compaction(d, live)
            return not spared[d]
        for k in self.data_store.list_keys(dprefix):
            d = k[len(dprefix):].split("/", 1)[0]
            if dead(d):
                self.data_store.delete(k)
                if d not in dead_dirs:
                    dead_dirs.append(d)
        removed.extend(sorted(dead_dirs))
        live_segs = set(committed.get("segments", {}).values())
        sprefix = self.seg_dir.rstrip("/") + "/"
        for k in sorted(self.store.list_keys(sprefix)):
            s = k[len(sprefix):]
            m = _SEGV.search(s)
            if s not in live_segs and m and int(m.group(1)) < cur:
                self.store.delete(k)
                self._seg_cache.pop(s, None)
                removed.append(os.path.join(SEG_SUBDIR, s))
        # a compaction record goes in the same pass as its dir's data,
        # and on the same verdict (also when no data was ever written)
        cprefix = self.cmp_dir.rstrip("/") + "/"
        for k in sorted(self.store.list_keys(cprefix)):
            d = k[len(cprefix):].removesuffix(".json")
            if dead(d):
                self.store.delete(k)
                removed.append(os.path.join(CMP_SUBDIR, d + ".json"))
        return removed
