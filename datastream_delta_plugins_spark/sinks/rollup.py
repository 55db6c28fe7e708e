"""Incremental time-rollup maintenance (continuous aggregates): keep a
pre-aggregated table over a time-partitioned landing sink current by
re-aggregating ONLY the partitions that changed since the last run —
the hypertable-rollup / materialized-view-maintenance operator,
engine-side.

Invalidation is at PARTITION grain: a partition's signature is
(file count, total bytes, max mod time) from the same FS listing the
compactor uses. New files in a fresh hour, late data landing in an old
hour, or a compaction rewrite all change the signature, and exactly
those partitions are recomputed and swapped into the rollup via
dynamic partition overwrite. Aggregates are whole-partition
recomputes — no undo/merge math, so ANY Spark aggregate expression is
legal (percentiles and distincts included, not just sums), which is
the trade that keeps the operator general; the cost is proportional
to changed partitions, not the table.

Ordering follows the reference's offset-after-data rule
(DatastreamEventReader.java:213-227): rollup data commits BEFORE the
manifest records the new signatures, so a crash between the two
re-aggregates those partitions (idempotent overwrite), never skips
them.
"""

from __future__ import annotations

import json
import os
from collections.abc import Mapping

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..streaming.commitlog import make_commit_log
from .partitioned import _list_partitions, _partitions_predicate

#: log subdir holding the committed-file manifest an at-least-once
#: writer (the streaming landing sink) maintains at the SOURCE path:
#: {"batch_id": N, "files": {partition_dir: [[file_path, bytes], ...]}}.
#: When present, signatures AND aggregate reads are restricted to these
#: files, so a crashed append's orphan files can never double-count.
#: Underscore-prefixed so Spark dataset readers skip it.
COMMITTED_LOG = "_committed_log"
ROLLUP_LOG = "_rollup_log"

#: pre-seam single-file manifests these logs replaced; adopted into
#: the commit log on first touch so an upgraded deployment never reads
#: its live manifest as "empty" (which would let orphan files
#: double-count / force a full re-aggregation over a reset signature
#: map)
_LEGACY_COMMITTED = "_committed_files.json"
_LEGACY_ROLLUP = "_rollup_manifest.json"


def _log_with_legacy(path: str, subdir: str, legacy_file: str):
    """Commit log with one-time adoption of the pre-seam single-file
    manifest. Adoption is best-effort race- and read-only-safe: a
    racing adopter losing the commit defers to the winner, a missing
    legacy file was removed by the winner, and a read-only mount (or
    any other failed write) leaves the legacy file in place — readers
    then serve the legacy view via the fallback in the load helpers
    rather than crashing a pure read API."""
    from ..streaming.commitlog import ConcurrentWriterError
    log = make_commit_log(path, subdir)
    lp = os.path.join(path, legacy_file)
    if os.path.exists(lp):
        try:
            if log.version() < 0:
                with open(lp) as f:
                    doc = json.load(f)
                try:
                    log.commit({"doc": doc})
                except ConcurrentWriterError:
                    pass  # a racing caller adopted first
            # removed LAST: a crash re-runs the adoption
            try:
                os.remove(lp)
            except FileNotFoundError:
                pass  # the racing winner removed it
        except (OSError, ValueError):
            # read-only mount OR a corrupt legacy manifest
            # (json.JSONDecodeError is a ValueError): adoption never
            # crashes the pure read APIs; a corrupt file also makes
            # _legacy_doc raise, which load helpers tolerate below
            pass
    return log


def _legacy_doc(path: str, legacy_file: str) -> dict | None:
    """Un-adopted legacy manifest content (read-only deployments)."""
    lp = os.path.join(path, legacy_file)
    if not os.path.exists(lp):
        return None
    try:
        with open(lp) as f:
            return json.load(f)
    except ValueError as e:
        raise RuntimeError(
            f"corrupt legacy manifest {lp}: {e} — repair or remove it "
            f"(adoption skipped it for the same reason)") from e


def load_committed(source_path: str) -> dict | None:
    rc = _log_with_legacy(source_path, COMMITTED_LOG,
                          _LEGACY_COMMITTED).read_committed()
    if rc is None:
        return _legacy_doc(source_path, _LEGACY_COMMITTED)
    return rc[1]["doc"]


def store_committed(source_path: str, committed: dict) -> None:
    os.makedirs(source_path, exist_ok=True)
    _log_with_legacy(source_path, COMMITTED_LOG,
                     _LEGACY_COMMITTED).commit({"doc": committed})


def _signatures(spark: SparkSession, source_path: str) -> dict[str, list]:
    committed = load_committed(source_path)
    if committed is not None:
        # files are immutable once committed: (count, bytes) per
        # partition is a complete signature, no mtime needed
        return {d: [len(files), sum(b for _, b in files), 0.0]
                for d, files in committed["files"].items() if files}
    parts = _list_partitions(spark, source_path)
    return {d: [len(files),
                sum(b for _, b, _ in files),
                max(m for _, _, m in files)]
            for d, files in parts.items()}


def _partition_keys(d: str) -> list[str]:
    return [seg.split("=", 1)[0] for seg in d.split("/") if "=" in seg]


def _load_manifest(rollup_path: str) -> dict:
    rc = _log_with_legacy(rollup_path, ROLLUP_LOG,
                          _LEGACY_ROLLUP).read_committed()
    if rc is None:
        return _legacy_doc(rollup_path, _LEGACY_ROLLUP) or {}
    return rc[1]["doc"]


def _store_manifest(rollup_path: str, sigs: dict) -> None:
    os.makedirs(rollup_path, exist_ok=True)
    _log_with_legacy(rollup_path, ROLLUP_LOG,
                     _LEGACY_ROLLUP).commit({"doc": sigs})


def update_rollup(spark: SparkSession, source_path: str, rollup_path: str,
                  group_cols: list[str],
                  aggs: Mapping[str, Column]) -> dict:
    """Bring the rollup at `rollup_path` up to date with the
    time-partitioned table at `source_path`.

    `group_cols` are grouped IN ADDITION to the partition columns
    (which always group, so every rollup row belongs to exactly one
    source partition and partition-grain overwrite is sound).
    `aggs` maps output column -> aggregate expression.

    Returns {"changed": n, "removed": m, "total": k}. Cost: one pruned
    scan + one aggregate over the changed partitions only. Losing the
    manifest commit to a concurrent writer re-reads signatures and
    re-aggregates with a bounded OCC retry (the aggregate write is
    idempotent per partition, so the converged state is the same).
    """
    from ..streaming.retry import occ_retry
    return occ_retry(lambda: _update_rollup_attempt(
        spark, source_path, rollup_path, group_cols, aggs))


def _update_rollup_attempt(spark, source_path, rollup_path, group_cols,
                           aggs) -> dict:
    sigs = _signatures(spark, source_path)
    # ONE read of the rollup log: the manifest the plan diffs against
    # and the version the commit lands at come from the same snapshot,
    # so a concurrent rollup writer conflicts (occ_retry re-plans)
    # instead of this attempt landing later over its manifest
    log = _log_with_legacy(rollup_path, ROLLUP_LOG, _LEGACY_ROLLUP)
    rc = log.read_committed()
    if rc is None:
        seen = _legacy_doc(rollup_path, _LEGACY_ROLLUP) or {}
        planned = 0
    else:
        seen = rc[1]["doc"]
        planned = rc[0] + 1
    changed = [d for d, s in sigs.items() if seen.get(d) != s]
    removed = [d for d in seen if d not in sigs]
    if not changed and not removed:
        return {"changed": 0, "removed": 0, "total": len(sigs)}

    data_path = os.path.join(rollup_path, "data")
    if changed:
        part_cols = _partition_keys(next(iter(sigs)))
        committed = load_committed(source_path)
        if committed is not None:
            # read exactly the committed files of the changed
            # partitions — orphans from crashed appends are invisible
            paths = [p for d in changed
                     for p, _ in committed["files"].get(d, [])]
            src = (spark.read.option("basePath", source_path)
                   .parquet(*paths))
        else:
            src = (spark.read.parquet(source_path)
                   .where(_partitions_predicate(changed, part_cols)))
        agg = (src.groupBy(*part_cols, *group_cols)
               .agg(*[c.alias(name) for name, c in aggs.items()]))
        (agg.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*part_cols)
            .parquet(data_path))
    # data commits first; the manifest (whose KEY SET is the live-
    # partition list read_rollup serves) commits last. A crash in
    # between leaves the new data invisible until the next run's
    # signature mismatch re-aggregates and republishes it — stale
    # reads, never wrong ones. Vanished source partitions are handled
    # by the same mechanism: dynamic overwrite cannot delete their
    # files, but dropping them from the manifest drops them from reads.
    log.commit_at(planned, {"doc": sigs})
    return {"changed": len(changed), "removed": len(removed),
            "total": len(sigs)}


def read_rollup(spark: SparkSession, rollup_path: str) -> DataFrame:
    """Read the current rollup: the data files filtered to the
    manifest's live partitions (the isin predicate is on partition
    columns, so it prunes directories as well as hiding rows whose
    source partition vanished)."""
    df = spark.read.parquet(os.path.join(rollup_path, "data"))
    live = sorted(_load_manifest(rollup_path))
    keys = ["/".join(seg for seg in d.split("/") if "=" in seg)
            for d in live]
    if not keys:  # every source partition vanished: nothing is live
        return df.where(F.lit(False))
    part_cols = _partition_keys(keys[0])
    key_expr = F.concat_ws(
        "/", *[F.concat_ws("=", F.lit(c), F.col(c).cast("string"))
               for c in part_cols])
    return df.where(key_expr.isin(keys))


def read_committed(spark: SparkSession, source_path: str) -> DataFrame:
    """Read a landing table written by the streaming sink: exactly the
    committed files (orphans from crashed appends excluded), with the
    partition columns preserved via basePath."""
    committed = load_committed(source_path)
    if committed is None:
        return spark.read.parquet(source_path)
    paths = [p for files in committed["files"].values()
             for p, _ in files]
    if not paths:
        return spark.read.parquet(source_path).where(F.lit(False))
    return spark.read.option("basePath", source_path).parquet(*paths)


def vacuum_landing(spark: SparkSession, source_path: str,
                   data_store=None) -> list[str]:
    """Delete files under a committed-manifest landing table that the
    manifest does not list — the orphans a crash between append and
    commit leaves behind (they were never readable; this reclaims the
    space). Returns the deleted paths. No-op without a manifest.
    ``data_store`` (an ObjectStoreClient, default the local POSIX
    binding) performs the deletes, so a bucket deployment passes its
    client and the reclaim is request-based."""
    from ..streaming.commitlog import PosixStore
    data_store = data_store or PosixStore()
    committed = load_committed(source_path)
    if committed is None:
        return []
    live = {p for files in committed["files"].values() for p, _ in files}
    removed = []
    for files in _list_partitions(spark, source_path).values():
        for p, _, _ in files:
            norm = p[len("file:"):] if p.startswith("file:") else p
            if p not in live and norm not in live:
                data_store.delete(norm)
                removed.append(norm)
    return removed
