"""Multi-table replication job — the engine's equivalent of the
reference's per-scan orchestration loop.

The reference's ScanTask walks every replicated table each cycle:
emit CREATE_DATABASE once (DatastreamEventReader.java:399-405),
snapshot phase per table until its dump completes
(:430-467, 483-525), then CDC phase (:469-479), and a global
`all.tables.dump.done` barrier once every table's snapshot finished
(:762-768, O5 in SURVEY §2.4). Here each table is a CdcPipeline
(checkpointed file stream + sort-key-correct merge) and the job holds
the database-level state keys in its own StateDoc.

Batch mode (`run_batch`) applies everything currently on disk —
snapshot files first, then CDC files, mirroring the reference's
phase order; streaming mode (`start_all`) runs one query per table
(the reference likewise scans tables independently within a cycle).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from ..envelope import SNAPSHOT_FILE_MARKER
# NOTE: sources.ttl is imported lazily in __init__ — ttl.py imports
# streaming.state, whose package __init__ imports this module, so a
# module-level import here makes `import sources.ttl` order-dependent
# (circular when ttl loads first)
from . import state as sk
from .pipeline import BACKFILL_COMPLETED, CdcPipeline
from .retry import RetryPolicy
from .state import StateDoc


@dataclass
class TableConfig:
    """One replicated table (SourceTable analog: database/schema/table
    identity + optional column subset + per-table DML blacklist,
    reference DatastreamEventConsumer.java:78-95).

    `backfill_status` feeds the O5 completion rule (the reference polls
    the Datastream backfill job; a local job states it here or via
    CdcPipeline.mark_backfill). `skip_snapshot` is the reference's
    snapshot-skip path (DatastreamEventReader.java:430-433): the table
    starts directly in CDC phase with `snapshot.done` pre-set."""
    name: str
    source_dir: str
    pk_cols: list[str]
    columns: list[str] | None = None
    dml_blacklist: tuple[str, ...] = ()
    schema: object = None  # StructType for the streaming reader
    backfill_status: str = BACKFILL_COMPLETED
    skip_snapshot: bool = False
    #: "parquet" (pre-decoded change files), "avro" (raw Datastream
    #: OCF blobs — what the reference consumes), or "delta" (a FOREIGN
    #: Delta table whose `source_dir` holds the `_delta_log`). Avro
    #: tables route through a decode-once landing
    #: (sources.avro_landing): each blob is decoded exactly once into
    #: committed parquet, and both batch and streaming modes consume
    #: the landing. Delta tables replicate via an offset-tracked
    #: DeltaFollower (streaming.delta_follower) polled on the job's
    #: scan cadence — the source's commit VERSION is the offset.
    source_format: str = "parquet"
    #: source-blob directory layout for avro tables: "datestream"
    #: prunes the converter's 30 s listing to yyyy/mm/dd subtrees at or
    #: after the retention horizon (the reference's lexicographic
    #: startOffset pruning) — the right setting for real Datastream
    #: buckets; "flat" walks everything (fixtures, ad-hoc dirs)
    path_layout: str = "flat"
    extra: dict = field(default_factory=dict)


class ReplicationJob:
    def __init__(self, spark: SparkSession, work_dir: str,
                 tables: list[TableConfig], database: str = "replica",
                 ttl_days: int | None = None,
                 retry: RetryPolicy | None = None,
                 register_catalog: bool = True,
                 validate: bool = True,
                 state_backend: str = "auto",
                 n_state_buckets: int = 16,
                 auto_bucket_rows: int = 5_000_000,
                 bucket_keep_versions: int | None = 1,
                 client=None, data_store=None, source_store=None):
        if validate:  # design-time shape validation (SURVEY §3.3)
            from ..config import ConfigValidationError, validate_tables
            problems = validate_tables(tables)
            if problems:
                raise ConfigValidationError(problems)
        self.spark = spark
        self.work_dir = work_dir
        self.database = database
        self.tables = {t.name: t for t in tables}
        # client: config-only bucket deployment — ONE ObjectStoreClient
        # (e.g. objectstores.GcsClient/S3Client) carries the job's whole
        # sidecar plane: the job/table state docs, every landing log +
        # segment, the state version log / bucketed manifest, and the
        # TTL manifest. source_store is where the SOURCE blobs live
        # (listing + TTL purge; defaults to client, else POSIX);
        # data_store is where parquet maintenance (orphan/version
        # pruning) runs. The parquet bytes themselves always go through
        # Spark's own filesystem connectors, as in any deployment.
        self.client = client
        source_store = source_store or client
        self.doc = StateDoc(os.path.join(work_dir, "job_state.json"),
                            store=client)
        # S8: one shared manifest; marked only after a table's merge
        # commits, purged by ttl.purge_expired() (lifecycle-rule analog)
        from ..sources.ttl import ProcessedFileTtl
        self.ttl = (ProcessedFileTtl(
            os.path.join(work_dir, "ttl_manifest.json"), ttl_days,
            blob_store=source_store, doc_store=client)
            if ttl_days else None)
        # bucketed state has no single LOCATION to register (see
        # CdcPipeline) — catalog registration applies to the versioned
        # backend, including auto mode (which re-registers the
        # partitioned form at migration time)
        # delta followers register the BUCKETED catalog form
        # (sync_catalog's partitioned external table) — independent of
        # the versioned-backend gate below
        follower_catalog = register_catalog
        register_catalog = register_catalog and \
            state_backend in ("versioned", "auto")
        # avro tables: decode-once landing between the blob dir and the
        # pipeline — the pipeline's source becomes the landing parquet
        from ..sources.avro_landing import AvroLandingConverter
        self.converters = {
            t.name: AvroLandingConverter(
                spark, t.source_dir,
                os.path.join(work_dir, "tables", t.name, "landing"),
                columns=t.columns,
                path_layout=t.path_layout, client=client,
                source_store=source_store, data_store=data_store)
            for t in tables if t.source_format == "avro"
        }
        for t in tables:
            if t.source_format not in ("parquet", "avro", "delta"):
                raise ValueError(
                    f"table {t.name}: unknown source_format "
                    f"{t.source_format!r}")
        # delta tables: the source is a FOREIGN Delta table (its
        # `source_dir` holds the `_delta_log`), replicated by an
        # offset-tracked DeltaFollower straight into a bucketed state —
        # no file stream, no CdcPipeline; the scan-interval daemon
        # polls it on the same 30 s cadence as the avro converters and
        # run_batch polls it once per cycle. Offsets live inside the
        # state dir, so they survive restarts with the state itself.
        from .bucketed_state import BucketedStateTable
        from .delta_follower import DeltaFollower
        self.followers = {}
        for t in tables:
            if t.source_format != "delta":
                continue
            st = BucketedStateTable(
                spark, os.path.join(work_dir, "tables", t.name, "state"),
                t.pk_cols, n_buckets=n_state_buckets,
                keep_versions=bucket_keep_versions,
                data_store=data_store, client=client)
            self.followers[t.name] = DeltaFollower(
                spark, t.source_dir, st, source_store=source_store,
                dml_blacklist=t.dml_blacklist,
                # filtered replication: follow only the rows matching
                # the (col, op, val) conjuncts — a partition-scoped
                # subscription of a large foreign table
                skip=t.extra.get("delta_skip"),
                catalog_table=(f"{database}.{t.name}"
                               if follower_catalog else None))
        self.pipelines = {
            t.name: CdcPipeline(
                spark, t.name,
                (os.path.join(self.converters[t.name].data_dir, "*")
                 if t.name in self.converters else t.source_dir),
                os.path.join(work_dir, "tables", t.name),
                pk_cols=t.pk_cols, dml_blacklist=t.dml_blacklist,
                ttl=self.ttl, retry=retry,
                catalog_table=(f"{database}.{t.name}"
                               if register_catalog else None),
                state_backend=state_backend,
                n_state_buckets=n_state_buckets,
                columns=t.columns,
                auto_bucket_rows=auto_bucket_rows,
                bucket_keep_versions=bucket_keep_versions,
                client=client, data_store=data_store)
            for t in tables if t.source_format != "delta"
        }
        for t in tables:
            if t.name in self.followers:
                continue
            pipe = self.pipelines[t.name]
            # seed only: runtime progress recorded via mark_backfill
            # must survive a restart (re-putting the config value would
            # regress a persisted COMPLETED back to RUNNING)
            if pipe.doc.get(sk.k_backfill_status(t.name)) is None:
                pipe.doc.put(sk.k_backfill_status(t.name),
                             t.backfill_status)
            if t.skip_snapshot:
                pipe.doc.put(sk.k_snapshot_done(t.name), "true")
            pipe.doc.save()

    # -- D1: CREATE DATABASE once, guarded by db.created --

    def _ensure_database(self) -> None:
        if self.doc.get(sk.DB_CREATED) == "true":
            return
        self.spark.sql(
            f"CREATE DATABASE IF NOT EXISTS {self.database}")
        self.doc.put(sk.DB_CREATED, "true")
        self.doc.save()

    # -- O5: per-table snapshot.done + all.tables.dump.done barrier --

    def snapshot_done(self, table: str) -> bool:
        fol = self.followers.get(table)
        if fol is not None:
            # a follower's "dump" is its first applied backfill — the
            # offset existing at all means the v_from=None snapshot
            # batch merged (offsets commit AFTER data)
            return fol.applied_version() is not None
        return self.pipelines[table].doc.get(
            sk.k_snapshot_done(table)) == "true"

    def all_dumps_done(self) -> bool:
        """True once every table's snapshot completed. Computed from
        the per-table state docs (then cached in the job doc) so the
        barrier also resolves in STREAMING deployments, where the
        per-table flags flip inside foreachBatch and run_batch's
        explicit _update_barrier never runs."""
        if self.doc.get(sk.ALL_DUMPS_DONE) == "true":
            return True
        # re-read: streaming pipelines persist their docs out-of-band
        for t in self.tables:
            if t not in self.followers:
                self.pipelines[t].doc.load()
        self._update_barrier()
        return self.doc.get(sk.ALL_DUMPS_DONE) == "true"

    def _update_barrier(self) -> None:
        if all(self.snapshot_done(t) for t in self.tables):
            self.doc.put(sk.ALL_DUMPS_DONE, "true")
            self.doc.save()

    # -- batch mode: one scan cycle over every table --

    def run_batch(self) -> None:
        """Apply everything currently in each table's change directory.

        Re-running a cycle is safe: the merge picks winners by sort key,
        so reprocessed events are idempotent (the reference leans on the
        same property when it rescans its 3-day window,
        DatastreamEventReader.java:439-459). Incremental file tracking
        is the streaming path's job (checkpointed seen-files log).

        O5 dump completion (full-rescan form): `snapshot.done` requires
        the backfill to report COMPLETED *and* a scan whose snapshot
        file set is unchanged from the previous scan — a multi-file
        dump landing across cycles keeps the barrier up until a cycle
        observes no new dump files (DatastreamEventReader.java:449-467,
        483-541).
        """
        self._ensure_database()
        from pyspark.errors import AnalysisException
        from pyspark.sql import functions as F
        for name, cfg in self.tables.items():
            fol = self.followers.get(name)
            if fol is not None:
                # delta-sourced table: one offset-tracked poll IS the
                # cycle (backfill on first contact, windowed after).
                # ONLY the typed empty-log case is tolerated (a
                # not-yet-started backfill — the parquet path's
                # missing-dir tolerance below); a present-but-broken
                # log raises through, never a silent skip
                from ..sources.delta_reader import NoDeltaLogError
                try:
                    fol.poll()
                except NoDeltaLogError:
                    pass
                continue
            pipe = self.pipelines[name]
            conv = self.converters.get(name)
            if conv is not None:
                # decode-once: convert any new blobs, read the landing
                conv.convert_new()
                df = conv.read_landing()
                if df is None:
                    self._check_dump_complete(pipe, name, [])
                    continue
            else:
                try:
                    df = self.spark.read.parquet(cfg.source_dir)
                except AnalysisException:
                    # no files yet (backfill not started, or a dump-less
                    # table): an EMPTY scan still advances completion — a
                    # stable empty file set with backfill COMPLETED is
                    # the reference's dump-less skip
                    # (DatastreamEventReader.java:449-467)
                    self._check_dump_complete(pipe, name, [])
                    continue
                df = df.withColumn("_source_file", F.input_file_name())
            # classify on the LOGICAL FILE name: the basename, or its
            # immediate parent segment (a parquet "change file" is a
            # directory of part-files, so the marker lives one level
            # up). Higher path segments must NOT match — a landing
            # root like /srv/backfill_drop/ would otherwise flag every
            # CDC file as snapshot (the reference checks the blob name
            # only, DatastreamEventConsumer.java:206-208). Landing rows
            # already carry the ORIGINAL blob path in _source_file, so
            # the same rule applies to both formats.
            parts = F.split("_source_file", "/")
            is_snap = (F.element_at(parts, -1)
                        .contains(SNAPSHOT_FILE_MARKER)
                       | F.element_at(parts, -2)
                          .contains(SNAPSHOT_FILE_MARKER))
            df = df.withColumn("_is_snap_file", is_snap)
            # ONE scan feeds the snapshot slice, the cdc slice, and
            # the file-set fingerprint (Catalyst does not share scans
            # across the branches)
            df.persist()
            try:
                snap = df.where(F.col("_is_snap_file")) \
                         .drop("_is_snap_file")
                cdc = df.where(~F.col("_is_snap_file")) \
                        .drop("_is_snap_file")
                # snapshot phase first, then CDC — the reference's
                # order (correct under re-ordering anyway: merge is by
                # sort key); _source_file rides along so the merge
                # commit can mark processed files in the TTL manifest
                snap_files = sorted(
                    r["_source_file"] for r in
                    snap.select("_source_file").distinct().collect())
                if snap_files:
                    pipe.apply_batch(snap, batch_id=0,
                                     streaming_barrier=False)
                if not cdc.isEmpty():
                    pipe.apply_batch(cdc, batch_id=1,
                                     streaming_barrier=False)
                self._check_dump_complete(pipe, name, snap_files)
            finally:
                df.unpersist()
        self._update_barrier()

    def _check_dump_complete(self, pipe: CdcPipeline, name: str,
                             snap_files: list[str]) -> None:
        fp = "\n".join(snap_files)
        prev = pipe.doc.get(sk.k_snapshot_files(name))
        if prev == fp and pipe._backfill_complete():
            # unchanged file set + backfill complete -> done (an empty,
            # stable set is the reference's dump-less-table skip,
            # DatastreamEventReader.java:449-467)
            pipe.doc.put(sk.k_snapshot_done(name), "true")
        pipe.doc.put(sk.k_snapshot_files(name), fp)
        pipe.doc.save()

    # -- streaming mode: one query per table --

    def start_all(self, trigger: dict | None = None,
                  convert_interval: float = 30.0,
                  maintenance_every: int | None = None,
                  compact_min_batches: int = 16) -> list:
        """Start one streaming query per table. Avro tables also get a
        scan-interval converter loop: a daemon thread calling
        `convert_new()` every `convert_interval` seconds (the
        reference's 30 s blob scan, DatastreamEventReader.java:95,170)
        so blobs arriving AFTER start keep flowing into the landing the
        stream reads — without it a long-running stream would only ever
        see the backlog present at start. The loop exits on `stop_all()`
        or once every query is inactive; conversion errors are recorded
        per table on `self.converter_errors` and retried next cycle
        (scan-task semantics: one bad cycle must not kill ingestion —
        and one table's success must not mask another's persistent
        failure).

        ``maintenance_every=N`` additionally runs landing maintenance
        (compact once >= ``compact_min_batches`` dirs accumulated,
        then vacuum) every Nth converter cycle — safe to race the
        converter since both sides commit by the landing log's
        conditional PUT (on local disk as on a bucket), so the loser
        re-plans instead of overwriting, and the CDC merge is
        idempotent under the stream's replay of the compacted dir.
        OPT-IN because that replay is O(landing) per compaction: a
        30 s scan cadence makes one dir per cycle, so
        long-running streams need SOME cadence (unbounded dir counts
        degrade listing/planning), but latency-sensitive deployments
        should schedule it in low-traffic windows instead. The cost is
        MEASURED, not hypothetical: the soak test
        (tests/test_avro_landing.py::
        test_maintenance_latency_bounded_under_live_stream) drives two
        compactions under a live 500 ms-trigger stream and pins the
        replay batch's latency — median batch ~1.1 s, replay spike
        ~3.2 s at test scale, ceiling asserted at the reference's 30 s
        scan interval — with state exactly-once throughout."""
        if maintenance_every is not None and maintenance_every < 1:
            raise ValueError(
                f"maintenance_every must be >= 1 or None, got "
                f"{maintenance_every!r}")
        self._ensure_database()
        self.converter_errors = {}
        queries = []
        from ..sources.delta_reader import NoDeltaLogError
        for name, fol in self.followers.items():
            # delta-sourced tables have no streaming query; apply the
            # current backlog now (the converters' convert_new()
            # analog) and let the scan-interval loop keep polling. A
            # source not yet created (typed empty-log case only) is
            # recorded and retried on the cadence; a broken log
            # aborts startup loudly.
            try:
                fol.poll()
            except NoDeltaLogError as e:
                self.converter_errors[name] = e
        for name, cfg in self.tables.items():
            if name in self.followers:
                continue
            schema = cfg.schema
            conv = self.converters.get(name)
            if conv is not None:
                # convert the current backlog so the landing (the
                # stream's source) exists and has a schema
                conv.convert_new()
                schema = schema or conv.landing_schema()
            if schema is None:
                raise ValueError(f"table {name}: streaming needs a schema")
            queries.append(self.pipelines[name].start(
                schema, trigger=trigger,
                # landing-backed streams tolerate compaction vacuuming
                # a superseded batch file between listing and read —
                # the rows arrive via the compacted dir, idempotently
                ignore_missing_files=conv is not None))
        self._queries = queries
        if self.converters or self.followers:
            import threading
            self._conv_stop = threading.Event()

            def _loop() -> None:
                cycle = 0
                while not self._conv_stop.wait(convert_interval):
                    # with no streaming queries (all-delta job) the
                    # loop runs until stop_all(); otherwise it dies
                    # with the queries
                    if queries and not any(q.isActive for q in queries):
                        return
                    cycle += 1
                    maintain = (maintenance_every is not None
                                and cycle % maintenance_every == 0)
                    for name, conv in self.converters.items():
                        try:
                            conv.convert_new()
                            self.converter_errors.pop(name, None)
                        except Exception as e:  # noqa: BLE001
                            self.converter_errors[name] = e
                        if not maintain:
                            continue
                        # separate error key: a persistent maintenance
                        # failure must stay visible in state_report()
                        # between maintenance cycles — popping it on
                        # the next cycle's convert success would flap
                        # it out of sight while dirs grow unbounded
                        mkey = f"{name}.maintenance"
                        try:
                            conv.compact(min_batches=compact_min_batches)
                            conv.vacuum()
                            self.converter_errors.pop(mkey, None)
                        except Exception as e:  # noqa: BLE001
                            self.converter_errors[mkey] = e
                    # followers ride the same cadence: poll each cycle
                    # (a wedged source — e.g. SourceLogPrunedError —
                    # stays visible in converter_errors and is retried,
                    # never kills the loop), state vacuum on the
                    # maintenance cadence
                    for name, fol in self.followers.items():
                        try:
                            fol.poll()
                            self.converter_errors.pop(name, None)
                        except Exception as e:  # noqa: BLE001
                            self.converter_errors[name] = e
                        if not maintain:
                            continue
                        mkey = f"{name}.maintenance"
                        try:
                            fol.state.vacuum()
                            self.converter_errors.pop(mkey, None)
                        except Exception as e:  # noqa: BLE001
                            self.converter_errors[mkey] = e
            self._conv_thread = threading.Thread(
                target=_loop, name="avro-converter-loop", daemon=True)
            self._conv_thread.start()
        return queries

    def stop_all(self) -> None:
        """Stop the converter loop and every streaming query."""
        if getattr(self, "_conv_stop", None) is not None:
            self._conv_stop.set()
            self._conv_thread.join(timeout=30)
        for q in getattr(self, "_queries", []):
            if q.isActive:
                q.stop()

    def state_report(self) -> dict[str, str]:
        """Merged state view: job keys + every table's offset keys (the
        reference's Offset map vocabulary) + any live conversion
        failures from the scan loop."""
        out = self.doc.as_dict()
        for name, pipe in self.pipelines.items():
            out.update(pipe.doc.as_dict())
        for name, fol in self.followers.items():
            out[f"{name}.delta.applied_version"] = \
                str(fol.applied_version())
        for name, err in getattr(self, "converter_errors", {}).items():
            out[f"{name}.converter.error"] = repr(err)
        return out
