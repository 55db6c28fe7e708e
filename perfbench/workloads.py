"""The workloads: set-up, the timed closed loop, and the check.

Each workload is a closed loop with one caller: the next operation
starts when the previous one returned. Set-up ends with untimed
warm-up iterations (a fresh JVM runs its first batches and queries
2-3x slow while it compiles). The timed segment then runs a fixed
number of iterations, ``iterations()``, so every run yields the same
samples. A trace run follows each untraced iteration with a traced
one (ABAB), so the tracing overhead compares iterations at the same
point of the JVM's warm-up. Each workload returns a ``Run``: samples,
the tracer, and the verdict of the correctness check.

What each end-to-end metric means on each workload (every metric is
reported on every workload), and the program code it covers:

==================  ==================================  ==================================
metric              cdc-steady                          analytics
==================  ==================================  ==================================
rows_per_s          change events committed / summed    rows of the ten input tables /
                    batch walls                         median pass wall
batch_p50_ms, tail  one batch: ``convert_new`` call to  one query, planned and run to the
                    stream termination                  ``noop`` sink (``operators.*``)
read_p50_ms, tail   one read op: ``read_state()``,      one read op: ``load_table`` of
                    then a live count, PK lookup or     ``orders``, then the same three
                    top-k on it                         read kinds (live = open orders)
load_p50_s          the initial load (``run_batch``)    bench.py's rewrite of the fact
                    in set-up                           tables into multi-file inputs in
                                                        set-up: Spark and harness code
                                                        only, no package code
pass_p50_s          one loop iteration: batch + reads   one pass of the 16 queries + reads
disk_bytes_per_row  bytes under the job's work dir /    bytes of the query inputs / input
                    live state rows at the end          rows (fixed by the generator)
==================  ==================================  ==================================
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

import generate
import oracle
from spans import Tracer, median
from workspace import dir_bytes, log, nproc, peak_rss_mb, start_spark


@dataclass
class Run:
    """What one run measured."""
    samples: dict = field(default_factory=dict)   # name -> [values]
    values: dict = field(default_factory=dict)    # name -> value
    attempted: int = 0
    failed: int = 0
    correct: bool = False
    setup_s: float = 0.0
    tracer: Tracer | None = None
    traced: dict = field(default_factory=dict)    # traced-iteration samples
    layer: dict = field(default_factory=dict)     # per-layer extras
    notes: dict = field(default_factory=dict)

    def phase(self, name: str, clock) -> None:
        """Record when a set-up phase ended (seconds since start)."""
        self.notes.setdefault("phases", {})[name] = round(clock.since(), 2)
        log(f"phase {name} done at {clock.since():.1f}s")

    def add(self, name: str, value: float, traced: bool = False) -> None:
        (self.traced if traced else self.samples).setdefault(
            name, []).append(value)


def iterations(seconds: float, prof) -> int:
    """Timed (untraced) iterations: a fixed count for a given
    ``--seconds``, so every run has the same samples (and the same tail
    percentile); a run on a slow host takes longer instead."""
    return max(prof.min_iterations, round(seconds / prof.iteration_s))


def _timed(run: Run, fn, counted: bool = True):
    """Call fn; (result, seconds). A counted call is one attempted op
    and a failure is recorded; an uncounted (warm-up) one raises."""
    if not counted:
        t0 = time.perf_counter()
        return fn(), time.perf_counter() - t0
    run.attempted += 1
    t0 = time.perf_counter()
    try:
        out = fn()
    except Exception as e:  # noqa: BLE001 - a failed op is counted
        run.failed += 1
        log(f"op failed: {e!r}")
        out = e
    return out, time.perf_counter() - t0


# ------------------------------------------------------------ cdc-steady

def steady(ws, seed: int, seconds: float, trace: bool, prof, clock) -> Run:
    from pyspark.sql import functions as F

    spark = start_spark(ws, "perfbench-cdc-steady", trace)
    from datastream_delta_plugins_spark.streaming.metrics import \
        PipelineMetrics
    from datastream_delta_plugins_spark.sources.avro_landing import \
        AvroLandingConverter
    from datastream_delta_plugins_spark.streaming.pipeline import CdcPipeline
    from datastream_delta_plugins_spark.streaming.replication import (
        ReplicationJob, TableConfig)

    run = Run()
    run.phase("session", clock)
    tracer = Tracer(spark, enabled=trace)
    run.tracer = tracer
    gen = generate.SteadyGen(seed, prof)
    payload = generate.STEADY_PAYLOAD
    # initial load: the state's snapshot as a parquet dump, applied by
    # the replication job
    snap = ws.path("source", "snapshot")
    os.makedirs(snap)
    seed_tab = gen.seed_table()
    pq.write_table(seed_tab, os.path.join(snap, "backfill_000.parquet"))
    events = [seed_tab]
    job = ReplicationJob(spark, ws.path("job"), [TableConfig(
        name="T", source_dir=snap, pk_cols=["ID"])])
    if trace:
        tracer.wrap(job, "run_batch", "replication.run_batch")
        tracer.wrap(job.pipelines["T"], "apply_batch", "pipeline.apply")
    run.phase("generate", clock)
    t0 = time.perf_counter()
    job.run_batch()
    run.values["load_p50_s"] = time.perf_counter() - t0
    tracer.enabled = False  # the load is the only traced set-up step
    run.phase("load", clock)

    # steady change stream: Avro blobs -> decode-once landing -> an
    # availableNow stream merging into the loaded state
    src = ws.path("source", "cdc")
    os.makedirs(src)
    table_dir = os.path.join(job.work_dir, "tables", "T")
    conv = AvroLandingConverter(spark, src,
                                os.path.join(table_dir, "landing"))
    pipe = CdcPipeline(spark, "T", os.path.join(conv.data_dir, "*"),
                       table_dir, pk_cols=["ID"],
                       catalog_table=f"{job.database}.T")
    if trace:
        tracer.wrap(conv, "convert_new", "avro_landing.convert")
        tracer.wrap(pipe, "apply_batch", "pipeline.apply")
    schema = None
    metrics = PipelineMetrics() if trace else None
    if metrics is not None:
        spark.streams.addListener(metrics)

    n_batch = [0]
    last_reads = []

    def one_batch(timed: bool, traced: bool) -> None:
        nonlocal schema
        tracer.enabled = traced
        i = n_batch[0]
        n_batch[0] += 1
        cols = gen.next_batch()
        path = os.path.join(src, f"cdc_{i:06d}.avro")
        generate.write_avro(path, "T", cols, "oracle-cdc-logminer", payload)
        events.append(generate.events_table(cols, payload))
        before = _state_files(pipe.state_dir) if traced else None
        n_prog = len(metrics.progress) if metrics is not None else 0

        def batch():
            nonlocal schema
            with tracer.span("batch", op=i):
                conv.convert_new()
                schema = schema or conv.landing_schema()
                with tracer.span("stream.run"):
                    t_s = time.perf_counter()
                    q = pipe.start(schema, trigger={"availableNow": True},
                                   ignore_missing_files=True)
                    q.awaitTermination()
                    return time.perf_counter() - t_s

        it0 = time.perf_counter()
        await_s, wall = _timed(run, batch, timed)
        if timed:
            run.add("batch_ms", wall * 1000, traced)
            run.add("events", len(cols["ID"]), traced)
        else:  # the warm-up curve, for the report
            run.notes.setdefault("warmup_batch_ms", []).append(wall * 1000)
        if traced and not isinstance(await_s, Exception):
            run.layer.setdefault("batches", []).append(_state_delta(
                pipe, before, len(cols["ID"]), spark, metrics, n_prog,
                await_s, path))
        reads = _read_mix(pipe.read_state, "ID", ~F.col("_is_deleted"),
                          LOOKUP_COLS, gen.lookup_keys(prof.lookups_per_batch),
                          "AMOUNT", prof.topk)
        last_reads[:] = _read_ops(run, tracer, reads, traced, i, timed)
        if timed:
            run.add("pass_s", time.perf_counter() - it0, traced)

    for _ in range(prof.warmup_batches):
        one_batch(timed=False, traced=False)
    run.phase("warmup", clock)
    run.setup_s = clock.since()

    for _ in range(iterations(seconds, prof)):
        one_batch(timed=True, traced=False)
        if trace:
            one_batch(timed=True, traced=True)
    tracer.enabled = False
    if trace:
        run.layer["job_launch_ms"] = _job_launch_ms(spark)

    # -- correctness: final state vs latest-by-sort-key over all events
    check = oracle.StateCheck(events, "ID", [n for n, _ in payload],
                              {"TS"})
    try:
        files = pipe.read_state().inputFiles()
        bad = check.mismatches(files)
        live = check.count()
        bad += _read_mismatches(check, last_reads, LOOKUP_COLS, "AMOUNT",
                                prof.topk)
        run.correct = bad == 0 and run.failed == 0
        run.notes["state_mismatches"] = bad
        run.values["disk_bytes_per_row"] = dir_bytes(table_dir) / live
    finally:
        check.close()
    run.notes["batches"] = n_batch[0]
    run.values["peak_rss_mb"] = peak_rss_mb()
    spark.stop()
    return run


#: columns a steady PK lookup returns
LOOKUP_COLS = ["ID", "NAME", "STATUS", "AMOUNT", "QTY", "_is_deleted"]


def _read_ops(run: Run, tracer: Tracer, reads, traced: bool,
              op=None, timed: bool = True) -> list:
    """Run (kind, key, fn) read ops; returns (kind, key, result)."""
    out = []
    for kind, key, fn in reads:
        with tracer.span(f"read.{kind}", op=op):
            res, dt = _timed(run, fn, timed)
        if timed:
            run.add("read_ms", dt * 1000, traced)
            run.add(f"read.{kind}_ms", dt * 1000, traced)
        out.append((kind, key, res))
    return out


def _read_mix(load, pk: str, live, cols: list[str], keys, topk_col: str,
              k: int) -> list:
    """The read mix as (kind, key, fn) ops: a live-row count, one PK
    lookup per key and a top-k of live rows by ``topk_col``. Each op
    calls ``load()``, the program's read path, then queries its frame."""
    from pyspark.sql import functions as F
    ops = [("count", None, lambda: load().where(live).count())]
    ops += [("lookup", int(key), lambda key=int(key): [
        tuple(r) for r in load().where(F.col(pk) == key).select(*cols)
        .collect()]) for key in keys]
    ops.append(("topk", None, lambda: [
        tuple(r) for r in load().where(live).orderBy(F.desc(topk_col), pk)
        .select(pk, topk_col).limit(k).collect()]))
    return ops


def _read_mismatches(ref, last_reads, cols: list[str], topk_col: str,
                     k: int) -> int:
    """Read results that differ from the reference (``oracle.ReadRef``)."""
    bad = 0
    for kind, key, out in last_reads:
        if isinstance(out, Exception):
            bad += 1
        elif kind == "count":
            bad += out != ref.count()
        elif kind == "topk":
            bad += out != ref.topk(topk_col, k)
        else:
            bad += sorted(out) != ref.lookup(key, cols)
    return bad


def _state_files(state_dir: str) -> dict[str, int]:
    out = {}
    for root, _dirs, files in os.walk(state_dir):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                out[p] = os.path.getsize(p)
    return out


def _state_delta(pipe, before, n_events, spark, metrics, n_prog, await_s,
                 blob) -> dict:
    """State-write and trigger figures of one traced batch."""
    after = _state_files(pipe.state_dir)
    new = [p for p in after if p not in before]
    rows = sum(pq.read_metadata(p).num_rows for p in new)
    out = {"rows_written_per_event": rows / n_events,
           "bytes_written": sum(after[p] for p in new),
           "files_deleted": sum(1 for p in before if p not in after),
           "files_live": len(pipe.read_state().inputFiles()),
           "change_bytes": _null_codec_bytes(blob)}
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    progs = [p for p in metrics.progress[n_prog:]
             if p["num_input_rows"]]
    dur = {}
    for p in progs:
        for k, v in p["duration_ms"].items():
            dur[k] = dur.get(k, 0) + v
    out["duration_ms"] = dur
    out["start_stop_ms"] = await_s * 1000 - dur.get("triggerExecution", 0)
    return out


def _null_codec_bytes(blob: str) -> int:
    """Uncompressed size of a change blob: its records re-encoded with
    the null codec."""
    from datastream_delta_plugins_spark.sources import avro_ocf
    with open(blob, "rb") as f:
        schema, recs = avro_ocf.read_ocf(f.read())
    return len(avro_ocf.write_ocf(schema, recs, codec="null"))


def _job_launch_ms(spark, n: int = 20) -> float:
    """Median wall of a one-task JVM job (no Python worker, no SQL
    planning): the local per-job launch cost on this session's cores."""
    sc = spark.sparkContext
    one = sc._jvm.java.util.ArrayList()
    one.add(0)
    rdd = sc._jsc.parallelize(one, 1)
    walls = []
    for _ in range(n):
        t0 = time.perf_counter()
        rdd.count()
        walls.append((time.perf_counter() - t0) * 1000)
    return median(walls)


# ------------------------------------------------------------- analytics

def analytics(ws, seed: int, seconds: float, trace: bool, prof,
              clock) -> Run:
    sf_dir = ws.path(f"sf{prof.sf}")
    generate.analytics_tables(seed, prof.sf, sf_dir)
    input_rows = generate.table_rows(sf_dir)
    from datastream_delta_plugins_spark.session import \
        sized_shuffle_partitions
    spark = start_spark(ws, "perfbench-analytics", trace,
                        shuffle_partitions=sized_shuffle_partitions(
                            dir_bytes(sf_dir), nproc()))
    import bench
    from datastream_delta_plugins_spark.operators import (
        cdc_queries, dedup, event_queries, pipeline_queries, relational)
    from datastream_delta_plugins_spark.sources.tables import load_table
    from datastream_delta_plugins_spark.testing import duck_connection
    from pyspark.sql import functions as F

    run = Run()
    run.phase("generate+session", clock)
    tracer = Tracer(spark, enabled=False)
    run.tracer = tracer
    t0 = time.perf_counter()
    bench_sf = bench._split_bench_inputs(spark, sf_dir)
    run.values["load_p50_s"] = time.perf_counter() - t0
    run.phase("load", clock)
    oracle_sql = {}
    for reg in (relational, cdc_queries, event_queries, pipeline_queries):
        oracle_sql.update(reg.ORACLE_SQL)

    rng = np.random.default_rng(seed + 1)
    n_orders = pq.read_metadata(os.path.join(sf_dir, "orders.parquet")) \
        .num_rows

    def read_mix():
        return _read_mix(lambda: load_table(spark, bench_sf, "orders"),
                         "o_orderkey", F.col("o_orderstatus") == "O",
                         ORDER_COLS,
                         rng.integers(0, n_orders, prof.lookups_per_pass),
                         "o_totalprice", prof.topk)

    # untimed check pass, which also warms the JVM: every query's rows
    # against its DuckDB oracle, then one read mix
    con = duck_connection(sf_dir)
    con.execute("SET threads TO 2")
    bad = []
    for short, name, reg in bench.HEADLINE:
        dedup.release_caches()
        df = reg[name](spark, bench_sf)
        got = oracle.rows_digest(list(df.columns),
                                 [tuple(r) for r in df.collect()])
        if got != oracle.oracle_digest(con, oracle_sql[name]):
            bad.append(short)
    run.notes["query_mismatches"] = bad
    _read_ops(run, tracer, read_mix(), False, timed=False)
    run.phase("check", clock)
    last_reads = []

    def one_pass(traced: bool) -> None:
        tracer.enabled = traced
        p0 = time.perf_counter()
        for short, name, reg in bench.HEADLINE:
            module = reg[name].__module__.rsplit(".", 1)[-1]

            def q():
                dedup.release_caches()
                reg[name](spark, bench_sf).write.format("noop") \
                    .mode("overwrite").save()
            with tracer.span(f"query.{module}.{short}"):
                _, dt = _timed(run, q)
            run.add("batch_ms", dt * 1000, traced)
            run.add(f"q.{module}.{short}", dt * 1000, traced)
        last_reads[:] = _read_ops(run, tracer, read_mix(), traced)
        run.add("pass_s", time.perf_counter() - p0, traced)

    run.setup_s = clock.since()

    for _ in range(iterations(seconds, prof)):
        one_pass(traced=False)
        if trace:
            one_pass(traced=True)
    tracer.enabled = False
    if trace:
        run.layer["job_launch_ms"] = _job_launch_ms(spark)

    bad_reads = _read_mismatches(
        oracle.ReadRef(con, "orders", "o_orderkey", "o_orderstatus = 'O'"),
        last_reads, ORDER_COLS, "o_totalprice", prof.topk)
    con.close()
    run.notes["read_mismatches"] = bad_reads
    run.correct = not bad and bad_reads == 0 and run.failed == 0
    run.values["input_rows"] = input_rows
    run.values["disk_bytes_per_row"] = dir_bytes(bench_sf) / input_rows
    run.values["peak_rss_mb"] = peak_rss_mb()
    spark.stop()
    shutil.rmtree(bench_sf, ignore_errors=True)
    return run


#: columns an analytics lookup returns
ORDER_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
              "o_orderpriority"]

WORKLOADS = {"cdc-steady": steady, "analytics": analytics}
