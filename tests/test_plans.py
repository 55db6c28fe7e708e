"""Physical-plan assertions: the scale contract (pushdown, pruning,
broadcast, codegen) — failures here mean a silent de-optimization."""

from datastream_delta_plugins_spark.operators import cdc_queries, relational
from datastream_delta_plugins_spark.plans import (
    final_plan, formatted_plan, has_broadcast_join, pushed_filters,
    read_schema_columns, scan_count, wholestage_codegen_count)


def test_q02_filters_pushed_to_scan(spark, sf_smoke):
    df = relational.q02_filter_count(spark, sf_smoke)
    pushed = " ".join(pushed_filters(df))
    assert "l_shipdate" in pushed and "l_quantity" in pushed


def test_q01_projection_prunes_read_schema(spark, sf_smoke):
    df = relational.q01_scan_project(spark, sf_smoke)
    (cols,) = read_schema_columns(df)
    assert set(cols) == {"l_orderkey", "l_partkey", "l_quantity"}


def test_q06_broadcasts_dimension(spark, sf_smoke):
    df = relational.q06_multiway_join(spark, sf_smoke)
    assert has_broadcast_join(df)


def test_q24_decorrelated_to_broadcast_join(spark, sf_smoke):
    df = relational.q24_correlated_subquery(spark, sf_smoke)
    assert has_broadcast_join(df)


def test_q03_stays_in_codegen(spark, sf_smoke):
    df = relational.q03_hash_agg(spark, sf_smoke)
    plan = formatted_plan(df)
    assert "partial_sum" in plan  # map-side combine before the shuffle
    assert plan.index("HashAggregate") < plan.rindex("Exchange")
    assert wholestage_codegen_count(df) >= 1  # AQE-final executed plan


def test_q26_single_scan_with_partial_agg(spark, sf_smoke):
    df = cdc_queries.q26_cdc_latest(spark, sf_smoke)
    plan = formatted_plan(df)
    # one parquet scan only (the union formulation had 7)
    assert scan_count(df) == 1
    # max_by merge does partial aggregation before the pk shuffle
    assert "partial_max_by" in plan


def test_merge_batch_one_state_scan_no_broadcast(spark, tmp_path):
    """merge_batch is one pass: the state is scanned once and never
    broadcast (a backfill batch can carry billions of PKs), and the
    plan has at most 2 Exchanges (the batch aggregate's and the
    state side of the join)."""
    import re

    from datastream_delta_plugins_spark.operators import cdc
    events = "pk long, ver long, val string, _op string"
    state_dir = str(tmp_path / "state")
    cdc.materialize(
        spark.createDataFrame([(i, 1, "s", "INSERT") for i in range(50)],
                              events),
        ["pk"], ["ver"], keep_sort_keys=True).write.parquet(state_dir)
    batch = spark.createDataFrame([(3, 2, "b", "UPDATE"),
                                   (99, 1, "n", "INSERT")], events)
    df = cdc.merge_batch(spark.read.parquet(state_dir), batch, ["pk"],
                         ["ver"])
    plan = formatted_plan(df)
    assert scan_count(df) == 1  # the batch is a local relation
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2
    assert "BroadcastExchange" not in plan
    assert "BroadcastExchange" not in final_plan(df)
    assert df.count() == 51


def test_q10_range_join_is_hash_join_with_residual(spark, sf_smoke):
    # equi key present -> must NOT degrade to BroadcastNestedLoopJoin
    df = relational.q10_range_join(spark, sf_smoke)
    plan = formatted_plan(df)
    assert "NestedLoop" not in plan


def test_q31_asof_is_single_shuffle_plus_sort(spark, sf_smoke):
    """The union+window as-of join: exactly one keyed exchange (the
    window) + one range exchange (final ORDER BY) — a range-join
    formulation would add a join exchange or a nested loop."""
    import re

    from datastream_delta_plugins_spark.operators import event_queries
    plan = formatted_plan(event_queries.q31_asof_join(spark, sf_smoke))
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2


def test_q33_sliding_window_has_partial_agg(spark, sf_smoke):
    from datastream_delta_plugins_spark.operators import event_queries
    plan = formatted_plan(event_queries.q33_sliding_window(spark, sf_smoke))
    assert "partial_" in plan  # map-side combine before the shuffle


def test_auto_broadcast_respects_disabled_threshold(spark, sf_smoke):
    """autoBroadcastJoinThreshold=-1 means the session FORBIDS broadcast
    joins; auto_broadcast must not re-enable them via an explicit hint
    (it used to substitute the 10 MiB default and hint anyway)."""
    from datastream_delta_plugins_spark.plans.hints import auto_broadcast
    from datastream_delta_plugins_spark.sources.tables import load_table
    df = load_table(spark, sf_smoke, "nation")
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "-1")
        hinted = auto_broadcast(df)
        assert "ResolvedHint" not in hinted._jdf.queryExecution() \
            .analyzed().toString()
    finally:
        spark.conf.set(key, old)
    assert "ResolvedHint" in auto_broadcast(df)._jdf.queryExecution() \
        .analyzed().toString()


def test_presentation_sort_routes_by_size_estimate(spark, sf_smoke):
    """Small results sort on one task (no range-sampling pass); a
    zero threshold simulates the 100TB estimate and must keep the
    distributed range sort."""
    from datastream_delta_plugins_spark.plans.hints import presentation_sort
    from datastream_delta_plugins_spark.sources.tables import load_table
    df = (load_table(spark, sf_smoke, "orders")
          .groupBy("o_orderpriority").count())
    small = presentation_sort(df, "o_orderpriority")
    assert small.rdd.getNumPartitions() == 1
    plan = small._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in plan.lower()
    big = presentation_sort(df, "o_orderpriority", threshold=0)
    plan_b = big._jdf.queryExecution().toString()
    assert "rangepartitioning" in plan_b.lower()
    # identical ordered content either way
    assert [tuple(r) for r in small.collect()] == \
           [tuple(r) for r in big.collect()]


def test_sampling_stays_in_codegen(spark, sf_smoke):
    """Sampling membership is pure column expressions — a Python UDF
    sneaking in (BatchEvalPython/ArrowEvalPython) would serialize every
    row through the Python worker on the 100 TB path."""
    from datastream_delta_plugins_spark.operators import sampling
    from datastream_delta_plugins_spark.sources.tables import load_table
    docs = load_table(spark, sf_smoke, "documents")
    plan = formatted_plan(
        sampling.deterministic_split(docs, "doc_id",
                                     {"train": 0.9, "val": 0.1}))
    assert "EvalPython" not in plan
    assert wholestage_codegen_count(
        sampling.sample_fraction(docs, "doc_id", 0.5)) >= 1


def test_interval_join_no_python_eval(spark, sf_smoke):
    from datastream_delta_plugins_spark.operators.temporal import (
        interval_join)
    from datastream_delta_plugins_spark.sources.tables import load_table
    from pyspark.sql import functions as F
    ev = load_table(spark, sf_smoke, "events")
    j = interval_join(ev.select("user_id", "ts"),
                      ev.select("user_id", F.col("ts").alias("rts")),
                      on=["user_id"], right_ts="rts",
                      lower_seconds=0, upper_seconds=60)
    assert "EvalPython" not in formatted_plan(j)


def test_d03_verify_joins_broadcast_no_smj(spark, sf_smoke):
    """The LSH verify joins must never sort-merge (an SMJ would
    exchange + sort the cached signature table twice), and q06-style
    plans must not reappear: candidates join the cached signatures via
    broadcast hash joins only."""
    from datastream_delta_plugins_spark.operators import pipeline_queries
    df = pipeline_queries.QUERIES["d03_minhash_lsh"](spark, sf_smoke)
    plan = formatted_plan(df)
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_d03_shuffles_signatures_never_shingles(spark, sf_smoke):
    """The 100 TB contract of the MinHash path: no plan node groups or
    exchanges by shingle STRINGS — shingles are hashed to longs inside
    the scan stage and only per-doc signature state crosses the wire.
    Pins (a) no aggregate keyed on a shingle column, (b) the signature
    aggregate's exchange is ELIDED under the fan_out id-clustering:
    exactly 4 exchanges remain (fan_out, band-bucket groupBy, candidate
    distinct, presentation sort) and none carries shingle data."""
    import re

    from datastream_delta_plugins_spark.operators import pipeline_queries
    df = pipeline_queries.QUERIES["d03_minhash_lsh"](spark, sf_smoke)
    plan = formatted_plan(df)
    assert not re.search(r"Keys.*shingle", plan)
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 4


def test_d06_dup_flag_join_broadcasts(spark, sf_smoke):
    """span_dup_stats' duplicated-span membership flag joins back as a
    broadcast at test scale (the stats-gated hint fires), keeping the
    span rows shuffle-free after the count aggregate."""
    from datastream_delta_plugins_spark.operators import pipeline_queries
    df = pipeline_queries.QUERIES["d06_span_dedup"](spark, sf_smoke)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q06_no_sort_merge_join(spark, sf_smoke):
    """The flat probe chain must broadcast all three dimension builds —
    a pre-joined dim-dim build defeats the stats gate and degrades the
    whole fact side to an exchanged sort-merge join."""
    df = relational.q06_multiway_join(spark, sf_smoke)
    plan = formatted_plan(df)
    assert "SortMergeJoin" not in plan


def test_direct_conversion_plan_is_scan_plus_map_only(spark, tmp_path):
    """convert_avro_to_parquet's multi-file path must stay binaryFile
    scan -> MapInArrow: no exchange (conversion parallelism = input
    splits) and no JVM projection (rows never materialize engine-side).
    A one-file input converts in the driver and has no plan."""
    from test_avro_source import ENVELOPE, _varied_event

    from datastream_delta_plugins_spark.sources import avro_ocf
    d = tmp_path / "avro"
    d.mkdir()
    (d / "k1_oracle-cdc-logminer_0.avro").write_bytes(
        avro_ocf.write_ocf(ENVELOPE, [_varied_event(i) for i in range(5)]))
    bin_df, decode, _schema = avro_ocf._arrow_decode_plan(spark, str(d))
    from pyspark.sql import types as T
    man = T.StructType([T.StructField("n", T.LongType())])

    def probe(batches):
        import pyarrow as pa
        for _ in decode(batches):
            pass
        yield pa.RecordBatch.from_arrays([pa.array([1], pa.int64())],
                                         names=["n"])
    plan = (bin_df.select("path", "content").mapInArrow(probe, man)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan
    assert "FileScan binaryFile" in plan


def test_mix_corpora_plan_is_one_scan_per_branch_no_python(
        spark, sf_smoke):
    """mix_corpora's upsampling must ride explode(sequence(...)) over
    ONE scan — a repetition factor unrolled as an N-way union would
    grow the plan (and the source scans) O(need/have) — and the whole
    mixture stays in JVM column expressions (no Python eval)."""
    from datastream_delta_plugins_spark.operators.sampling import \
        mix_corpora
    from datastream_delta_plugins_spark.sources.tables import load_table
    docs = load_table(spark, sf_smoke, "documents")
    # books upsamples ~40 epochs: the old union shape would put ~40
    # scans in the plan; the explode shape keeps exactly one (plus one
    # for web's fractional draw)
    mixed = mix_corpora({"web": docs, "books": docs.limit(10)},
                        {"web": 0.5, "books": 0.5},
                        "doc_id", target_rows=800, salt="p")
    plan = formatted_plan(mixed)
    assert "EvalPython" not in plan
    # the regression guard: the union shape would put ~41 scan nodes
    # here; the explode shape keeps a small constant independent of
    # the epoch count (scan_count counts plan NODES, not substrings)
    assert scan_count(mixed) <= 4
    assert "explode" in plan.lower() or "generate" in plan.lower()


def test_int8_ivf_probe_partition_pruned_no_python(spark, sf_smoke):
    """The int8 index's 100 TB contract: the probe reads only the
    probed cells (PartitionFilters on _cell reaches the scan — the
    static IN-list, not a dynamic join), and the whole screen+rescore
    pipeline is Catalyst-only (no BatchEvalPython/ArrowEvalPython —
    a Python stage here would serialize every probed cell through the
    worker)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from datastream_delta_plugins_spark.operators import similarity
    from datastream_delta_plugins_spark.sources import load_table

    emb = load_table(spark, sf_smoke, "embeddings")
    tmp = tempfile.mkdtemp(prefix="ivf_plan_")
    try:
        similarity.save_ivf_index(emb, tmp, k=4, store="int8")
        df = similarity.ivf_topk_indexed(
            spark, tmp, emb.where(F.col("vec_id") % 50 == 0),
            k=5, nprobe=2, source_df=emb)
        plan = formatted_plan(df)
        assert "EvalPython" not in plan          # Batch/Arrow both
        assert "_cell" in plan and "PartitionFilters" in plan
        # the probed-cell predicate must be static IN (...), visible
        # in at least one scan's partition filters
        import re
        pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
        assert any("_cell" in ln and ln.count("[") >= 1 for ln in pf)
        assert any(re.search(r"_cell.* IN |_cell#\d+ IN ", ln)
                   for ln in pf), pf
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
