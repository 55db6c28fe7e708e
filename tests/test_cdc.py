"""CDC semantics tests.

Golden-fixture tests re-create the reference's unit fixtures from
FIXTURES.md F2 (HR.EMPLOYEES insert/update/delete/update-pk/dump event
sequence, values from DatastreamEventConsumerTest assertions) and check
the engine's normalization + materialization; parity tests check
Q26-Q30 against DuckDB at sf0.01.
"""

import datetime
from decimal import Decimal

import pytest
from pyspark.sql import functions as F, types as T

from datastream_delta_plugins_spark.envelope import envelope_schema
from datastream_delta_plugins_spark.operators import cdc, cdc_queries
from datastream_delta_plugins_spark.sources.changes import (
    flatten_envelope, normalize_ops, read_changes)
from datastream_delta_plugins_spark.testing import assert_parity, duck_connection

EMP_SCHEMA = T.StructType([
    T.StructField("EMPLOYEE_ID", T.LongType()),
    T.StructField("FIRST_NAME", T.StringType()),
    T.StructField("LAST_NAME", T.StringType()),
    T.StructField("EMAIL", T.StringType()),
    T.StructField("HIRE_DATE", T.TimestampType()),
    T.StructField("JOB_ID", T.StringType()),
    T.StructField("SALARY", T.DecimalType(8, 2)),
    T.StructField("MANAGER_ID", T.LongType()),
    T.StructField("DEPARTMENT_ID", T.LongType()),
])

HIRE = datetime.datetime(2020, 1, 9)


def _payload(emp_id, salary, first="Sean"):
    return (emp_id, first, "Zhou", "seanzhou@google.com", HIRE,
            "AD_PRES", Decimal(salary), 205, 110)


def _env(uuid, read_method, change_type, payload, sk, tx_id="tx1"):
    ts = datetime.datetime(2022, 1, 1, 0, 0, sk[3] % 60)
    meta = ("HR", "EMPLOYEES", "db1", "rid", sk[1], change_type == "DELETE",
            change_type, sk[3], sk[2], tx_id, "log1")
    return (uuid, ts, ts, "HR_EMPLOYEES", read_method, "s1", "key1",
            meta, payload, [str(x) for x in sk])


@pytest.fixture(scope="module")
def golden_changes(spark):
    rows = [
        _env("e1", "oracle-cdc-logminer", "INSERT",
             _payload(210, "12131.00"), (1000, 1, "AAA", 1)),
        _env("e2", "oracle-cdc-logminer", "UPDATE",
             _payload(210, "8888.00"), (2000, 2, "AAB", 1)),
        _env("e3", "oracle-cdc-logminer", "DELETE",
             _payload(210, "8888.00"), (3000, 3, "AAC", 1)),
    ]
    return spark.createDataFrame(rows, envelope_schema(EMP_SCHEMA))


def test_flatten_envelope(golden_changes):
    flat = flatten_envelope(golden_changes)
    row = flat.orderBy("_sk1").first()
    assert row["_sk1"] == 1000 and row["_sk2"] == 1 and row["_sk3"] == "AAA"
    assert row["EMPLOYEE_ID"] == 210
    assert row["src_schema"] == "HR" and row["src_table"] == "EMPLOYEES"


def test_normalize_pk_update_pair(spark):
    # UPDATE-DELETE(210) + UPDATE-INSERT(211) -> DELETE then UPDATE
    rows = [
        _env("e1", "oracle-cdc-logminer", "INSERT",
             _payload(210, "12131.00"), (1000, 1, "AAA", 1)),
        _env("e4", "oracle-cdc-logminer", "UPDATE-DELETE",
             _payload(210, "12131.00"), (4000, 4, "AAD", 1)),
        _env("e5", "oracle-cdc-logminer", "UPDATE-INSERT",
             _payload(211, "12131.00"), (4000, 4, "AAD", 2)),
    ]
    df = normalize_ops(flatten_envelope(
        spark.createDataFrame(rows, envelope_schema(EMP_SCHEMA))))
    ops = {r["uuid"]: r["_op"] for r in df.collect()}
    assert ops == {"e1": "INSERT", "e4": "DELETE", "e5": "UPDATE"}

    state = {r["EMPLOYEE_ID"]: r["_is_deleted"]
             for r in cdc.materialize(df, ["EMPLOYEE_ID"]).collect()}
    assert state == {210: True, 211: False}


def test_snapshot_rows_forced_insert(spark):
    rows = [_env("s1", "oracle-backfill", None,
                 _payload(300, "100.00"), (0, 0, "S", 0), tx_id=None)]
    df = normalize_ops(flatten_envelope(
        spark.createDataFrame(rows, envelope_schema(EMP_SCHEMA))))
    r = df.first()
    assert r["_op"] == "INSERT" and r["_is_snapshot"] is True


def test_materialize_soft_delete(spark, golden_changes):
    flat = normalize_ops(flatten_envelope(golden_changes))
    out = cdc.materialize(flat, ["EMPLOYEE_ID"]).collect()
    assert len(out) == 1
    r = out[0]
    assert r["_is_deleted"] is True and r["SALARY"] == Decimal("8888.00")
    # hard-delete mode drops the PK entirely
    assert cdc.materialize(flat, ["EMPLOYEE_ID"], soft_delete=False).count() == 0


def test_materialize_strategies_agree(spark, golden_changes):
    flat = normalize_ops(flatten_envelope(golden_changes))
    a = cdc.materialize(flat, ["EMPLOYEE_ID"], strategy="agg").collect()
    w = cdc.materialize(flat, ["EMPLOYEE_ID"], strategy="window").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, w))


def test_dml_blacklist(spark, golden_changes):
    flat = normalize_ops(flatten_envelope(golden_changes))
    out = cdc.materialize(flat, ["EMPLOYEE_ID"],
                          dml_blacklist=("DELETE",)).collect()
    assert len(out) == 1
    assert out[0]["_is_deleted"] is False
    assert out[0]["SALARY"] == Decimal("8888.00")


def test_read_changes_snapshot_classification(spark, tmp_path):
    # snapshot vs cdc selected by file name, as in the reference scan
    snap = [_env("s1", "oracle-backfill", None,
                 _payload(1, "10.00"), (0, 0, "S", 0))]
    cdc_rows = [_env("c1", "oracle-cdc-logminer", "UPDATE",
                     _payload(1, "20.00"), (1, 1, "C", 1))]
    base = str(tmp_path / "changes")
    for name, data in [("key1_oracle-backfill_0_0", snap),
                       ("key1_oracle-cdc-logminer_0_1", cdc_rows)]:
        spark.createDataFrame(data, envelope_schema(EMP_SCHEMA)) \
             .coalesce(1).write.parquet(f"{base}/{name}")
    all_df = read_changes(spark, base + "/*")
    assert all_df.count() == 2
    assert read_changes(spark, base + "/*", snapshot_only=True).count() == 1
    only_cdc = read_changes(spark, base + "/*", snapshot_only=False)
    assert [r["uuid"] for r in only_cdc.collect()] == ["c1"]
    # P1 column projection
    proj = read_changes(spark, base + "/*", columns=["EMPLOYEE_ID", "SALARY"])
    assert "FIRST_NAME" not in proj.columns and "SALARY" in proj.columns


def test_merge_batch_incremental(spark):
    rows1 = [_env("e1", "oracle-cdc-logminer", "INSERT",
                  _payload(210, "12131.00"), (1000, 1, "AAA", 1)),
             _env("e2", "oracle-cdc-logminer", "INSERT",
                  _payload(220, "50.00"), (1000, 2, "AAA", 2))]
    rows2 = [_env("e3", "oracle-cdc-logminer", "UPDATE",
                  _payload(210, "8888.00"), (2000, 3, "AAB", 1))]
    df1 = normalize_ops(flatten_envelope(
        spark.createDataFrame(rows1, envelope_schema(EMP_SCHEMA))))
    df2 = normalize_ops(flatten_envelope(
        spark.createDataFrame(rows2, envelope_schema(EMP_SCHEMA))))
    state = cdc.materialize(df1, ["EMPLOYEE_ID"], keep_sort_keys=True)
    merged = cdc.merge_batch(state, df2, ["EMPLOYEE_ID"])
    out = {r["EMPLOYEE_ID"]: r["SALARY"] for r in merged.collect()}
    assert out == {210: Decimal("8888.00"), 220: Decimal("50.00")}

    # late-data correctness: replaying an OLDER event for 210 must not
    # clobber the newer state (the reference's 3-day rescan window
    # delivers such files)
    late = [_env("e0", "oracle-cdc-logminer", "UPDATE",
                 _payload(210, "1.00"), (500, 0, "AA0", 1))]
    df3 = normalize_ops(flatten_envelope(
        spark.createDataFrame(late, envelope_schema(EMP_SCHEMA))))
    merged2 = cdc.merge_batch(merged, df3, ["EMPLOYEE_ID"])
    out2 = {r["EMPLOYEE_ID"]: r["SALARY"] for r in merged2.collect()}
    assert out2 == {210: Decimal("8888.00"), 220: Decimal("50.00")}


@pytest.fixture(scope="module")
def duck(sf_correctness):
    con = duck_connection(sf_correctness)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(cdc_queries.QUERIES))
def test_cdc_query_parity(name, spark, duck, sf_correctness):
    df = cdc_queries.QUERIES[name](spark, sf_correctness)
    assert_parity(df, duck, cdc_queries.ORACLE_SQL[name], name)


def test_scan_window_path_pruning(spark, tmp_path):
    """P7: files outside [window_start, now] are pruned by their
    yyyy/MM/dd/HH/mm path segment; unparseable paths are kept."""
    import datetime

    from pyspark.sql import functions as F

    from datastream_delta_plugins_spark.sources.changes import (
        path_timestamp, scan_window)

    rows = [
        ("gs://b/t/2024/01/05/10/30/k1_cdc_1.avro", 1),
        ("gs://b/t/2024/01/01/00/00/k1_cdc_0.avro", 2),
        ("gs://b/t/no-time-segment.avro", 3),
    ]
    df = spark.createDataFrame(rows, "_source_file string, id int")
    kept = {r["id"] for r in scan_window(
        df, datetime.datetime(2024, 1, 2)).collect()}
    assert kept == {1, 3}  # old file pruned, no-time file kept
    ts = df.select(path_timestamp().alias("ts")).collect()
    assert ts[0]["ts"] == datetime.datetime(2024, 1, 5, 10, 30)
    assert ts[2]["ts"] is None


def test_sort_key_null_ranks_below_any_value(spark):
    """A null sort key must rank below every legitimate value — for
    string-typed custom sort columns too, and for negative numeric keys
    (a -1 sentinel would mis-rank them)."""
    from pyspark.sql import types as T
    schema = T.StructType([
        T.StructField("pk", T.LongType()),
        T.StructField("ver", T.LongType()),
        T.StructField("tag", T.StringType()),
        T.StructField("val", T.StringType()),
        T.StructField("_op", T.StringType()),
    ])
    rows = [
        # pk 1: a null numeric key must lose to a NEGATIVE real key
        (1, None, "a", "null-key", "UPDATE"),
        (1, -5, "a", "neg-key-wins", "UPDATE"),
        # pk 2: null string key loses to empty string (sentinel "" must
        # not tie with a real empty value... null still ranks lower)
        (2, 1, None, "null-tag", "UPDATE"),
        (2, 1, "", "empty-tag-wins", "UPDATE"),
    ]
    df = spark.createDataFrame(rows, schema)
    out = {r["pk"]: r["val"]
           for r in cdc.materialize(df, ["pk"], ["ver", "tag"]).collect()}
    assert out == {1: "neg-key-wins", 2: "empty-tag-wins"}


def test_salted_join_rejects_outer_types(spark):
    import pytest as _pytest

    from datastream_delta_plugins_spark.operators.skew import salted_join
    df = spark.range(4).withColumnRenamed("id", "k")
    for how in ("right", "full", "full_outer", "right_outer"):
        with _pytest.raises(ValueError):
            salted_join(df, df, ["k"], how=how)


def test_merge_batch_rejects_state_without_sort_keys(spark):
    """A state built without keep_sort_keys=True must be rejected:
    union-ing NULL sort keys would rank below every batch event and let
    an out-of-order batch silently overwrite newer state."""
    df = spark.createDataFrame(
        [(1, 1, "a", "UPDATE")], "pk long, _sk1 long, val string, _op string")
    state = cdc.materialize(df, ["pk"], ["_sk1"])  # no sort keys kept
    assert "_sk1" not in state.columns
    with pytest.raises(ValueError, match="keep_sort_keys"):
        cdc.merge_batch(state, df, ["pk"], ["_sk1"])


def test_keep_sort_keys_with_payload_sort_col(spark):
    """keep_sort_keys must not duplicate a sort column that is also a
    payload column (ambiguous struct field)."""
    df = spark.createDataFrame(
        [(1, 1, "a", "UPDATE"), (1, 2, "b", "UPDATE")],
        "pk long, ver long, val string, _op string")
    state = cdc.materialize(df, ["pk"], ["ver"], keep_sort_keys=True)
    row = state.first()
    assert row["ver"] == 2 and row["val"] == "b"
    # and the state is re-mergeable on that payload sort key
    late = spark.createDataFrame([(1, 0, "stale", "UPDATE")],
                                 "pk long, ver long, val string, _op string")
    merged = cdc.merge_batch(state, late, ["pk"], ["ver"]).first()
    assert merged["val"] == "b"  # late event must not win


# -- merge_batch edge cases (each through the one-pass join) --

MERGE_SCHEMA = "pk long, ver long, tag string, val string, _op string"


def _merge(spark, state_rows, batch_rows, schema=MERGE_SCHEMA,
           batch_schema=None, sort_cols=("ver", "tag")):
    state = cdc.materialize(spark.createDataFrame(state_rows, schema),
                            ["pk"], list(sort_cols), keep_sort_keys=True)
    batch = spark.createDataFrame(batch_rows, batch_schema or schema)
    return cdc.merge_batch(state, batch, ["pk"], list(sort_cols))


def test_merge_equal_sort_keys_batch_wins(spark):
    """Equal sort keys mean a replay of the same event: the batch side
    wins the tie, DELETEs included."""
    merged = _merge(spark,
                    [(1, 5, "a", "state", "UPDATE"),
                     (2, 5, "a", "state", "UPDATE")],
                    [(1, 5, "a", "batch", "UPDATE"),
                     (2, 5, "a", "batch", "DELETE")])
    out = {r["pk"]: (r["val"], r["_is_deleted"]) for r in merged.collect()}
    assert out == {1: ("batch", False), 2: ("batch", True)}


def test_merge_null_sort_key_ranks_below_any_value(spark):
    """A NULL sort-key field on either side ranks below every real
    value (negative numbers and the empty string included) — the
    join's comparison agrees with materialize's max_by ordering."""
    merged = _merge(spark,
                    [(1, None, "a", "state", "UPDATE"),
                     (2, -5, "a", "state-wins", "UPDATE"),
                     (3, 1, None, "state", "UPDATE"),
                     (4, 1, "", "state-wins", "UPDATE")],
                    [(1, -5, "a", "batch-wins", "UPDATE"),
                     (2, None, "a", "batch", "UPDATE"),
                     (3, 1, "", "batch-wins", "UPDATE"),
                     (4, 1, None, "batch", "UPDATE")])
    out = {r["pk"]: r["val"] for r in merged.collect()}
    assert out == {1: "batch-wins", 2: "state-wins",
                   3: "batch-wins", 4: "state-wins"}


def test_merge_columns_only_one_side_carries(spark):
    """A column only the state carries and one only the batch carries
    both survive: state columns in order, then the batch's new one; the
    side that lacks a column reads NULL for the rows it wins."""
    merged = _merge(spark,
                    [(1, 1, "old-a1", "INSERT"), (2, 1, "a2", "INSERT"),
                     (4, 9, "a4", "INSERT")],
                    [(1, 2, "b1", "UPDATE"), (3, 1, "b3", "INSERT"),
                     (4, 2, "stale-b4", "UPDATE")],
                    schema="pk long, ver long, a string, _op string",
                    batch_schema="pk long, ver long, b string, _op string",
                    sort_cols=("ver",))
    assert merged.columns == ["pk", "ver", "a", "_is_deleted", "b"]
    assert dict(merged.dtypes)["b"] == "string"
    out = {r["pk"]: (r["ver"], r["a"], r["b"]) for r in merged.collect()}
    assert out == {1: (2, None, "b1"), 2: (1, "a2", None),
                   3: (1, None, "b3"), 4: (9, "a4", None)}


def test_merge_pk_update_pair_straddling_state_and_batch(spark):
    """A PK update (UPDATE-DELETE of the old key + UPDATE-INSERT of the
    new) whose halves land in different batches merges to the same
    state as one batch holding both, in either arrival order."""
    def env(rows):
        return normalize_ops(flatten_envelope(
            spark.createDataFrame(rows, envelope_schema(EMP_SCHEMA))))

    insert = _env("e1", "oracle-cdc-logminer", "INSERT",
                  _payload(210, "12131.00"), (1000, 1, "AAA", 1))
    old_half = _env("e4", "oracle-cdc-logminer", "UPDATE-DELETE",
                    _payload(210, "12131.00"), (4000, 4, "AAD", 1))
    new_half = _env("e5", "oracle-cdc-logminer", "UPDATE-INSERT",
                    _payload(211, "12131.00"), (4000, 4, "AAD", 2))
    for first, second in (([insert, old_half], [new_half]),
                          ([insert, new_half], [old_half])):
        state = cdc.materialize(env(first), ["EMPLOYEE_ID"],
                                keep_sort_keys=True)
        merged = cdc.merge_batch(state, env(second), ["EMPLOYEE_ID"])
        out = {r["EMPLOYEE_ID"]: r["_is_deleted"] for r in merged.collect()}
        assert out == {210: True, 211: False}
