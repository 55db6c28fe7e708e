"""Avro change-file source tests, mirroring the reference's golden
fixture suite (DatastreamEventConsumerTest: dump/insert/update/delete/
update-pk over HR_EMPLOYEES, FIXTURES.md F1/F2): write Avro object-
container fixtures with the pure-Python codec, read them back through
the distributed binaryFile+mapInPandas path, and check events and
materialized state."""

import datetime
from decimal import Decimal

import pytest

from datastream_delta_plugins_spark.operators import cdc
from datastream_delta_plugins_spark.sources import avro_ocf

SM_FIELDS = [
    ("schema", "string", False), ("table", "string", False),
    ("database", "string", False), ("row_id", "string", True),
    ("scn", "long", True), ("is_deleted", "boolean", True),
    ("change_type", "string", True), ("ssn", "long", True),
    ("rs_id", "string", True), ("tx_id", "string", True),
    ("log_file", "string", True),
]

PAYLOAD_FIELDS = [
    ("EMPLOYEE_ID", ["null", "long"]),
    ("FIRST_NAME", ["null", "string"]),
    ("HIRE_DATE", ["null", {"type": "long",
                            "logicalType": "timestamp-micros"}]),
    ("SALARY", ["null", {"type": "bytes", "logicalType": "decimal",
                         "precision": 8, "scale": 2}]),
]

ENVELOPE = {
    "type": "record", "name": "HR_EMPLOYEES", "fields": [
        {"name": "uuid", "type": "string"},
        {"name": "read_timestamp",
         "type": {"type": "long", "logicalType": "timestamp-millis"}},
        {"name": "source_timestamp",
         "type": {"type": "long", "logicalType": "timestamp-millis"}},
        {"name": "object", "type": "string"},
        {"name": "read_method", "type": "string"},
        {"name": "stream_name", "type": "string"},
        {"name": "schema_key", "type": "string"},
        {"name": "source_metadata", "type": {
            "type": "record", "name": "source_metadata", "fields": [
                {"name": n, "type": ["null", t] if nullable else t}
                for n, t, nullable in SM_FIELDS]}},
        {"name": "payload", "type": {
            "type": "record", "name": "payload", "fields": [
                {"name": n, "type": t} for n, t in PAYLOAD_FIELDS]}},
        {"name": "sort_keys", "type": {
            "type": "array", "items": ["string", "long"]}},
    ],
}

T0 = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
T0_MS = int(T0.timestamp() * 1000)


def _event(uid, read_method, change_type, emp_id, name, salary, scn,
           ssn=0, rs_id="rs0"):
    src_ts = T0_MS + scn
    return {
        "uuid": uid, "read_timestamp": src_ts + 5,
        "source_timestamp": src_ts, "object": "HR_EMPLOYEES",
        "read_method": read_method, "stream_name": "s1",
        "schema_key": "k1",
        "source_metadata": {
            "schema": "HR", "table": "EMPLOYEES", "database": "ORCL",
            "row_id": "r1", "scn": scn, "is_deleted": False,
            "change_type": change_type, "ssn": ssn, "rs_id": rs_id,
            "tx_id": None if change_type is None else "tx1",
            "log_file": None},
        "payload": {"EMPLOYEE_ID": emp_id, "FIRST_NAME": name,
                    "HIRE_DATE": T0_MS * 1000,
                    "SALARY": salary},
        "sort_keys": [src_ts, scn, rs_id, ssn],
    }


SNAP = "oracle-backfill"
CDC = "oracle-cdc-logminer"


@pytest.fixture(scope="module")
def change_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("avro_changes")
    dump = [_event(f"u{i}", SNAP, None, i, f"emp{i}",
                   Decimal(f"{1000 + i}.50"), 0) for i in range(106)]
    (d / "k1_oracle-backfill_0.avro").write_bytes(
        avro_ocf.write_ocf(ENVELOPE, dump))
    cdc_events = [
        _event("c1", CDC, "INSERT", 200, "new", Decimal("5000.00"), 10),
        _event("c2", CDC, "UPDATE", 5, "emp5b", Decimal("1111.25"), 20),
        _event("c3", CDC, "DELETE", 7, "emp7", Decimal("1007.50"), 30),
        # PK update 3 -> 300 arrives as UPDATE-DELETE + UPDATE-INSERT
        _event("c4", CDC, "UPDATE-DELETE", 3, "emp3",
               Decimal("1003.50"), 40, ssn=0),
        _event("c5", CDC, "UPDATE-INSERT", 300, "emp3",
               Decimal("1003.50"), 40, ssn=1),
    ]
    (d / "k1_oracle-cdc-logminer_1.avro").write_bytes(
        avro_ocf.write_ocf(ENVELOPE, cdc_events, codec="null"))
    return str(d)


def test_roundtrip_codec():
    recs = [_event("u1", CDC, "INSERT", 1, "a", Decimal("12.34"), 1)]
    for codec in ("null", "deflate"):
        schema, back = avro_ocf.read_ocf(
            avro_ocf.write_ocf(ENVELOPE, recs, codec=codec))
        assert schema["name"] == "HR_EMPLOYEES"
        assert back == recs


def test_read_changes_shape_and_types(spark, change_dir):
    df = avro_ocf.read_avro_changes(spark, change_dir + "/*.avro")
    assert df.count() == 111
    r = df.where("uuid = 'c2'").first()
    assert r["EMPLOYEE_ID"] == 5 and r["FIRST_NAME"] == "emp5b"
    assert r["SALARY"] == Decimal("1111.25")
    assert r["_op"] == "UPDATE" and not r["_is_snapshot"]
    assert r["_sk2"] == 20 and r["_sk3"] == "rs0"
    assert r["HIRE_DATE"] is not None
    snap = df.where("_is_snapshot").count()
    assert snap == 106  # reference's dump fixture row count


def test_column_projection(spark, change_dir):
    df = avro_ocf.read_avro_changes(spark, change_dir + "/*.avro",
                                    columns=["EMPLOYEE_ID", "SALARY"])
    assert "FIRST_NAME" not in df.columns
    assert "EMPLOYEE_ID" in df.columns and "SALARY" in df.columns


def test_materialize_from_avro(spark, change_dir):
    df = avro_ocf.read_avro_changes(spark, change_dir + "/*.avro")
    state = cdc.materialize(df.withColumnRenamed("EMPLOYEE_ID", "pk"),
                            ["pk"])
    by_pk = {r["pk"]: r for r in state.collect()}
    assert len(by_pk) == 108  # 106 snapshot + insert 200 + new pk 300
    assert by_pk[5]["FIRST_NAME"] == "emp5b"      # update applied
    assert by_pk[7]["_is_deleted"]                # soft delete
    assert by_pk[3]["_is_deleted"]                # PK-update: old pk dead
    assert not by_pk[300]["_is_deleted"]          # ... new pk live
    assert by_pk[200]["SALARY"] == Decimal("5000.00")


def test_float_field_roundtrip():
    """Float payload fields encode/decode (the envelope type subset
    includes float; the encoder must pack <f, 4 bytes)."""
    import math
    schema = {"type": "record", "name": "r", "fields": [
        {"name": "f", "type": "float"},
        {"name": "nf", "type": ["null", "float"]},
        {"name": "d", "type": "double"}]}
    recs = [{"f": 1.5, "nf": None, "d": 2.25},
            {"f": -0.25, "nf": 3.5, "d": 1e300}]
    _, back = avro_ocf.read_ocf(avro_ocf.write_ocf(schema, recs))
    assert back[0] == recs[0]
    assert back[1]["nf"] == 3.5 and math.isclose(back[1]["f"], -0.25)


def test_schema_drift_raises_instead_of_dropping(spark, change_dir, tmp_path):
    """A later file whose payload carries a field the reader schema
    lacks must raise (drift signal to re-describe), not silently drop
    the new column."""
    import shutil

    d = tmp_path / "drift"
    d.mkdir()
    for f in ("k1_oracle-backfill_0.avro", "k1_oracle-cdc-logminer_1.avro"):
        shutil.copy(f"{change_dir}/{f}", d / f)
    evolved = {**ENVELOPE, "fields": [
        dict(f) if f["name"] != "payload" else {
            "name": "payload", "type": {
                "type": "record", "name": "payload", "fields": [
                    {"name": n, "type": t} for n, t in PAYLOAD_FIELDS
                ] + [{"name": "NEW_COL", "type": ["null", "string"]}]}}
        for f in ENVELOPE["fields"]]}
    ev = _event("x1", CDC, "INSERT", 999, "drifted", Decimal("1.00"), 99)
    ev["payload"]["NEW_COL"] = "surprise"
    (d / "k2_oracle-cdc-logminer_2.avro").write_bytes(
        avro_ocf.write_ocf(evolved, ev and [ev]))
    # reader schema = first file's header (no NEW_COL) -> executor raises
    with pytest.raises(Exception) as err:
        avro_ocf.read_avro_changes(spark, str(d) + "/*").collect()
    assert "NEW_COL" in str(err.value)
    # explicit evolved schema (registry re-describe) reads everything
    df = avro_ocf.read_avro_changes(spark, str(d) + "/*",
                                    avro_schema=evolved)
    assert df.where("NEW_COL = 'surprise'").count() == 1
    # an intentional column projection is NOT drift: no raise
    proj = avro_ocf.read_avro_changes(spark, str(d) + "/*",
                                      columns=["EMPLOYEE_ID"])
    assert proj.count() == 112


def test_string_branch_sort_keys_coerced(spark, tmp_path):
    """sort_keys is array<union[string,long]> — the string branch is
    legal at ANY position; numeric positions must coerce to long, not
    poison the Arrow batch."""
    d = tmp_path / "u"
    d.mkdir()
    ev = _event("u1", CDC, "INSERT", 7, "strkeys", Decimal("1.00"), 42)
    ev["sort_keys"] = ["1704067200042", "42", "rs0", "0"]  # all strings
    (d / "k1_oracle-cdc-logminer_0.avro").write_bytes(
        avro_ocf.write_ocf(ENVELOPE, [ev]))
    row = avro_ocf.read_avro_changes(spark, str(d) + "/*").first()
    assert row["_sk1"] == 1704067200042 and row["_sk2"] == 42
    assert row["_sk3"] == "rs0" and row["_sk4"] == 0


def _mk_envelope(payload_fields):
    return {
        "type": "record", "name": "T", "fields": [
            {"name": "uuid", "type": "string"},
            {"name": "read_timestamp",
             "type": {"type": "long", "logicalType": "timestamp-millis"}},
            {"name": "source_timestamp",
             "type": {"type": "long", "logicalType": "timestamp-millis"}},
            {"name": "object", "type": "string"},
            {"name": "read_method", "type": "string"},
            {"name": "stream_name", "type": "string"},
            {"name": "schema_key", "type": "string"},
            {"name": "source_metadata", "type": {
                "type": "record", "name": "source_metadata", "fields": [
                    {"name": n, "type": ["null", t] if nullable else t}
                    for n, t, nullable in SM_FIELDS]}},
            {"name": "payload", "type": {
                "type": "record", "name": "payload", "fields": [
                    {"name": n, "type": t} for n, t in payload_fields]}},
            {"name": "sort_keys", "type": {
                "type": "array", "items": ["string", "long"]}},
        ],
    }


def _mk_event(payload):
    return {
        "uuid": "u1", "read_timestamp": T0_MS, "source_timestamp": T0_MS,
        "object": "T", "read_method": CDC, "stream_name": "s1",
        "schema_key": "k1",
        "source_metadata": {
            "schema": "S", "table": "T", "database": "D", "row_id": "r1",
            "scn": 1, "is_deleted": False, "change_type": "INSERT",
            "ssn": 0, "rs_id": "rs0", "tx_id": "tx", "log_file": None},
        "payload": payload,
        "sort_keys": [T0_MS, 1, "rs0", 0],
    }


def test_payload_column_colliding_with_envelope_is_renamed(
        spark, tmp_path):
    """Oracle payload columns named like envelope outputs (CHANGE_TYPE,
    uuid) must not make the flattened frame ambiguous or crash the
    Arrow batch — they flatten as payload_<name>."""
    schema = _mk_envelope([
        ("ID", ["null", "long"]),
        ("CHANGE_TYPE", ["null", "string"]),   # case-variant collision
        ("uuid", ["null", "string"]),          # exact collision
    ])
    d = tmp_path / "src"
    d.mkdir()
    ev = _mk_event({"ID": 1, "CHANGE_TYPE": "payload-ct", "uuid": "p-u"})
    (d / "k1_cdc_0.avro").write_bytes(avro_ocf.write_ocf(schema, [ev]))
    df = avro_ocf.read_avro_changes(spark, str(d) + "/*")
    row = df.first()
    assert row["payload_CHANGE_TYPE"] == "payload-ct"
    assert row["payload_uuid"] == "p-u"
    assert row["change_type"] == "INSERT" and row["uuid"] == "u1"
    assert row["_op"] == "INSERT"  # normalize_ops resolved unambiguously


def test_payload_string_long_union_coerced(spark, tmp_path):
    """A payload field typed [null,string,long] is declared StringType
    (avro_mapping cast-on-use rule) — long-branch values must arrive as
    strings, not poison the Arrow batch."""
    schema = _mk_envelope([("K", ["null", "string", "long"])])
    d = tmp_path / "src"
    d.mkdir()
    evs = [_mk_event({"K": 42}), _mk_event({"K": "s42"}),
           _mk_event({"K": None})]
    (d / "k1_cdc_0.avro").write_bytes(avro_ocf.write_ocf(schema, evs))
    df = avro_ocf.read_avro_changes(spark, str(d) + "/*")
    assert dict(df.dtypes)["K"] == "string"
    assert sorted(r["K"] for r in df.collect()
                  if r["K"] is not None) == ["42", "s42"]


def _collection_fixture(tmp_path, ftype, values):
    schema = _mk_envelope([("ID", ["null", "long"]), ("F", ["null", ftype])])
    d = tmp_path / "src"
    d.mkdir()
    evs = [_mk_event({"ID": i, "F": v}) for i, v in enumerate(values)]
    (d / "k1_cdc_0.avro").write_bytes(avro_ocf.write_ocf(schema, evs))
    return str(d) + "/*"


@pytest.mark.parametrize("decoder", ["auto", "scalar", "ckernel"])
def test_array_payload_field_decodes(spark, tmp_path, decoder):
    """An `array` payload field decodes on every tier (the C kernel
    hands it over as offsets/validity/items, which become a list
    column), null and empty arrays included."""
    from datastream_delta_plugins_spark.sources import avro_ckernel
    if decoder == "ckernel" and not avro_ckernel.available():
        pytest.skip("no C compiler in this environment")
    values = [[1, 2], None, [], [7]]
    path = _collection_fixture(
        tmp_path, {"type": "array", "items": "long"}, values)
    df = avro_ocf.read_avro_changes(spark, path, decoder=decoder)
    assert dict(df.dtypes)["F"] == "array<bigint>"
    assert [r["F"] for r in df.orderBy("ID").collect()] == values


@pytest.mark.parametrize("decoder", ["auto", "scalar", "ckernel"])
def test_map_payload_field_decodes_or_names_the_type(spark, tmp_path,
                                                     decoder):
    """A `map` payload field decodes on the closure tree (and so under
    "auto"); the C kernel, whose subset has no maps, raises its typed
    `Unsupported` error naming the type."""
    from datastream_delta_plugins_spark.sources import avro_ckernel
    if decoder == "ckernel" and not avro_ckernel.available():
        pytest.skip("no C compiler in this environment")
    values = [{"a": 1, "b": 2}, None, {}]
    path = _collection_fixture(
        tmp_path, {"type": "map", "values": "long"}, values)
    df = avro_ocf.read_avro_changes(spark, path, decoder=decoder)
    if decoder == "ckernel":
        with pytest.raises(Exception, match=r"Unsupported: map"):
            df.collect()
        return
    assert dict(df.dtypes)["F"] == "map<string,bigint>"
    assert [r["F"] for r in df.orderBy("ID").collect()] == values


def test_plain_fixed_decodes_as_bytes():
    dec = avro_ocf._Decoder(b"abcd")
    assert avro_ocf.decode_value(
        {"type": "fixed", "name": "f", "size": 4}, dec) == b"abcd"


def _varied_event(i):
    """Exercise every branch the C kernel dispatches on: mixed nulls,
    string-branch sort keys, long-vs-string unions."""
    e = _event(f"v{i:05d}", CDC if i % 2 else SNAP,
               None if i % 2 == 0 else "UPDATE", i,
               None if i % 11 == 0 else f"emp{i}",
               Decimal(f"{1000 + i}.25"), i)
    if i % 7 == 0:
        e["source_metadata"]["scn"] = None
        e["source_metadata"]["is_deleted"] = None
    if i % 5 == 0:  # string branch at numeric sort-key positions
        e["sort_keys"] = [str(T0_MS + i), str(i), f"rs{i % 3}", 0]
    if i % 13 == 0:
        e["sort_keys"] = []
    return e


def test_ckernel_and_scalar_decoders_identical(spark, tmp_path):
    """The C kernel (avro_ckernel) and closure-tree decode paths must
    produce byte-identical frames; a tiny sync interval makes even this
    small fixture multi-block so the kernel's block loop runs."""
    from datastream_delta_plugins_spark.sources import avro_ckernel
    if not avro_ckernel.available():
        pytest.skip("no C compiler in this environment")

    recs = [_varied_event(i) for i in range(400)]
    blob = avro_ocf.write_ocf(ENVELOPE, recs, sync_interval=512)
    meta, counts, _ = avro_ocf.scan_blocks(blob)
    assert len(counts) > 1, "fixture must be multi-block"
    d = tmp_path / "ck"
    d.mkdir()
    (d / "k1_oracle-cdc-logminer_0.avro").write_bytes(blob)

    native = avro_ocf.read_avro_changes(spark, str(d), decoder="ckernel") \
        .orderBy("uuid").collect()
    slow = avro_ocf.read_avro_changes(spark, str(d), decoder="scalar") \
        .orderBy("uuid").collect()
    assert len(native) == len(slow) == 400
    assert native == slow
    with pytest.raises(ValueError, match="unknown decoder"):
        avro_ocf.read_avro_changes(spark, str(d), decoder="vector")


def test_single_block_file_auto_matches_scalar(spark, tmp_path):
    """A single-block file under decoder='auto' must decode exactly as
    the closure-tree reference does."""
    recs = [_varied_event(i) for i in range(120)]
    blob = avro_ocf.write_ocf(ENVELOPE, recs, sync_interval=0)
    meta, counts, _ = avro_ocf.scan_blocks(blob)
    assert len(counts) == 1
    d = tmp_path / "single"
    d.mkdir()
    (d / "k1_oracle-cdc-logminer_0.avro").write_bytes(blob)
    auto = avro_ocf.read_avro_changes(spark, str(d)) \
        .orderBy("uuid").collect()
    ref = avro_ocf.read_avro_changes(spark, str(d), decoder="scalar") \
        .orderBy("uuid").collect()
    assert len(auto) == 120
    assert auto == ref


def test_auto_without_compiler_falls_back_and_warns_once(
        spark, tmp_path, monkeypatch, caplog):
    """With no C compiler, decoder='auto' must decode every file on the
    closure tree, identically to decoder='scalar', and the process must
    log the fallback once."""
    import logging

    import pyarrow as pa

    from datastream_delta_plugins_spark.sources import avro_ckernel
    d = tmp_path / "nokernel"
    d.mkdir()
    paths, blobs = [], []
    for k in range(2):
        blob = avro_ocf.write_ocf(
            ENVELOPE, [_varied_event(i) for i in range(k * 60, k * 60 + 60)],
            sync_interval=512)
        path = d / f"k1_oracle-cdc-logminer_{k}.avro"
        path.write_bytes(blob)
        paths.append(str(path))
        blobs.append(blob)
    batches = [pa.RecordBatch.from_arrays(
        [pa.array(paths), pa.array(blobs, pa.binary())],
        names=["path", "content"])]
    _, auto, _ = avro_ocf._arrow_decode_plan(spark, str(d))
    _, scalar, _ = avro_ocf._arrow_decode_plan(spark, str(d),
                                               decoder="scalar")
    want = list(scalar(batches))

    # a fresh process with no `cc` on PATH and no cached kernel build
    monkeypatch.setattr(avro_ckernel, "_LIB", None)
    monkeypatch.setattr(avro_ckernel, "_LIB_TRIED", False)
    monkeypatch.setattr(avro_ckernel.tempfile, "gettempdir",
                        lambda: str(tmp_path))
    monkeypatch.setenv("PATH", str(tmp_path / "no-bin"))
    with caplog.at_level(logging.WARNING, logger=avro_ckernel.__name__):
        got = list(auto(batches))
    assert not avro_ckernel.available()
    assert len(got) == len(want) == 2
    assert all(g.equals(w) for g, w in zip(got, want))
    fallback = [r for r in caplog.records
                if "closure tree" in r.getMessage()]
    assert len(fallback) == 1, caplog.text


def test_ckernel_rejects_corrupt_blocks():
    """Truncated/garbled block bytes must fail loudly on the native
    tier (boundary mismatch), never read out of bounds or emit rows."""
    from datastream_delta_plugins_spark.sources import avro_ckernel
    if not avro_ckernel.available():
        import pytest as _p
        _p.skip("no C compiler in this environment")
    recs = [_varied_event(i) for i in range(50)]
    blob = bytearray(avro_ocf.write_ocf(ENVELOPE, recs, codec="null"))
    # flip bytes in the record body region (after header+sync)
    for off in (len(blob) // 2, len(blob) // 2 + 7, len(blob) - 40):
        blob[off] ^= 0xFF
    import pytest as _p
    with _p.raises((ValueError, Exception)):
        avro_ckernel.decode_columnar(bytes(blob))


# ------------------------------------------- crafted-input DoS guards

def _craft_ocf(schema, count, body: bytes) -> bytes:
    """Hand-build a one-block null-codec OCF with an arbitrary block
    record count (write_ocf always stamps the true count)."""
    import json as _json

    from datastream_delta_plugins_spark.sources.avro_ocf import (
        MAGIC, SYNC, _Encoder)
    enc = _Encoder()
    enc.raw(MAGIC)
    meta = {"avro.schema": _json.dumps(schema).encode(),
            "avro.codec": b"null"}
    enc.long(len(meta))
    for k, v in meta.items():
        enc.string(k)
        enc.bytes_(v)
    enc.long(0)
    enc.raw(SYNC)
    enc.long(count)
    enc.long(len(body))
    enc.raw(body)
    enc.raw(SYNC)
    return enc.value()


_SIMPLE = {"type": "record", "name": "R",
           "fields": [{"name": "a", "type": "long"}]}
_ARR = {"type": "record", "name": "R",
        "fields": [{"name": "a", "type": {"type": "array",
                                          "items": "long"}}]}


def _enc_longs(*vals) -> bytes:
    from datastream_delta_plugins_spark.sources.avro_ocf import _Encoder
    e = _Encoder()
    for v in vals:
        e.long(v)
    return e.value()


def test_huge_block_record_count_rejected_every_tier():
    """A crafted block claiming ~2^60 records over a few bytes must be
    rejected by bounds checking on EVERY decode tier — unguarded it
    spins the per-record loop (and sizes output allocations) off the
    claimed count (executor CPU/memory DoS, round-5 ADVICE)."""
    from datastream_delta_plugins_spark.sources import avro_ckernel
    blob = _craft_ocf(_SIMPLE, 2**60, _enc_longs(7))
    with pytest.raises(ValueError, match="corrupt Avro block"):
        avro_ocf.read_ocf(blob)
    with pytest.raises(ValueError, match="corrupt Avro block"):
        avro_ocf.scan_blocks(blob)  # the block scan the C kernel uses
    if avro_ckernel.available():
        with pytest.raises(ValueError, match="corrupt Avro block"):
            avro_ckernel.decode_columnar(blob)


def test_negative_block_record_count_rejected():
    blob = _craft_ocf(_SIMPLE, -5, _enc_longs(7))
    with pytest.raises(ValueError, match="corrupt Avro block"):
        avro_ocf.read_ocf(blob)


@pytest.mark.parametrize("cnt", [2**60, -(2**63)])
def test_huge_array_item_count_rejected(cnt):
    """An array block claiming ~2^60 items (or the INT64_MIN negation
    trap) must fail fast on both the scalar tier and the C kernel —
    zero-byte items would otherwise make the item loop spin without
    moving the cursor."""
    from datastream_delta_plugins_spark.sources import avro_ckernel
    body = _enc_longs(cnt) + (b"" if cnt < 0 else b"")
    blob = _craft_ocf(_ARR, 1, body)
    with pytest.raises((ValueError, EOFError)):
        avro_ocf.read_ocf(blob)
    if avro_ckernel.available():
        with pytest.raises(ValueError):
            avro_ckernel.decode_columnar(blob)


def test_zero_width_programs_rejected_at_compile():
    """fixed(0) fields and empty records compile to zero-width decode
    programs — the C kernel's termination bound assumes every item
    consumes a byte, so these must be rejected before the kernel runs
    (they fall back to the scalar tier, whose block-count guard bounds
    them)."""
    import json as _json

    from datastream_delta_plugins_spark.sources import avro_ckernel
    fx = {"type": "record", "name": "R",
          "fields": [{"name": "f", "type": {"type": "fixed", "name": "Z",
                                            "size": 0}}]}
    with pytest.raises(avro_ckernel.Unsupported):
        avro_ckernel.compile_program(_json.dumps(fx).encode(), fx)
    empty = {"type": "record", "name": "R",
             "fields": [{"name": "e", "type": {
                 "type": "record", "name": "E", "fields": []}}]}
    with pytest.raises(avro_ckernel.Unsupported):
        avro_ckernel.compile_program(_json.dumps(empty).encode(), empty)


def test_plan_construction_never_decodes_blocks(spark, tmp_path, monkeypatch):
    """Building the read plan must peek only the OCF HEADER: the old
    peek scalar-decoded the entire first blob per plan (~4.3s on a
    22MB change file — more than the whole decode job)."""
    d = tmp_path / "avro"
    d.mkdir()
    (d / "k1_oracle-cdc-logminer_0.avro").write_bytes(
        avro_ocf.write_ocf(ENVELOPE, [_varied_event(i) for i in range(50)]))

    def no_full_decode(raw):
        raise AssertionError("plan construction decoded record blocks")
    monkeypatch.setattr(avro_ocf, "read_ocf", no_full_decode)
    df = avro_ocf.read_avro_changes(spark, str(d))  # must not raise
    assert "_op" in df.columns


def test_no_jvm_projection_above_python_decode(spark, tmp_path):
    """_op/_is_snapshot ride the worker's Arrow batch: a JVM projection
    above the PythonMapInArrow node gets no whole-stage codegen and
    re-materializes every row (measured ~3x the decode cost) — pin the
    plan so it never comes back."""
    d = tmp_path / "avro"
    d.mkdir()
    (d / "k1_oracle-cdc-logminer_0.avro").write_bytes(
        avro_ocf.write_ocf(ENVELOPE, [_varied_event(i) for i in range(10)]))
    plan = (avro_ocf.read_avro_changes(spark, str(d))
            ._jdf.queryExecution().optimizedPlan().toString())
    first = plan.splitlines()[0]
    assert "PythonMapInArrow" in first or "MapInArrow" in first, \
        f"decode output is no longer the plan root: {first!r}"


@pytest.mark.parametrize("tier", ["scalar", "ckernel"])
def test_fuzzed_mutations_never_hang_or_crash(tier):
    """Byte-flip fuzz over a valid null-codec OCF: every decode tier
    either succeeds or raises a controlled error — never hangs, never
    segfaults — complementing the crafted-count DoS tests with random
    corruption (sync markers, varints, block headers, record bodies)."""
    import random

    from datastream_delta_plugins_spark.sources import avro_ckernel
    if tier == "ckernel" and not avro_ckernel.available():
        pytest.skip("no C compiler")
    recs = [_varied_event(i) for i in range(40)]
    blob = avro_ocf.write_ocf(ENVELOPE, recs, codec="null",
                              sync_interval=2048)
    rng = random.Random(20260815)
    for trial in range(60):
        b = bytearray(blob)
        for _ in range(rng.randint(1, 4)):
            b[rng.randrange(len(b))] ^= 1 << rng.randrange(8)
        data = bytes(b)
        try:
            if tier == "scalar":
                avro_ocf.read_ocf(data)
            else:
                avro_ckernel.decode_columnar(data)
        except (ValueError, EOFError, KeyError, OverflowError,
                UnicodeDecodeError, avro_ckernel.Unsupported, IndexError, OSError,
                MemoryError, TypeError):
            pass  # controlled rejection is a pass; hangs/crashes fail
