"""Pure-Python Avro object-container-file codec + distributed reader.

The reference consumes Datastream change events as Avro container files
(reference: DatastreamEventConsumer.java:182-199 parses one file from
bytes). This environment has neither the spark-avro jar nor a Python
avro package, so this module implements the public Avro 1.11 container
spec directly (magic `Obj\\x01`, metadata map with schema JSON + codec,
sync-marker-delimited blocks of binary-encoded records; null and
deflate codecs) for the type subset the Datastream envelope uses:
records, null-unions, string/long/int/boolean/double/float/bytes,
arrays (incl. the sort_keys [string,long] union -> string), and the
logical types timestamp-millis/micros and decimal(p,s)-on-bytes.

Distributed read path (the Spark-first part): files land as rows of
`spark.read.format("binaryFile")` (path, content) and are decoded in
executors via mapInArrow — per file, the native opcode decoder
(avro_ckernel) when a C compiler is available and the schema is inside
its subset, else this module's closure tree; both emit identical Arrow
batches. At 100 TB the unit of parallelism is the file, exactly like
the reference's per-blob consumer loop. A parquet conversion of a
single file runs the same per-file generator in the driver process
(`convert_avro_to_parquet`): one file is one task either way, and the
driver skips the job launch and the Python worker.

Per-tier decode rate, one file to columns, on the CDC envelope of
`bench.write_avro_fixture` (first 40k records: 7.35 MB uncompressed,
deflate; one core of a 4-vCPU x86 host, best of 3):

    C kernel (avro_ckernel)             103   MB/s
    numpy wavefront (retired)            14.7 MB/s
    closure tree (this module)            4.6 MB/s

The numpy tier ran only where no compiler was present, and then only
on files of 8+ blocks, so it was removed. Without a compiler every file
takes the closure tree, and each worker process logs that once.

The writer exists to build golden fixtures shaped like the reference's
test corpus (dump/insert/update/delete/update-pk.avro, FIXTURES.md F1).
"""

from __future__ import annotations

import io
import json
import os
import struct
import zlib
from decimal import Decimal

import numpy as np

MAGIC = b"Obj\x01"
SYNC = b"\x00\x01\x02\x03\x04\x05\x06\x07\x08\x09\x0a\x0b\x0c\x0d\x0e\x0f"


# ---------------------------------------------------------------- binary io

class _Decoder:
    def __init__(self, buf: bytes):
        self.buf = buf
        self.pos = 0

    def read(self, n: int) -> bytes:
        b = self.buf[self.pos:self.pos + n]
        if len(b) != n:
            raise EOFError("truncated Avro data")
        self.pos += n
        return b

    def long(self) -> int:  # zigzag varint
        shift, acc = 0, 0
        while True:
            if self.pos >= len(self.buf):
                raise EOFError("truncated Avro data")
            b = self.buf[self.pos]
            self.pos += 1
            acc |= (b & 0x7F) << shift
            if not b & 0x80:
                break
            shift += 7
        return (acc >> 1) ^ -(acc & 1)

    def bytes_(self) -> bytes:
        return self.read(self.long())

    def string(self) -> str:
        return self.bytes_().decode("utf-8")

    def boolean(self) -> bool:
        return self.read(1) != b"\x00"

    def double(self) -> float:
        return struct.unpack("<d", self.read(8))[0]

    def float_(self) -> float:
        return struct.unpack("<f", self.read(4))[0]


class _Encoder:
    def __init__(self):
        self.out = io.BytesIO()

    def long(self, v: int) -> None:
        v = (v << 1) ^ (v >> 63)  # zigzag (arbitrary-precision-safe)
        if v < 0:
            v &= (1 << 64) - 1
        while True:
            b = v & 0x7F
            v >>= 7
            if v:
                self.out.write(bytes([b | 0x80]))
            else:
                self.out.write(bytes([b]))
                return

    def bytes_(self, b: bytes) -> None:
        self.long(len(b))
        self.out.write(b)

    def string(self, s: str) -> None:
        self.bytes_(s.encode("utf-8"))

    def boolean(self, v: bool) -> None:
        self.out.write(b"\x01" if v else b"\x00")

    def double(self, v: float) -> None:
        self.out.write(struct.pack("<d", v))

    def float_(self, v: float) -> None:
        self.out.write(struct.pack("<f", v))

    def raw(self, b: bytes) -> None:
        self.out.write(b)

    def value(self) -> bytes:
        return self.out.getvalue()


# ---------------------------------------------------------------- values

def _decimal_from_bytes(raw: bytes, scale: int) -> Decimal:
    unscaled = int.from_bytes(raw, "big", signed=True)
    return Decimal(unscaled).scaleb(-scale)


def _decimal_to_bytes(v: Decimal, scale: int) -> bytes:
    unscaled = int(v.scaleb(scale).to_integral_value())
    n = max(1, (unscaled.bit_length() + 8) // 8)
    return unscaled.to_bytes(n, "big", signed=True)


def decode_value(schema, dec: _Decoder):
    if isinstance(schema, str):
        return {
            "null": lambda: None, "boolean": dec.boolean, "int": dec.long,
            "long": dec.long, "float": dec.float_, "double": dec.double,
            "bytes": dec.bytes_, "string": dec.string,
        }[schema]()
    if isinstance(schema, list):  # union: branch index then value
        return decode_value(schema[dec.long()], dec)
    t = schema["type"]
    logical = schema.get("logicalType")
    if t in ("bytes", "fixed") and logical == "decimal":
        raw = dec.bytes_() if t == "bytes" else dec.read(schema["size"])
        return _decimal_from_bytes(raw, schema.get("scale", 0))
    if t == "fixed":  # plain fixed (no logical type) -> raw bytes,
        # matching avro_mapping's fixed -> BinaryType
        return dec.read(schema["size"])
    if isinstance(t, (list, dict)):
        return decode_value(t, dec)
    if t == "record":
        return {f["name"]: decode_value(f["type"], dec)
                for f in schema["fields"]}
    if t == "array":
        out = []
        while True:
            n = dec.long()
            if n == 0:
                return out
            if n < 0:  # block with byte size prefix
                n = -n
                dec.long()
            for _ in range(n):
                out.append(decode_value(schema["items"], dec))
    if t == "map":
        out = {}
        while True:
            n = dec.long()
            if n == 0:
                return out
            if n < 0:
                n = -n
                dec.long()
            for _ in range(n):
                k = dec.string()  # key MUST be read before the value
                out[k] = decode_value(schema["values"], dec)
    if t == "enum":
        return schema["symbols"][dec.long()]
    return decode_value(t, dec)  # named/annotated primitive


def encode_value(schema, v, enc: _Encoder) -> None:
    if isinstance(schema, str):
        if schema == "null":
            return
        {"boolean": enc.boolean, "int": enc.long, "long": enc.long,
         "float": enc.float_, "double": enc.double, "bytes": enc.bytes_,
         "string": enc.string,
         }[schema](v)
        return
    if isinstance(schema, list):
        for i, branch in enumerate(schema):
            kind = branch if isinstance(branch, str) else branch["type"]
            if (v is None) == (kind == "null"):
                if v is None or not isinstance(branch, str):
                    enc.long(i)
                    encode_value(branch, v, enc)
                    return
                # prefer the branch matching the python type
                if kind == "string" and isinstance(v, str):
                    enc.long(i)
                    enc.string(v)
                    return
                if kind in ("long", "int") and isinstance(v, int) \
                        and not isinstance(v, bool):
                    enc.long(i)
                    enc.long(v)
                    return
                if kind not in ("string", "long", "int"):
                    enc.long(i)
                    encode_value(branch, v, enc)
                    return
        raise ValueError(f"no union branch for {v!r} in {schema!r}")
    t = schema["type"]
    if t == "bytes" and schema.get("logicalType") == "decimal":
        enc.bytes_(_decimal_to_bytes(v, schema.get("scale", 0)))
        return
    if t == "record":
        for f in schema["fields"]:
            encode_value(f["type"], v.get(f["name"]), enc)
        return
    if t == "array":
        if v:
            enc.long(len(v))
            for item in v:
                encode_value(schema["items"], item, enc)
        enc.long(0)
        return
    if t == "map":
        if v:
            enc.long(len(v))
            for k, item in v.items():
                enc.string(k)
                encode_value(schema["values"], item, enc)
        enc.long(0)
        return
    if t == "enum":
        enc.long(schema["symbols"].index(v))
        return
    encode_value(t, v, enc)


# ---------------------------------------------------------------- container

def _compile_reader(schema):
    """Compile an Avro schema into a closure tree — one reader
    function per schema node — so record decode pays zero per-value
    schema interpretation (decode_value re-walks the schema dict and
    isinstance-dispatches for EVERY value; at ~25 values/record that
    interpretation dominates the ingest path). Identical decode
    semantics; decode_value stays as the straightforward reference the
    roundtrip property tests cross-check."""
    if isinstance(schema, str):
        return {
            "null": lambda d: None, "boolean": _Decoder.boolean,
            "int": _Decoder.long, "long": _Decoder.long,
            "float": _Decoder.float_, "double": _Decoder.double,
            "bytes": _Decoder.bytes_, "string": _Decoder.string,
        }[schema]
    if isinstance(schema, list):  # union: branch index then value
        branches = [_compile_reader(s) for s in schema]

        def union(d, _b=branches):
            return _b[d.long()](d)
        return union
    t = schema["type"]
    logical = schema.get("logicalType")
    if t in ("bytes", "fixed") and logical == "decimal":
        scale = schema.get("scale", 0)
        if t == "bytes":
            return lambda d: _decimal_from_bytes(d.bytes_(), scale)
        size = schema["size"]
        return lambda d: _decimal_from_bytes(d.read(size), scale)
    if t == "fixed":
        size = schema["size"]
        return lambda d: d.read(size)
    if isinstance(t, (list, dict)):
        return _compile_reader(t)
    if t == "record":
        fields = [(f["name"], _compile_reader(f["type"]))
                  for f in schema["fields"]]

        def record(d, _f=fields):
            return {n: fn(d) for n, fn in _f}
        return record
    if t == "array":
        item = _compile_reader(schema["items"])

        def array(d, _i=item):
            out = []
            append = out.append
            while True:
                n = d.long()
                if n == 0:
                    return out
                if n < 0:  # block with byte size prefix
                    n = -n
                    d.long()
                # items consume >= 1 byte each: a count beyond the
                # remaining bytes is corrupt, and unguarded a crafted
                # huge count would spin this loop ~2^63 times
                if n > len(d.buf) - d.pos:
                    raise ValueError(
                        f"corrupt Avro array block: {n} items with "
                        f"{len(d.buf) - d.pos} bytes left")
                for _ in range(n):
                    append(_i(d))
        return array
    if t == "map":
        val = _compile_reader(schema["values"])

        def map_(d, _v=val):
            out = {}
            while True:
                n = d.long()
                if n == 0:
                    return out
                if n < 0:
                    n = -n
                    d.long()
                if n > len(d.buf) - d.pos:  # see array: DoS guard
                    raise ValueError(
                        f"corrupt Avro map block: {n} entries with "
                        f"{len(d.buf) - d.pos} bytes left")
                for _ in range(n):
                    k = d.string()  # key MUST be read before the value
                    out[k] = _v(d)
        return map_
    if t == "enum":
        syms = schema["symbols"]
        return lambda d: syms[d.long()]
    return _compile_reader(t)  # named/annotated primitive


#: compiled readers keyed by the file's raw schema JSON (executors see
#: a handful of distinct envelopes; the cache makes compilation
#: once-per-schema, not once-per-file)
_READER_CACHE: dict[bytes, object] = {}


def _reader_for(schema_json: bytes, schema) -> object:
    reader = _READER_CACHE.get(schema_json)
    if reader is None:
        reader = _compile_reader(schema)
        _READER_CACHE[schema_json] = reader
    return reader


def _read_header(raw: bytes) -> tuple[dict, _Decoder]:
    """Parse the OCF header: (metadata map, decoder positioned at the
    header's sync marker). The one header parser every reader uses."""
    dec = _Decoder(raw)
    if dec.read(4) != MAGIC:
        raise ValueError("not an Avro object-container file")
    meta = {}
    while True:
        n = dec.long()
        if n == 0:
            break
        if n < 0:
            n = -n
            dec.long()
        for _ in range(n):
            k = dec.string()  # key MUST be read before the value
            meta[k] = dec.bytes_()
    return meta, dec


def _blocks(meta: dict, dec: _Decoder):
    """Yield (record count, decompressed bytes) per data block after the
    header, checking each block's trailing sync marker."""
    codec = meta.get("avro.codec", b"null").decode()
    sync = dec.read(16)
    while dec.pos < len(dec.buf):
        count = dec.long()
        size = dec.long()
        block = dec.read(size)
        if codec == "deflate":
            block = zlib.decompress(block, -15)
        elif codec != "null":
            raise ValueError(f"unsupported Avro codec {codec!r}")
        # records consume >= 1 byte each: bound the per-block record
        # loop by the block's bytes so a crafted huge count cannot
        # spin it ~2^63 times or size count-sized output allocations
        # (executor CPU/memory DoS; the zero-width schemas this would
        # reject — empty records — carry no data anyway)
        if count < 0 or count > len(block):
            raise ValueError(
                f"corrupt Avro block: {count} records in "
                f"{len(block)} bytes")
        yield count, block
        if dec.read(16) != sync:
            raise ValueError("sync marker mismatch")


def read_ocf_schema(raw: bytes) -> dict:
    """Writer schema from the OCF header alone — no block decode.

    The reader-construction peek (`read_avro_changes` with
    avro_schema=None) only needs the schema; decoding the whole first
    blob for it cost ~4 s per plan on a 22 MB change file (measured:
    4.3 s construct vs 0.95 s for the entire 700 MB decode job)."""
    return json.loads(_read_header(raw)[0]["avro.schema"])


def scan_blocks(raw: bytes):
    """Parse the OCF header and decompress every block.

    Returns ``(meta, counts, datas)`` where ``counts[i]`` records and
    ``datas[i]`` bytes form block *i*.
    """
    meta, dec = _read_header(raw)
    counts, datas = [], []
    for count, block in _blocks(meta, dec):
        counts.append(count)
        datas.append(block)
    return meta, counts, datas


def read_ocf(raw: bytes) -> tuple[dict, list[dict]]:
    """Parse one Avro object-container file -> (schema, records)."""
    meta, dec = _read_header(raw)
    schema = json.loads(meta["avro.schema"])
    reader = _reader_for(meta["avro.schema"], schema)
    records: list[dict] = []
    append = records.append
    for count, block in _blocks(meta, dec):
        bdec = _Decoder(block)
        for _ in range(count):
            append(reader(bdec))
    return schema, records


def write_ocf(schema: dict, records: list[dict], codec: str = "deflate",
              sync_interval: int = 64 * 1024) -> bytes:
    """Serialize records into an Avro object-container file.

    Like the stock Avro ``DataFileWriter``, a block is flushed whenever
    the pending encoded bytes reach ``sync_interval`` (Java default
    64 KiB) — multi-block files are what real writers produce.
    ``sync_interval <= 0`` forces a single block."""
    enc = _Encoder()
    enc.raw(MAGIC)
    meta = {"avro.schema": json.dumps(schema).encode(),
            "avro.codec": codec.encode()}
    enc.long(len(meta))
    for k, v in meta.items():
        enc.string(k)
        enc.bytes_(v)
    enc.long(0)
    enc.raw(SYNC)

    def flush(count: int, body: bytes) -> None:
        if codec == "deflate":
            body = zlib.compress(body)[2:-4]  # raw deflate, no wrapper
        elif codec != "null":
            raise ValueError(f"unsupported Avro codec {codec!r}")
        enc.long(count)
        enc.long(len(body))
        enc.raw(body)
        enc.raw(SYNC)

    body = _Encoder()
    pending = 0
    for r in records:
        encode_value(schema, r, body)
        pending += 1
        if sync_interval > 0 and len(body.out.getbuffer()) >= sync_interval:
            flush(pending, body.value())
            body = _Encoder()
            pending = 0
    if pending or not records:
        flush(pending, body.value())
    return enc.value()


# ------------------------------------------------------- spark integration

def _unwrap_nullable(schema):
    if isinstance(schema, list):
        non_null = [s for s in schema if s != "null"]
        if len(non_null) == 1:
            return non_null[0]
    return schema


def _converter(avro_schema):
    """Per-field pandas conversion for logical types after raw decode."""
    s = _unwrap_nullable(avro_schema)
    if isinstance(s, dict):
        lt = s.get("logicalType")
        if lt in ("timestamp-millis", "local-timestamp-millis"):
            return lambda col: _pd().to_datetime(col, unit="ms")
        if lt in ("timestamp-micros", "local-timestamp-micros"):
            return lambda col: _pd().to_datetime(col, unit="us")
    return None


def _pd():
    import pandas as pd
    return pd


def _num_sort_key(v, pos: int, fpath: str):
    """Coerce one sort-key entry to long for a numeric output position
    (union[string,long] — a string branch carrying digits is fine; a
    non-numeric string at a numeric position cannot be ordered and gets
    a descriptive error instead of a bare int() traceback)."""
    if v is None:
        return None
    try:
        return int(v)
    except (TypeError, ValueError):
        raise ValueError(
            f"{fpath}: sort_keys[{pos}] = {v!r} is a non-numeric string "
            f"at a numeric sort-key position — CDC ordering needs a "
            f"long here; fix the producer or remap sort columns") from None


def _arrow_decode_plan(spark, path, columns=None, avro_schema=None,
                       decoder: str = "auto"):
    """Shared decode-plan builder: (bin_df, decode generator, Spark
    out_schema). `read_avro_changes` maps the generator into a
    DataFrame; `convert_avro_to_parquet` wraps it to write parquet in
    the worker without ever materializing JVM rows (a one-file
    conversion runs `_decode_plan`'s generator in the driver instead).

    Decode is the C kernel of `avro_ckernel` whenever it is available
    and the file's schema is inside its subset — columns flow from the
    block bytes into Arrow buffers without building Python row objects
    — and falls back to the closure-tree decoder per file otherwise.
    Both paths emit identical Arrow batches (pinned by
    tests/test_avro_source.py).

    The reader schema is `avro_schema` (the registry-described envelope,
    the reference's source of truth after a schema_key change) or, when
    omitted, the first file's header (one-file driver peek, like Spark's
    JSON inference), mapped through schema.avro_mapping (T1). Without a
    `columns` projection, a record carrying payload fields absent from
    the reader schema raises instead of silently dropping the new
    columns — that is the drift signal to re-describe and re-read
    (reference: schema_key change -> re-describe,
    DatastreamEventReader.java:652-674).

    ``decoder`` pins the per-file decode path: "auto" (C kernel when
    available, else the closure tree, per file), "ckernel"/"scalar"
    (that tier only — raise instead of falling back; the equivalence
    tests diff the tiers).
    """
    bin_df = spark.read.format("binaryFile").load(path)
    if avro_schema is None:
        head = bin_df.select("content").head()
        if head is None:
            raise ValueError(f"no Avro files under {path!r}")
        avro_schema = read_ocf_schema(bytes(head[0]))
    decode, out_schema = _decode_plan(avro_schema, columns, decoder)
    return bin_df, decode, out_schema


def _decode_plan(schema, columns=None, decoder: str = "auto"):
    """(decode generator, Spark out_schema) for reader schema ``schema``:
    the part of `_arrow_decode_plan` that needs no Spark session, so a
    driver-side conversion runs the same generator without a scan."""
    if decoder not in ("auto", "scalar", "ckernel"):
        raise ValueError(f"unknown decoder {decoder!r}")
    from pyspark.sql import types as T

    from ..schema.avro_mapping import avro_to_spark
    from .changes import META_COLS, payload_output_name

    by_name = {f["name"]: f["type"] for f in schema["fields"]}
    payload_schema = _unwrap_nullable(by_name["payload"])
    payload_fields = [(f["name"], f["type"])
                      for f in payload_schema["fields"]]
    if columns:
        keep = set(columns)
        payload_fields = [(n, t) for n, t in payload_fields if n in keep]

    meta_names = ["uuid", "read_timestamp", "source_timestamp", "object",
                  "read_method", "stream_name", "schema_key"]
    sm_names = ["schema", "table", "database", "row_id", "scn", "is_deleted",
                "change_type", "ssn", "rs_id", "tx_id", "log_file"]
    sm_out = ["src_schema", "src_table", "src_database", "row_id", "scn",
              "is_deleted", "change_type", "ssn", "rs_id", "tx_id",
              "log_file"]
    # the Avro and parquet readers MUST emit identical frames for
    # operators/cdc.py — guard against a changes.py/envelope.py rename
    # that this hardcoded list misses
    assert tuple(meta_names + sm_out) == META_COLS, \
        "avro reader column list desynchronized from changes.META_COLS"

    # payload names collide-proofed against the envelope outputs (same
    # policy as flatten_envelope; Spark resolves case-insensitively)
    payload_out = [(n, payload_output_name(n), t)
                   for n, t in payload_fields]

    out_fields = [T.StructField(n, avro_to_spark(by_name[n]))
                  for n in meta_names]
    sm_schema = {f["name"]: f["type"]
                 for f in _unwrap_nullable(by_name["source_metadata"])["fields"]}
    out_fields += [T.StructField(o, avro_to_spark(sm_schema[n]))
                   for n, o in zip(sm_names, sm_out)]
    out_fields += [T.StructField(k, T.LongType() if k != "_sk3"
                                 else T.StringType())
                   for k in ("_sk1", "_sk2", "_sk3", "_sk4")]
    out_fields += [T.StructField(o, avro_to_spark(t))
                   for _, o, t in payload_out]
    out_fields += [T.StructField("_source_file", T.StringType())]
    # T3 normalization (_op, _is_snapshot) is computed IN the worker,
    # vectorized over the Arrow batch: as a JVM projection above the
    # Python node it re-materialized every row (no whole-stage codegen
    # over a PythonMapInArrow child) and measured ~3x the entire
    # decode; two pyarrow.compute kernels are ~free
    out_fields += [T.StructField("_op", T.StringType()),
                   T.StructField("_is_snapshot", T.BooleanType())]
    out_schema = T.StructType(out_fields)

    meta_conv = {n: _converter(by_name[n]) for n in meta_names}
    payload_conv = {o: _converter(t) for _, o, t in payload_out}
    # payload fields DECLARED StringType whose union admits non-string
    # branches (e.g. ["null","string","long"], mapped to StringType by
    # avro_mapping's cast-on-use rule) decode to Python ints — coerce
    # at append time or the Arrow batch conversion rejects the column
    str_payload = {o for _, o, t in payload_out
                   if isinstance(avro_to_spark(t), T.StringType)}

    # payload fields the reader schema knows about, BEFORE projection:
    # drift detection must not fire on an intentional column subset
    known_payload = {f["name"] for f in payload_schema["fields"]}
    strict = columns is None

    import pyarrow as pa

    from . import avro_ckernel

    # target Arrow schema: Spark's own mapping of out_schema, with
    # naive timestamps — both decode paths produce epoch-derived wall
    # values exactly like the historical pandas path did
    from pyspark.sql.pandas.types import to_arrow_schema
    target = to_arrow_schema(out_schema)
    target = pa.schema([
        f.with_type(pa.timestamp(f.type.unit))
        if pa.types.is_timestamp(f.type) else f for f in target])
    # decoders fill `base` (the file-derived columns); _with_ops
    # derives the two T3 columns from the finished batch
    base = pa.schema([f for f in target
                      if f.name not in ("_op", "_is_snapshot")])

    from ..envelope import SNAPSHOT_FILE_MARKER

    def _with_ops(batch):
        """Append _op/_is_snapshot (sources.changes.normalize_ops
        semantics, bit-for-bit: snapshot rows are INSERT, PK-update
        pairs normalize to DELETE + UPDATE, null change_type on a
        non-snapshot row stays null)."""
        import pyarrow.compute as pc
        rm = batch.column(base.get_field_index("read_method"))
        ct = batch.column(base.get_field_index("change_type"))
        is_snap = pc.fill_null(
            pc.match_substring(rm, SNAPSHOT_FILE_MARKER), False)
        ctu = pc.utf8_upper(ct)

        def eq(a, v):
            return pc.fill_null(pc.equal(a, v), False)

        op = pc.if_else(
            is_snap, pa.scalar("INSERT", pa.string()),
            pc.if_else(eq(ctu, "UPDATE-DELETE"),
                       pa.scalar("DELETE", pa.string()),
                       pc.if_else(eq(ctu, "UPDATE-INSERT"),
                                  pa.scalar("UPDATE", pa.string()), ctu)))
        return pa.RecordBatch.from_arrays(
            batch.columns + [op, is_snap], schema=target)

    def check_drift(fschema, fpath):
        if not strict:
            return
        fp = _unwrap_nullable(
            {f["name"]: f["type"] for f in fschema["fields"]}["payload"])
        unknown = {f["name"] for f in fp["fields"]} - known_payload
        if unknown:
            raise ValueError(
                f"{fpath}: payload fields {sorted(unknown)} "
                f"are not in the reader schema — schema "
                f"drift; re-describe the table and re-read "
                f"with the evolved schema")

    def decode_scalar(fpath, raw):
        """Closure-tree fallback: one pandas frame for one file."""
        pd = _pd()
        cols: dict[str, list] = {f.name: [] for f in base}
        fschema, records = read_ocf(raw)
        check_drift(fschema, fpath)
        for r in records:
            for n in meta_names:
                cols[n].append(r.get(n))
            sm = r.get("source_metadata") or {}
            for n, o in zip(sm_names, sm_out):
                cols[o].append(sm.get(n))
            sk = r.get("sort_keys") or [None] * 4
            sk = list(sk) + [None] * (4 - len(sk))
            # sort_keys is array<union[string,long]>: either
            # branch is legal at ANY position, so coerce to the
            # output column types (long/long/string/long) — a
            # string-branch "20" at position 1 must not poison
            # the Arrow batch. A string that is NOT numeric at
            # a numeric position cannot be ordered as a long;
            # fail with the file/position, not a bare int()
            # traceback (same style as the drift error above).
            cols["_sk1"].append(_num_sort_key(sk[0], 0, fpath))
            cols["_sk2"].append(_num_sort_key(sk[1], 1, fpath))
            cols["_sk3"].append(None if sk[2] is None else str(sk[2]))
            cols["_sk4"].append(_num_sort_key(sk[3], 3, fpath))
            p = r.get("payload") or {}
            for n, o, _t in payload_out:
                v = p.get(n)
                if v is not None and o in str_payload \
                        and not isinstance(v, str):
                    v = str(v)  # non-string union branch
                cols[o].append(v)
            cols["_source_file"].append(fpath)
        # map fields skip pandas: its inference reads a dict column
        # as a struct, which Arrow cannot cast to a map
        maps = {f.name: pa.array(
            [None if v is None else list(v.items()) for v in cols.pop(
                f.name)], f.type) for f in base if pa.types.is_map(f.type)}
        out = pd.DataFrame(cols)
        for n, conv in {**meta_conv, **payload_conv}.items():
            if conv is not None and n in out.columns:
                out[n] = conv(out[n])
        tbl = pa.Table.from_pandas(out, preserve_index=False)
        return _with_ops(pa.RecordBatch.from_arrays(
            [maps[f.name] if f.name in maps else
             _to_target(tbl.column(f.name).combine_chunks(), f.type)
             for f in base], schema=base))

    def _to_target(arr, typ):
        """Cast one decoded column to its target Arrow type."""
        if isinstance(arr, np.ndarray):  # decimal objects
            return pa.array(arr, type=typ, from_pandas=True)
        if arr.type.equals(typ):
            return arr
        if pa.types.is_date32(typ) and pa.types.is_integer(arr.type):
            return arr.cast(pa.int32()).cast(typ)
        return arr.cast(typ)

    def _sk_cols(sk, fpath, n):
        """Split the sort_keys list column into _sk1.._sk4 (positions
        0/1/3 long, 2 string — Oracle key order, SURVEY §1.3)."""
        import pyarrow.compute as pc
        offs, valid, items = sk["offsets"], sk["valid"], sk["items"]
        counts = np.diff(offs)
        out = []
        for j, numeric in ((0, True), (1, True), (2, False), (3, True)):
            present = valid & (counts > j)
            if not present.any() or len(items) == 0:
                out.append(pa.nulls(n, pa.int64() if numeric
                                    else pa.string()))
                continue
            idx = np.minimum(offs[:-1] + j, len(items) - 1)
            col = items.take(pa.array(idx, pa.int64(), mask=~present))
            if numeric:
                try:
                    col = pc.cast(col, pa.int64())
                except pa.ArrowInvalid:
                    # locate the offender for the contract error message
                    for rid, v in enumerate(col.to_pylist()):
                        if v is not None:
                            _num_sort_key(v, j, fpath)
                    raise
            out.append(col)
        return out

    def _list_column(shape):
        """The kernel's {offsets, valid, items} array shape as an Arrow
        list column; items the kernel hands over as anything but an
        Arrow array (decimals) take the closure tree."""
        items = shape["items"]
        if not isinstance(items, pa.Array):
            raise avro_ckernel.Unsupported("array of non-Arrow items")
        return pa.ListArray.from_arrays(
            pa.array(shape["offsets"], pa.int32()), items,
            mask=pa.array(~shape["valid"]))

    def _assemble(fpath, fschema, n, fin):
        check_drift(fschema, fpath)
        # a field in the READER schema but absent from this file's
        # writer schema (registry re-describe after drift) reads as
        # all-null — the same evolution rule the row path applies via
        # .get()
        arrays = {}
        for name in meta_names:
            arrays[name] = fin.get(name)
        sm = fin.get("source_metadata") or {}
        for name, o in zip(sm_names, sm_out):
            arrays[o] = sm.get(name)
        sk = fin.get("sort_keys")
        if sk is None:
            sk1 = sk2 = sk4 = pa.nulls(n, pa.int64())
            sk3 = pa.nulls(n, pa.string())
        else:
            sk1, sk2, sk3, sk4 = _sk_cols(sk, fpath, n)
        arrays.update({"_sk1": sk1, "_sk2": sk2,
                       "_sk3": sk3, "_sk4": sk4})
        p = fin.get("payload") or {}
        for name, o, _t in payload_out:
            arrays[o] = p.get(name)
            if isinstance(arrays[o], dict):  # an array field's shape
                arrays[o] = _list_column(arrays[o])
        arrays["_source_file"] = pa.array([fpath] * n, pa.string())
        return _with_ops(pa.RecordBatch.from_arrays(
            [pa.nulls(n, f.type) if arrays[f.name] is None
             else _to_target(arrays[f.name], f.type) for f in base],
            schema=base))

    def decode_ckernel(fpath, raw):
        """Native tier: the ctypes C block decoder (avro_ckernel)."""
        return _assemble(fpath, *avro_ckernel.decode_columnar(raw))

    def decode_one(fpath, raw):
        if decoder == "scalar":
            return decode_scalar(fpath, raw)
        if decoder == "ckernel":
            return decode_ckernel(fpath, raw)
        try:
            return decode_ckernel(fpath, raw)
        except avro_ckernel.Unsupported:
            return decode_scalar(fpath, raw)

    def decode_files(batches):
        """(fpath, RecordBatch) per input file — the path rides beside
        the batch so consumers handle zero-row files (whose
        _source_file column is empty)."""
        for batch in batches:
            paths = batch.column(0).to_pylist()
            contents = batch.column(1)
            for fpath, cell in zip(paths, contents):
                yield fpath, decode_one(fpath, cell.as_py())

    def decode(batches):
        for _fpath, out in decode_files(batches):
            yield out

    decode.per_file = decode_files
    return decode, out_schema


def read_avro_changes(spark, path: str, columns=None, avro_schema=None,
                      decoder: str = "auto"):
    """Distributed Avro change-file ingestion: binaryFile scan ->
    mapInArrow decode -> the flattened change schema of
    sources.changes (FIXTURES.md F1), plus `_source_file` for
    snapshot/CDC classification.

    Decode is per file: the native opcode decoder (avro_ckernel) when a
    compiler is available and the schema is inside its subset, else the
    closure tree — both emit identical Arrow batches (pinned by
    tests/test_avro_source.py). T3 normalization (_op,
    _is_snapshot) is computed vectorized inside the worker's batch.

    The reader schema is `avro_schema` (the registry-described envelope,
    the reference's source of truth after a schema_key change) or, when
    omitted, the first file's header (header-only driver peek, like
    Spark's JSON inference), mapped through schema.avro_mapping (T1).
    Without a `columns` projection, a record carrying payload fields
    absent from the reader schema raises instead of silently dropping
    the new columns — that is the drift signal to re-describe and
    re-read (reference: schema_key change -> re-describe,
    DatastreamEventReader.java:652-674).

    ``decoder`` pins the per-file decode path: "auto" (C kernel when
    available, else the closure tree, per file), "ckernel"/"scalar"
    (that tier only — raise instead of falling back; the equivalence
    tests diff the tiers).
    """
    bin_df, decode, out_schema = _arrow_decode_plan(
        spark, path, columns=columns, avro_schema=avro_schema,
        decoder=decoder)
    return (bin_df.select("path", "content")
                  .mapInArrow(decode, out_schema))


class ConvertedFiles(list):
    """`convert_avro_to_parquet`'s manifest rows, plus ``schema``: the
    Spark schema its parquet files read back with."""

    def __init__(self, rows, schema):
        super().__init__(rows)
        self.schema = schema


def _one_local_file(spark, path) -> str | None:
    """The absolute local path when ``path`` (a string or a one-entry
    list) names exactly one regular file on the driver's filesystem
    and Spark resolves it there too (a path without a scheme resolves
    against ``fs.defaultFS``, so the default filesystem must be the
    local one); None for directories, globs, several paths and URIs."""
    if isinstance(path, (list, tuple)):
        if len(path) != 1:
            return None
        path = path[0]
    if not isinstance(path, str) or ":" in path.split("/", 1)[0]:
        return None  # a URI scheme: Spark resolves it
    default_fs = spark.sparkContext._jsc.hadoopConfiguration().get(
        "fs.defaultFS") or "file:///"
    if not default_fs.startswith("file:"):
        return None
    return os.path.abspath(path) if os.path.isfile(path) else None


def _read_back_schema(out_schema):
    """``out_schema`` as Spark reads the converted parquet: the writer
    stamps top-level naive timestamps UTC (TimestampNTZ reads back as
    TIMESTAMP), and a file source makes every field nullable."""
    from pyspark.sql import types as T
    return T.StructType([
        T.StructField(f.name, T.TimestampType()
                      if isinstance(f.dataType, T.TimestampNTZType)
                      else f.dataType, True)
        for f in out_schema.fields])


def convert_avro_to_parquet(spark, path, out_dir: str, columns=None,
                            avro_schema=None,
                            compression: str = "snappy") -> ConvertedFiles:
    """Decode-once Avro -> parquet conversion that never materializes a
    JVM row: each file is decoded to ONE Arrow batch and written to
    parquet with pyarrow directly (timestamps stamped UTC so the files
    read back with the exact schema Spark's own writer would produce).
    Skipping the Arrow->InternalRow->parquet round trip is the
    conversion-path analog of the worker-side T3 normalization: the
    decode itself stopped being the bound once the rows did.

    Where the conversion runs depends on the file count alone:

      - exactly one local file (a path, or a one-entry list, naming a
        regular file) converts in the calling process. Spark's plan
        would be one task anyway, because binaryFile never splits a
        file, and that task pays a job launch plus a Python worker
        start for no parallelism. The driver reads the bytes once,
        takes the reader schema from their header, and feeds them
        through the same per-file generator a worker runs, so the
        parquet bytes and the manifest row (``source_file`` is
        binaryFile's ``file:`` path) are the same as the distributed
        path's;
      - anything else (several files, a directory, a glob, a URI, or
        any path when ``fs.defaultFS`` is not the local filesystem) is
        a binaryFile scan -> mapInArrow job, one task per file
        — at 100 TB the unit of parallelism is the file — and only a
        per-file manifest row crosses back to the driver.

    The one-file side of this rule is measured (perfbench cdc-steady:
    every batch there is one file). The multi-file side is not: no
    workload converts a backlog, so whether the driver would also win
    for a few local files, and where the crossover lies, is unknown.

    The output file name is a digest of the source path, so a crashed
    conversion's retry overwrites its own partial files (the same
    idempotence rule as the landing's batch dirs).

    ``out_dir`` must be visible to every executor and to the driver
    (shared filesystem locally; on a cluster, a fuse mount or a
    pyarrow.fs URI — pyarrow's parquet writer speaks GCS/S3/HDFS
    natively, so pointing this at an object store is a
    filesystem-handle change, not a redesign).

    Returns the manifest [{"source_file", "file", "n_rows"}], one row
    per converted file, as a `ConvertedFiles` whose ``schema`` is the
    Spark schema the written parquet reads back with (no read needed).
    """
    import pyarrow as pa

    local = _one_local_file(spark, path)
    if local is not None:
        with open(local, "rb") as f:
            raw = f.read()
        decode, out_schema = _decode_plan(
            avro_schema if avro_schema is not None
            else read_ocf_schema(raw), columns)
    else:
        bin_df, decode, out_schema = _arrow_decode_plan(
            spark, path, columns=columns, avro_schema=avro_schema)
    os.makedirs(out_dir, exist_ok=True)

    def convert(batches):
        import hashlib as _hl

        import pyarrow as _pa
        import pyarrow.parquet as _pq
        for src, batch in decode.per_file(batches):
            # Spark writes TimestampType as UTC-adjusted micros; stamp
            # the naive decode columns the same way so mixed-writer
            # landings merge under one schema
            cols, fields = [], []
            for f, col in zip(batch.schema, batch.columns):
                if _pa.types.is_timestamp(f.type) and f.type.tz is None:
                    t = _pa.timestamp(f.type.unit, tz="UTC")
                    col, f = col.cast(t), f.with_type(t)
                cols.append(col)
                fields.append(f)
            name = _hl.sha256(src.encode()).hexdigest()[:20] + ".parquet"
            # write-then-rename: a streaming consumer listing the
            # batch dir must never open a half-written file (Spark's
            # own writer gets this from its _temporary rename; an
            # object-store PUT is atomic by itself)
            tmp = os.path.join(out_dir, "." + name + ".tmp")
            _pq.write_table(
                _pa.Table.from_arrays(cols, schema=_pa.schema(fields)),
                tmp, compression=compression)
            os.replace(tmp, os.path.join(out_dir, name))
            yield _pa.RecordBatch.from_arrays(
                [_pa.array([src], _pa.string()),
                 _pa.array([name], _pa.string()),
                 _pa.array([batch.num_rows], _pa.int64())],
                names=["source_file", "file", "n_rows"])

    if local is not None:
        # binaryFile's path column: the Hadoop-qualified local path
        batch = pa.RecordBatch.from_arrays(
            [pa.array(["file:" + local], pa.string()),
             pa.array([raw], pa.binary())], names=["path", "content"])
        rows = [r for b in convert([batch]) for r in b.to_pylist()]
    else:
        from pyspark.sql import types as T
        manifest_schema = T.StructType([
            T.StructField("source_file", T.StringType()),
            T.StructField("file", T.StringType()),
            T.StructField("n_rows", T.LongType())])
        rows = [r.asDict() for r in bin_df.select("path", "content")
                .mapInArrow(convert, manifest_schema).collect()]
    return ConvertedFiles(rows, _read_back_schema(out_schema))
