"""Property-based tests (hypothesis) — beyond the reference's
fixture-only strategy (SURVEY §5: "no property-based/randomized
testing" there).

Two core invariants:
  1. Avro OCF codec roundtrip: decode(encode(x)) == x for arbitrary
     records over the envelope's type subset, both codecs.
  2. CDC merge order-invariance: the materialized state is identical
     for ANY arrival order of the same change events, and
     incremental batching (merge_batch over any partition of the
     stream) equals one-shot materialization — the property the
     reference's 3-day rescan window depends on.
"""

import datetime
from decimal import Decimal

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from datastream_delta_plugins_spark.sources import avro_ocf

RECORD_SCHEMA = {
    "type": "record", "name": "R", "fields": [
        {"name": "id", "type": "long"},
        {"name": "s", "type": ["null", "string"]},
        {"name": "b", "type": ["null", "boolean"]},
        {"name": "d", "type": ["null", "double"]},
        {"name": "raw", "type": ["null", "bytes"]},
        {"name": "dec", "type": ["null", {"type": "bytes",
                                          "logicalType": "decimal",
                                          "precision": 10, "scale": 3}]},
        {"name": "tags", "type": {"type": "array",
                                  "items": ["string", "long"]}},
        {"name": "props", "type": {"type": "map", "values": "long"}},
    ],
}

finite_doubles = st.floats(allow_nan=False, allow_infinity=False)
decimals = st.decimals(min_value=Decimal("-9999999.999"),
                       max_value=Decimal("9999999.999"),
                       places=3)

records = st.fixed_dictionaries({
    "id": st.integers(min_value=-(2 ** 63), max_value=2 ** 63 - 1),
    "s": st.none() | st.text(max_size=50),
    "b": st.none() | st.booleans(),
    "d": st.none() | finite_doubles,
    "raw": st.none() | st.binary(max_size=30),
    "dec": st.none() | decimals,
    "tags": st.lists(st.text(max_size=10)
                     | st.integers(min_value=-(2 ** 62),
                                   max_value=2 ** 62), max_size=5),
    "props": st.dictionaries(st.text(max_size=8),
                             st.integers(min_value=-(2 ** 62),
                                         max_value=2 ** 62), max_size=4),
})


@given(recs=st.lists(records, max_size=20),
       codec=st.sampled_from(["null", "deflate"]))
@settings(max_examples=60, deadline=None)
def test_ocf_roundtrip(recs, codec):
    raw = avro_ocf.write_ocf(RECORD_SCHEMA, recs, codec=codec)
    schema, back = avro_ocf.read_ocf(raw)
    assert back == recs


# --- CDC merge order-invariance -----------------------------------------

def _events_strategy():
    """Change events over a small pk space with unique sort keys."""
    ev = st.tuples(
        st.integers(min_value=0, max_value=5),               # pk
        st.sampled_from(["INSERT", "UPDATE", "DELETE"]),     # op
        st.text(alphabet="abc", min_size=1, max_size=3),     # val
    )
    return st.lists(ev, min_size=1, max_size=12)


@given(events=_events_strategy(),
       order=st.randoms(use_true_random=False),
       split_at=st.integers(min_value=0, max_value=12))
@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_merge_order_invariant(spark, events, order, split_at):
    from datastream_delta_plugins_spark.operators import cdc

    t0 = datetime.datetime(2024, 1, 1)
    rows = [(pk, op, val, 10 + i, i, "r", 0,
             t0 + datetime.timedelta(seconds=i), "oracle-cdc-logminer")
            for i, (pk, op, val) in enumerate(events)]
    schema = ("pk long, change_type string, val string, _sk1 long, "
              "_sk2 long, _sk3 string, _sk4 long, "
              "source_timestamp timestamp, read_method string")

    def materialize(rs):
        return {r["pk"]: (r["val"], r["_is_deleted"])
                for r in cdc.materialize(
                    spark.createDataFrame(rs, schema), ["pk"]).collect()}

    base = materialize(rows)

    shuffled = list(rows)
    order.shuffle(shuffled)
    assert materialize(shuffled) == base

    # incremental: batch 1 then merge batch 2 == one-shot
    split_at = min(split_at, len(rows))
    b1, b2 = shuffled[:split_at], shuffled[split_at:]
    if b1 and b2:
        from datastream_delta_plugins_spark.sources.changes import (
            normalize_ops)
        s1 = cdc.materialize(
            normalize_ops(spark.createDataFrame(b1, schema)), ["pk"],
            keep_sort_keys=True)
        merged = cdc.merge_batch(
            s1, normalize_ops(spark.createDataFrame(b2, schema)), ["pk"])
        got = {r["pk"]: (r["val"], r["_is_deleted"])
               for r in merged.collect()}
        assert got == base


# --- 3. fixed-point money-sum exactness ---

@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(
    st.tuples(
        st.decimals(min_value=Decimal("0"), max_value=Decimal("99999.9999"),
                    places=4),
        st.decimals(min_value=Decimal("0"), max_value=Decimal("1.0000"),
                    places=4)),
    min_size=1, max_size=12))
def test_sum_s4_matches_decimal_arithmetic(spark, pairs):
    """_sum_s4(_s4(a)*_s4(b), 8) == exact Decimal sum(a*b) for any
    non-negative money values with <= 4 decimal digits (the documented
    _s4 domain), and round(.,4) equals the singly-rounded Decimal —
    the invariant that keeps the fixed-point fast path hash-identical
    to the DuckDB oracle's native DECIMAL arithmetic."""
    from pyspark.sql import functions as F

    from datastream_delta_plugins_spark.operators.relational import (
        _s4, _sum_s4)
    rows = [(float(a), float(b)) for a, b in pairs]
    df = spark.createDataFrame(rows, "a double, b double")
    out = df.agg(
        _sum_s4(_s4("a") * _s4("b"), 8).alias("full"),
        F.round(_sum_s4(_s4("a") * _s4("b"), 8), 4)
         .cast("double").alias("r4")).first()
    exact = sum((a * b for a, b in pairs), Decimal(0))
    assert Decimal(out["full"]) == exact
    assert out["r4"] == float(exact.quantize(
        Decimal("0.0001"), rounding="ROUND_HALF_UP"))


# -- connected components == union-find, for arbitrary small graphs --

_edges_strategy = st.lists(
    st.tuples(st.integers(min_value=0, max_value=15),
              st.integers(min_value=0, max_value=15))
    .filter(lambda p: p[0] != p[1]),
    min_size=1, max_size=25)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(edges=_edges_strategy)
def test_connected_components_matches_union_find(spark, edges):
    from datastream_delta_plugins_spark.operators import dedup
    pairs = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in edges], "i bigint, j bigint")
    got = {r["id"]: r["component"] for r in
           dedup.connected_components(pairs, max_iter=10).collect()}

    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    # canonical label = min node id per union-find root
    roots: dict = {}
    for x in parent:
        roots.setdefault(find(x), []).append(x)
    want = {x: min(members) for r, members in roots.items()
            for x in members}
    assert got == want


# -- interval join == naive equi+filter join, arbitrary event sets --

_iv_events = st.lists(
    st.tuples(st.integers(min_value=0, max_value=3),      # key
              st.integers(min_value=0, max_value=5000)),  # epoch sec
    min_size=1, max_size=30)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(left=_iv_events, right=_iv_events,
       lo=st.integers(min_value=-120, max_value=120),
       span=st.integers(min_value=0, max_value=600))
def test_interval_join_matches_naive_property(spark, left, right, lo, span):
    import datetime as dt

    from pyspark.sql import functions as F

    from datastream_delta_plugins_spark.operators.temporal import (
        interval_join)
    base = dt.datetime(2024, 1, 1)

    def df(rows, tag):
        return spark.createDataFrame(
            [(k, base + dt.timedelta(seconds=s), f"{tag}{i}")
             for i, (k, s) in enumerate(rows)],
            "k bigint, ts timestamp, tag string")
    l, r = df(left, "l"), df(right, "r")
    hi = lo + span
    got = sorted((x["k"], x["tag"], x["rtag"]) for x in interval_join(
        l, r, on=["k"], lower_seconds=lo, upper_seconds=hi,
        right_cols={"tag": "rtag"}).collect())
    lsec = F.col("a.ts").cast("double")
    rsec = F.col("b.ts").cast("double")
    want = sorted((x["k"], x["tag"], x["rtag"]) for x in
                  l.alias("a").join(r.alias("b"), "k")
                   .where((rsec - lsec >= lo) & (rsec - lsec <= hi))
                   .select("k", "a.tag",
                           F.col("b.tag").alias("rtag")).collect())
    assert got == want


# -- deterministic split membership == python md5 reimplementation --

@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(ids=st.lists(st.integers(min_value=0, max_value=10 ** 12),
                    min_size=1, max_size=40, unique=True),
       cuts=st.tuples(st.integers(min_value=1, max_value=9998),
                      st.integers(min_value=1, max_value=9998)),
       salt=st.text(alphabet="abcxyz123", max_size=8))
def test_split_membership_is_pure_hash_function(spark, ids, cuts, salt):
    import hashlib

    from datastream_delta_plugins_spark.operators import sampling
    c1, c2 = sorted(cuts)
    if c1 == c2:
        c2 = c1 + 1
    fracs = {"a": c1 / 10000, "b": (c2 - c1) / 10000,
             "c": (10000 - c2) / 10000}
    df = spark.createDataFrame([(i,) for i in ids], "doc_id bigint")
    got = {r["doc_id"]: r["split"] for r in
           sampling.deterministic_split(df, "doc_id", fracs,
                                        salt=salt).collect()}

    def bucket(i):
        h = hashlib.md5(f"{i}|{salt}".encode()).hexdigest()[:8]
        return int(h, 16) % 10000

    want = {i: ("a" if bucket(i) < c1 else "b" if bucket(i) < c2
                else "c") for i in ids}
    assert got == want


# ---------------------------------------------------------------- corpus ops

words = st.lists(st.sampled_from(["a", "b", "c", "d", "e"]),
                 min_size=0, max_size=14)
docs_strategy = st.lists(words, min_size=1, max_size=8)


@given(docs=docs_strategy)
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_span_dup_stats_matches_naive(spark, docs):
    """span_dup_stats == the obvious per-doc set computation."""
    from datastream_delta_plugins_spark.operators.corpus import span_dup_stats
    n = 3
    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    spans = {i: {" ".join(ws[j:j + n]) for j in range(len(ws) - n + 1)}
             for i, ws in enumerate(docs)}
    from collections import Counter
    freq = Counter(s for ss in spans.values() for s in ss)
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in span_dup_stats(df, n=n).collect()}
    assert set(got) == set(spans)
    for i, ss in spans.items():
        assert got[i]["n_spans"] == len(ss)
        assert got[i]["n_dup_spans"] == sum(1 for s in ss if freq[s] >= 2)


@given(docs=docs_strategy, chunk=st.integers(2, 6), stride=st.integers(1, 6))
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_chunking_covers_every_token(spark, docs, chunk, stride):
    """Every token position of every doc lands in >= 1 chunk, chunks
    never overrun the doc, and concatenating stride-aligned chunks
    reconstructs the doc."""
    from datastream_delta_plugins_spark.operators.corpus import chunk_documents
    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs) if ws]
    if not rows:
        return
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = chunk_documents(df, chunk_tokens=chunk, stride=stride).collect()
    per_doc = {}
    for r in out:
        per_doc.setdefault(r["doc_id"], []).append(r)
    for i, text in rows:
        n = len(text.split(" "))
        chunks = sorted(per_doc[i], key=lambda r: r["start_tok"])
        covered = set()
        for r in chunks:
            assert r["start_tok"] + r["chunk_len"] <= n
            assert r["chunk_len"] >= 1
            covered.update(range(r["start_tok"],
                                 r["start_tok"] + r["chunk_len"]))
        # stride <= chunk guarantees gap-free coverage; larger strides
        # still cover every stride-start
        if stride <= chunk:
            assert covered == set(range(n))
        starts = [r["start_tok"] for r in chunks]
        assert starts == list(range(0, n, stride))


@given(docs=docs_strategy)
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_contamination_matches_naive(spark, docs):
    """contamination_check == per-doc set intersection vs benchmark."""
    from pyspark.sql import functions as F

    from datastream_delta_plugins_spark.operators.corpus import (
        contamination_check)
    n = 3
    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    spans = {i: {" ".join(ws[j:j + n]) for j in range(len(ws) - n + 1)}
             for i, ws in enumerate(docs)}
    bench = set().union(*(spans[i] for i in spans if i % 3 == 0)) \
        if any(i % 3 == 0 for i in spans) else set()
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           contamination_check(df, F.col("doc_id") % 3 == 0, n=n)
           .collect()}
    want_ids = {i for i in spans if i % 3 != 0}
    assert set(got) == want_ids
    for i in want_ids:
        shared = len(spans[i] & bench)
        assert got[i]["n_shared_spans"] == shared
        assert got[i]["contaminated"] == (shared > 0)


@given(lens=st.lists(st.integers(1, 9), min_size=1, max_size=12),
       budget=st.integers(2, 20))
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_pack_chunks_matches_sequential_fill(spark, lens, budget):
    """pack_chunks == the sequential contiguous-fill reference: walk
    chunks in order, pack = floor(running offset / budget)."""
    from pyspark.sql import functions as F

    from datastream_delta_plugins_spark.operators.corpus import pack_chunks
    rows = [(i, 0, ln) for i, ln in enumerate(lens)]
    df = (spark.createDataFrame(
              rows, "doc_id long, chunk_idx long, chunk_len long")
          .withColumn("shard", F.lit("s")))
    got = {r["doc_id"]: r["pack_id"]
           for r in pack_chunks(df, budget=budget, sub_shards=1).collect()}
    off, want = 0, {}
    for i, ln in enumerate(lens):
        want[i] = off // budget
        off += ln
    assert got == want


# --- C-kernel decoder equivalence ---------------------------------------

COLUMNAR_SCHEMA = {
    "type": "record", "name": "V", "fields": [
        {"name": "id", "type": "long"},
        {"name": "ts", "type": {"type": "long",
                                "logicalType": "timestamp-millis"}},
        {"name": "s", "type": ["null", "string"]},
        {"name": "b", "type": ["null", "boolean"]},
        {"name": "d", "type": ["null", "double"]},
        {"name": "raw", "type": ["null", "bytes"]},
        {"name": "dec", "type": ["null", {"type": "bytes",
                                          "logicalType": "decimal",
                                          "precision": 10, "scale": 3}]},
        {"name": "sm", "type": {"type": "record", "name": "sm", "fields": [
            {"name": "x", "type": ["null", "long"]},
            {"name": "y", "type": "string"}]}},
        {"name": "tags", "type": {"type": "array",
                                  "items": ["string", "long"]}},
    ],
}

columnar_records = st.fixed_dictionaries({
    "id": st.integers(min_value=-(2 ** 63), max_value=2 ** 63 - 1),
    "ts": st.integers(min_value=0, max_value=2 ** 52),
    "s": st.none() | st.text(max_size=50),
    "b": st.none() | st.booleans(),
    "d": st.none() | finite_doubles,
    "raw": st.none() | st.binary(max_size=30),
    "dec": st.none() | decimals,
    "sm": st.fixed_dictionaries({
        "x": st.none() | st.integers(min_value=-(2 ** 62),
                                     max_value=2 ** 62),
        "y": st.text(max_size=12)}),
    "tags": st.lists(st.text(max_size=10)
                     | st.integers(min_value=-(2 ** 62),
                                   max_value=2 ** 62), max_size=5),
})


@given(recs=st.lists(columnar_records, min_size=1, max_size=25),
       codec=st.sampled_from(["null", "deflate"]),
       sync=st.sampled_from([48, 200, 1000]))
@settings(max_examples=60, deadline=None)
def test_ckernel_decoder_matches_closure_decoder(recs, codec, sync):
    """The C-kernel columnar decoder must agree with the closure-tree
    decoder on arbitrary records over the supported subset, at every
    block granularity, single-block files included (union branches,
    nulls, decimals, nested records, string/long union arrays)."""
    from datastream_delta_plugins_spark.sources import avro_ckernel
    if not avro_ckernel.available():
        pytest.skip("no C compiler in this environment")

    raw = avro_ocf.write_ocf(COLUMNAR_SCHEMA, recs, codec=codec,
                             sync_interval=sync)
    _, ref = avro_ocf.read_ocf(raw)
    _, n, fin = avro_ckernel.decode_columnar(raw)
    assert n == len(ref)
    _check_decoded(fin, ref)


def _check_decoded(fin, ref):
    import pyarrow as pa
    assert fin["id"].to_pylist() == [r["id"] for r in ref]
    assert fin["ts"].cast(pa.int64()).to_pylist() == \
        [r["ts"] * 1000 for r in ref]
    assert fin["s"].to_pylist() == [r["s"] for r in ref]
    assert fin["b"].to_pylist() == [r["b"] for r in ref]
    got_d = fin["d"].to_pylist()
    for g, r in zip(got_d, (r["d"] for r in ref)):
        assert g == r or (g is None) == (r is None)  # exact bits below
    # double bits must be identical, not approximately equal
    import struct as _struct
    for g, r in zip(got_d, (r["d"] for r in ref)):
        if g is not None:
            assert _struct.pack("<d", g) == _struct.pack("<d", r)
    assert fin["raw"].to_pylist() == [r["raw"] for r in ref]
    assert list(fin["dec"]) == [r["dec"] for r in ref]
    assert fin["sm"]["x"].to_pylist() == [r["sm"]["x"] for r in ref]
    assert fin["sm"]["y"].to_pylist() == [r["sm"]["y"] for r in ref]
    tags = fin["tags"]
    items = tags["items"].to_pylist()
    offs = tags["offsets"]
    for i, r in enumerate(ref):
        got = items[offs[i]:offs[i + 1]]
        assert got == [str(v) for v in r["tags"]], (i, got, r["tags"])


@given(w=st.integers(1, 12), h=st.integers(1, 10),
       color=st.sampled_from([0, 2, 4, 6]),
       ft=st.integers(0, 4), data=st.data())
@settings(max_examples=60, deadline=None)
def test_png_codec_roundtrip_property(w, h, color, ft, data):
    """Hand-written codec, adversarial inputs: any pixel buffer, any
    dimensions, any color type, any filter type must roundtrip
    byte-identically — the decoder's five reconstruction branches and
    the encoder's matching filters are exact inverses everywhere, not
    just on ramp fixtures."""
    from datastream_delta_plugins_spark.operators.multimodal import (
        _CHANNELS, decode_png, encode_png)
    ch = _CHANNELS[color]
    px = bytes(data.draw(st.binary(min_size=w * h * ch,
                                   max_size=w * h * ch)))
    assert decode_png(encode_png(w, h, px, color, ft)) == (w, h, ch, px)


@given(data=st.data(), w=st.integers(1, 8), h=st.integers(1, 8),
       ft=st.integers(0, 4))
@settings(max_examples=40, deadline=None)
def test_png_decoder_never_hangs_or_crashes_on_byte_flips(data, w, h, ft):
    """Byte-flip fuzz (the Avro decoders' discipline): a corrupted PNG
    either decodes (flip landed in a don't-care byte — impossible here
    given CRCs, but allowed) or raises ValueError; never any other
    exception, never unbounded work."""
    from datastream_delta_plugins_spark.operators.multimodal import (
        decode_png, encode_png)
    px = bytes(data.draw(st.binary(min_size=w * h * 3,
                                   max_size=w * h * 3)))
    blob = bytearray(encode_png(w, h, px, 2, ft))
    pos = data.draw(st.integers(0, len(blob) - 1))
    blob[pos] ^= data.draw(st.integers(1, 255))
    try:
        decode_png(bytes(blob))
    except ValueError:
        pass


@given(n_ch=st.sampled_from([1, 2]), n=st.integers(1, 64), data=st.data())
@settings(max_examples=40, deadline=None)
def test_wav_codec_roundtrip_property(n_ch, n, data):
    from datastream_delta_plugins_spark.operators.multimodal import (
        decode_wav, encode_wav)
    samples = bytes(data.draw(st.binary(min_size=2 * n_ch * n,
                                        max_size=2 * n_ch * n)))
    got = decode_wav(encode_wav(samples, n_channels=n_ch))
    assert got == (n_ch, 2, 16000, n, samples)


@given(n_ch=st.sampled_from([1, 2]), n=st.integers(0, 40),
       data=st.data())
@settings(max_examples=60, deadline=None)
def test_wav_decoder_never_hangs_or_crashes_on_byte_flips(n_ch, n, data):
    """Byte-flip fuzz over the stdlib-wave-backed decoder: corruption
    is always a ValueError or a successful decode — never a bare
    RuntimeError/struct.error escaping from wave's chunk parser
    (reproduced pre-fix with a lying fmt-chunk size)."""
    from datastream_delta_plugins_spark.operators.multimodal import (
        decode_wav, encode_wav)
    samples = bytes(data.draw(st.binary(min_size=2 * n_ch * n,
                                        max_size=2 * n_ch * n)))
    blob = bytearray(encode_wav(samples, n_channels=n_ch))
    pos = data.draw(st.integers(0, len(blob) - 1))
    blob[pos] ^= data.draw(st.integers(1, 255))
    try:
        decode_wav(bytes(blob))
    except ValueError:
        pass
