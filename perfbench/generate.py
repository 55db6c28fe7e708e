"""Seeded input generators for the benchmark's workloads.

Every input is a pure function of ``--seed`` (numpy ``default_rng``):
the same seed gives byte-identical change files, snapshot dumps and
analytics tables. The program under test sees only these files; the
generator hands the same events, as Arrow tables, to the DuckDB
reference in ``oracle.py``.

Why each workload exists and the traffic it carries:

cdc-steady
    One replicated table. Set-up runs its initial load: a snapshot
    dump (parquet) applied by ``ReplicationJob(...).run_batch()``. The
    timed part is a fixed sequence of small Avro change batches, each
    converted (``AvroLandingConverter.convert_new``) and applied by an
    ``availableNow`` stream (``CdcPipeline.start``), with a read mix
    after every commit. Per-batch merge, the O(state) rewrite of the
    default ``auto`` backend (versioned below 5M rows), catalog sync,
    commit and trigger overhead do the work; decode is a small share.
    Reads beside the writes expose a state layout that speeds merges
    but slows readers.
    Traffic (``PROFILES["cdc-steady"]``): ``state_rows`` rows of state;
    ``batch_events`` events per batch; update, late and PK-update keys
    Zipf(``zipf_a``) over a fixed random permutation of the state's
    keys, deletes uniform; op mix ``mix`` (a PK update is an
    UPDATE-DELETE/UPDATE-INSERT pair moving a key to a fresh one); late
    share ``mix["late"]`` (updates whose sort keys predate the state's,
    so they lose); 6 payload columns (~60 B/row); one table;
    ``lookups_per_batch`` point reads, one live count and one
    top-``topk`` per batch.
    ``zipf_a`` and ``mix`` are assumptions, not measurements: they
    fill in "mostly updates on Zipf-skewed keys, plus deletes, inserts,
    PK-update pairs and a few percent of late events" with no public
    Datastream or CDC trace behind the numbers. What they imply,
    measured on the generator: the ~2640 Zipf(1.2) updates of a batch
    touch ~940 distinct keys, the hottest key takes ~17% of them and
    the hottest 100 keys ~64%. So every batch still touches every one
    of 16 hash buckets; a claim that rests on the skew (a layout that
    rewrites only touched buckets or files) holds for this skew only
    and should be re-checked at others.

analytics
    The 16 ``bench.py`` HEADLINE queries over a synthetic star schema
    (orders/lineitem/customer/... plus events, documents, embeddings)
    with the schemas and value domains of the repository's test data and
    its row counts at scale factor ``sf``, plus the same three read
    kinds on ``orders`` (through ``sources.tables.load_table``) after
    each pass; "live" rows are the open orders.
    Query operators do all the work and the ingest layers none, so an
    ingest change predicts no change here. q26 runs
    ``operators.cdc.materialize``, the ingest merge, as one large
    aggregate.

Costs that shaped the sizes, measured on a 4-core host whose CPU
steal ran at 20-40%: writing Avro with ``avro_ocf.write_ocf`` takes
about 60-95 us per event, so the initial load is parquet and only the
change batches are Avro. At 10^6 state rows one batch took 6-7 s and
seeding 22 s, leaving about one batch per run, so the state is 10^5
rows (about 3-5 s per batch). At sf0.1 one analytics pass took 37 s
and the checked warm-up pass 85 s, so the tables are sf0.005 (a
pass of 5-14 s as the host's CPU steal varies, most of it per-query
Spark overhead). Every run
starts a JVM (4-15 s) whose first batch or query pass runs 2-3x slow
while it compiles, which is what the warm-up iterations absorb: two
batches on cdc-steady (the second is already within a few percent of
the timed ones), the checked pass on analytics (the next passes still
get 5-15% faster each). A run is kept near a minute, so that about
fifty runs of the two workloads fit in an hour even at 10-15% CPU
steal; that is why analytics adds no second untimed pass and
cdc-steady times four batches.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: epoch ms of the state's events; batch events come after it, late
#: events before it
T0_MS = 1_700_000_000_000
_RS = np.array([f"rs{i}" for i in range(7)], dtype=object)
_STATUS = np.array(["NEW", "OPEN", "PAID", "SHIPPED", "CLOSED"],
                   dtype=object)


@dataclass(frozen=True)
class SteadyProfile:
    state_rows: int
    batch_events: int
    warmup_batches: int
    #: nominal seconds of one timed iteration (batch + reads); a run
    #: times round(--seconds / iteration_s) of them, at least
    #: min_iterations
    iteration_s: float
    min_iterations: int = 3
    #: assumed, see the module docstring
    zipf_a: float = 1.2
    #: share of events by kind; "pk_update" counts pairs (2 events)
    mix: dict = field(default_factory=lambda: {
        "update": 0.80, "delete": 0.04, "insert": 0.06,
        "pk_update": 0.03, "late": 0.04})
    lookups_per_batch: int = 5
    topk: int = 10


@dataclass(frozen=True)
class AnalyticsProfile:
    sf: float
    #: nominal seconds of one timed pass (as SteadyProfile.iteration_s)
    iteration_s: float
    #: at least three passes, so a pass median and a query-wall tail
    #: have more than one pass behind them
    min_iterations: int = 3
    lookups_per_pass: int = 8
    topk: int = 10


PROFILES = {
    "cdc-steady": SteadyProfile(state_rows=100_000, batch_events=3000,
                                warmup_batches=2, iteration_s=2.5),
    "analytics": AnalyticsProfile(sf=0.005, iteration_s=11.0),
}
#: self-test sizes: the same code paths in seconds
TINY = {
    "cdc-steady": SteadyProfile(state_rows=3000, batch_events=200,
                                warmup_batches=1, iteration_s=1.0,
                                min_iterations=1),
    "analytics": AnalyticsProfile(sf=0.002, iteration_s=5.0,
                                  min_iterations=1, lookups_per_pass=3),
}


# ---------------------------------------------------------------- Avro

def _nullable(t):
    return ["null", t]


def envelope(table: str, payload: list[tuple[str, object]]) -> dict:
    """Datastream change-event envelope with the given payload fields
    (name, Avro type); sort_keys is Oracle's [ts, scn, rs_id, ssn]."""
    sm = [("schema", "string"), ("table", "string"),
          ("database", "string"), ("row_id", _nullable("string")),
          ("scn", _nullable("long")), ("is_deleted", _nullable("boolean")),
          ("change_type", _nullable("string")), ("ssn", _nullable("long")),
          ("rs_id", _nullable("string")), ("tx_id", _nullable("string")),
          ("log_file", _nullable("string"))]
    ts_ms = {"type": "long", "logicalType": "timestamp-millis"}
    return {"type": "record", "name": "CHANGES", "fields": [
        {"name": "uuid", "type": "string"},
        {"name": "read_timestamp", "type": ts_ms},
        {"name": "source_timestamp", "type": ts_ms},
        {"name": "object", "type": "string"},
        {"name": "read_method", "type": "string"},
        {"name": "stream_name", "type": "string"},
        {"name": "schema_key", "type": "string"},
        {"name": "source_metadata", "type": {
            "type": "record", "name": "source_metadata",
            "fields": [{"name": n, "type": t} for n, t in sm]}},
        {"name": "payload", "type": {
            "type": "record", "name": "payload",
            "fields": [{"name": n, "type": _nullable(t)}
                       for n, t in payload]}},
        {"name": "sort_keys",
         "type": {"type": "array", "items": ["string", "long"]}},
    ]}


_TS_US = {"type": "long", "logicalType": "timestamp-micros"}
STEADY_PAYLOAD = [("ID", "long"), ("NAME", "string"), ("STATUS", "string"),
                  ("TS", _TS_US), ("AMOUNT", "double"), ("QTY", "long")]


def _records(table: str, cols: dict, read_method: str) -> list[dict]:
    """Envelope dicts for ``avro_ocf.write_ocf`` from column arrays;
    ``cols`` holds the payload columns plus _ct/_sk1/_sk2/_sk3/_sk4."""
    names = [n for n in cols if not n.startswith("_")]
    pl = [cols[n].tolist() for n in names]
    ct, sk1, sk2, sk3, sk4 = (cols[k].tolist()
                              for k in ("_ct", "_sk1", "_sk2", "_sk3", "_sk4"))
    out = []
    for i, vals in enumerate(zip(*pl)):
        t = sk1[i]
        out.append({
            "uuid": f"{table}-{sk2[i]}", "read_timestamp": t + 5,
            "source_timestamp": t, "object": table,
            "read_method": read_method, "stream_name": "bench",
            "schema_key": "k1",
            "source_metadata": {
                "schema": "APP", "table": table, "database": "ORCL",
                "row_id": None, "scn": sk2[i],
                "is_deleted": ct[i] in ("DELETE", "UPDATE-DELETE"),
                "change_type": ct[i], "ssn": sk4[i], "rs_id": sk3[i],
                "tx_id": None, "log_file": None},
            "payload": dict(zip(names, vals)),
            "sort_keys": [t, sk2[i], sk3[i], sk4[i]],
        })
    return out


def write_avro(path: str, table: str, cols: dict, read_method: str,
               payload) -> None:
    from datastream_delta_plugins_spark.sources import avro_ocf
    blob = avro_ocf.write_ocf(envelope(table, payload),
                              _records(table, cols, read_method))
    tmp = path + ".tmp"
    with open(tmp, "wb") as f:
        f.write(blob)
    os.replace(tmp, path)


def _op(ct: np.ndarray) -> np.ndarray:
    """Normalized op (the reference's T3 rule)."""
    return np.where(ct == "UPDATE-DELETE", "DELETE",
                    np.where(ct == "UPDATE-INSERT", "UPDATE", ct))


def events_table(cols: dict, payload) -> pa.Table:
    """Flattened events, as the landing emits them and the reference
    reads them: payload + normalized op + sort keys."""
    arrays, names = [], []
    for n, t in payload:
        v = cols[n]
        if isinstance(t, dict):  # timestamp-micros
            arrays.append(pa.array(v, pa.timestamp("us", tz="UTC")))
        elif t == "string":
            arrays.append(pa.array(v.tolist(), pa.string()))
        else:
            arrays.append(pa.array(v))
        names.append(n)
    arrays += [pa.array(_op(cols["_ct"]).tolist(), pa.string()),
               pa.array(cols["_sk1"]), pa.array(cols["_sk2"]),
               pa.array(cols["_sk3"].tolist(), pa.string()),
               pa.array(cols["_sk4"])]
    names += ["_op", "_sk1", "_sk2", "_sk3", "_sk4"]
    return pa.Table.from_arrays(arrays, names=names)


# ------------------------------------------------------------ cdc-steady

class SteadyGen:
    """Change stream over one table: the seed state, then batches."""

    def __init__(self, seed: int, prof: SteadyProfile):
        self.prof = prof
        self.rng = np.random.default_rng(seed)
        n = prof.state_rows
        #: Zipf rank -> key: a fixed random permutation of seeded keys
        self.hot = self.rng.permutation(n).astype(np.int64)
        self.next_key = n
        self.scn = n + 1
        self.late_scn = 1
        self.batch_no = 0

    def _payload(self, keys: np.ndarray) -> dict:
        r, n = self.rng, len(keys)
        return {
            "ID": keys,
            "NAME": np.char.add("cust-", r.integers(0, 50_000, n)
                                .astype(str)).astype(object),
            "STATUS": _STATUS[r.integers(0, len(_STATUS), n)],
            "TS": (T0_MS * 1000 + r.integers(0, 10**12, n)).astype(np.int64),
            "AMOUNT": np.round(r.uniform(0, 10_000, n), 2),
            "QTY": r.integers(1, 1000, n).astype(np.int64),
        }

    def seed_table(self) -> pa.Table:
        """The state's rows as INSERT change rows, flattened like the
        landing output: the snapshot the initial load applies."""
        keys = np.arange(self.prof.state_rows, dtype=np.int64)
        cols = self._payload(keys)
        cols.update(_ct=np.full(len(keys), "INSERT", dtype=object),
                    _sk1=T0_MS + keys % 100_000, _sk2=keys + 1,
                    _sk3=_RS[keys % 7],
                    _sk4=np.zeros(len(keys), dtype=np.int64))
        return events_table(cols, STEADY_PAYLOAD)

    def lookup_keys(self, n: int) -> np.ndarray:
        """Point-lookup keys, skewed like the updates."""
        return self.hot[(self.rng.zipf(self.prof.zipf_a, n) - 1)
                        % self.prof.state_rows]

    def next_batch(self) -> dict:
        """Column arrays of the next change batch, in commit order."""
        p, r = self.prof, self.rng
        m = p.mix
        n_pairs = int(p.batch_events * m["pk_update"])
        counts = {k: int(p.batch_events * m[k])
                  for k in ("delete", "insert", "late")}
        counts["update"] = (p.batch_events - 2 * n_pairs
                            - sum(counts.values()))
        n_keys = p.state_rows

        def zipf(k):
            return self.hot[(r.zipf(p.zipf_a, k) - 1) % n_keys]

        parts = []  # (keys, change types, late?)
        parts.append((zipf(counts["update"]), "UPDATE", False))
        parts.append((r.integers(0, n_keys, counts["delete"]), "DELETE",
                      False))
        fresh = np.arange(self.next_key, self.next_key + counts["insert"]
                          + n_pairs, dtype=np.int64)
        self.next_key += len(fresh)
        parts.append((fresh[:counts["insert"]], "INSERT", False))
        old = zipf(n_pairs)
        new = fresh[counts["insert"]:]
        pair_keys = np.empty(2 * n_pairs, dtype=np.int64)
        pair_keys[0::2], pair_keys[1::2] = old, new
        pair_ct = np.empty(2 * n_pairs, dtype=object)
        pair_ct[0::2], pair_ct[1::2] = "UPDATE-DELETE", "UPDATE-INSERT"
        parts.append((pair_keys, pair_ct, False))
        parts.append((zipf(counts["late"]), "UPDATE", True))

        keys = np.concatenate([k for k, _, _ in parts]).astype(np.int64)
        ct = np.concatenate([np.broadcast_to(np.asarray(c, dtype=object),
                                             len(k)) for k, c, _ in parts])
        late = np.concatenate([np.full(len(k), lt) for k, _, lt in parts])
        # interleave ops in commit order, keeping each pair adjacent
        order = r.permutation(len(keys))
        if n_pairs:
            is_pair = np.isin(ct[order], ("UPDATE-DELETE", "UPDATE-INSERT"))
            pidx = np.flatnonzero(ct == "UPDATE-DELETE")
            rest = order[~is_pair]
            slots = np.sort(r.choice(len(rest) + 1, n_pairs))
            pieces, prev = [], 0
            for s, i in zip(slots, pidx):
                pieces += [rest[prev:s], [i, i + 1]]
                prev = s
            pieces.append(rest[prev:])
            order = np.concatenate(pieces).astype(np.int64)
        keys, ct, late = keys[order], ct[order], late[order]
        n = len(keys)
        scn = np.empty(n, dtype=np.int64)
        scn[~late] = np.arange(self.scn, self.scn + (~late).sum())
        scn[late] = np.arange(self.late_scn, self.late_scn + late.sum())
        self.scn += int((~late).sum())
        self.late_scn += int(late.sum())
        self.batch_no += 1
        cols = self._payload(keys)
        cols.update(
            _ct=ct,
            _sk1=np.where(late, T0_MS - 10**9 + scn,
                          T0_MS + 10**9 + scn).astype(np.int64),
            _sk2=scn, _sk3=_RS[scn % 7],
            _sk4=np.zeros(n, dtype=np.int64))
        return cols


# ------------------------------------------------------------- analytics

_VOCAB = np.array(
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row "
    "the agg key query a scan batch".split(), dtype=object)


def _day_ts(r, n, start="1995-01-01", days=2400) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + r.integers(0, days, n).astype("timedelta64[D]")


def analytics_tables(seed: int, sf: float, out_dir: str) -> None:
    """The ten tables the analytics queries read, one parquet each,
    with the sf0.1 test data's schemas, row counts x (sf / 0.1) and
    value domains."""
    r = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    def put(name, cols: dict) -> None:
        pq.write_table(pa.table(cols),
                       os.path.join(out_dir, f"{name}.parquet"))

    def n_of(base):
        return max(10, int(base * sf))

    def money(lo, hi, n):
        return np.round(r.uniform(lo, hi, n), 2)

    i32 = pa.int32()
    put("region", {"r_regionkey": pa.array(np.arange(5), i32),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE",
                              "MIDDLE EAST"]})
    put("nation", {"n_nationkey": pa.array(np.arange(25), i32),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array(np.arange(25) % 5, i32)})
    nc, ns, npart = n_of(150_000), n_of(10_000), n_of(200_000)
    no, nl = n_of(1_500_000), n_of(6_000_000)
    put("customer", {
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(r.integers(0, 25, nc), i32),
        "c_acctbal": money(-999.99, 9999.99, nc),
        "c_mktsegment": np.array(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                  "HOUSEHOLD", "MACHINERY"])[
            r.integers(0, 5, nc)]})
    put("supplier", {
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(r.integers(0, 25, ns), i32),
        "s_acctbal": money(-999.99, 9999.99, ns)})
    adj = np.array("blue red hot cold large small green steel".split())
    noun = np.array("anvil bolt ring widget gear spring valve nut".split())
    put("part", {
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj[r.integers(0, 8, npart)], " "),
                              noun[r.integers(0, 8, npart)]),
        "p_brand": np.char.add("Brand#", r.integers(1, 26, npart)
                               .astype(str)),
        "p_type": np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                            "STANDARD"])[r.integers(0, 6, npart)],
        "p_size": pa.array(r.integers(1, 51, npart), i32),
        "p_retailprice": 900.0 + (np.arange(npart) % 1000) / 10.0})
    put("orders", {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": r.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, no)],
        "o_totalprice": money(1000, 500_000, no),
        "o_orderdate": _day_ts(r, no),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"])[
            r.integers(0, 5, no)]})
    put("lineitem", {
        "l_orderkey": r.integers(0, no, nl).astype(np.int64),
        "l_partkey": r.integers(0, npart, nl).astype(np.int64),
        "l_suppkey": r.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": pa.array(r.integers(1, 8, nl), i32),
        "l_quantity": r.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": money(900, 105_000, nl),
        "l_discount": r.integers(0, 11, nl) / 100.0,
        "l_tax": r.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, nl)],
        "l_shipdate": _day_ts(r, nl, "1995-01-02", 2500)})
    ne = n_of(1_000_000)
    gaps = np.maximum(1, (r.exponential(26.0, ne) * 1e6).astype(np.int64))
    put("events", {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + np.cumsum(gaps)
        .astype("timedelta64[us]"),
        "user_id": r.integers(0, n_of(15_000), ne).astype(np.int64),
        "event_type": np.array(["click", "error", "purchase", "signup",
                                "view"])[r.integers(0, 5, ne)],
        "value": np.round(r.exponential(50.0, ne), 2),
        "props": np.char.add(np.char.add('{"k": ', r.integers(0, 100, ne)
                                         .astype(str)), "}")})
    nd = n_of(50_000)
    texts = []
    for i in range(nd):
        if texts and r.random() < 0.05:  # near-duplicate of an earlier doc
            w = texts[r.integers(0, len(texts))].split()
            w[r.integers(0, len(w))] = "dup"
            texts.append(" ".join(w))
        else:
            texts.append(" ".join(_VOCAB[r.integers(0, len(_VOCAB),
                                                    r.integers(10, 101))]))
    put("documents", {
        "doc_id": np.arange(nd, dtype=np.int64), "text": texts,
        "lang": np.array(["en", "en", "de", "es", "fr", "zh"][:6])[
            r.integers(0, 6, nd)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    nv, dim = n_of(20_000), 64
    centers = r.standard_normal((10, dim))
    label = r.integers(0, 10, nv)
    vec = centers[label] + 0.8 * r.standard_normal((nv, dim))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    put("embeddings", {
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vec.ravel()), dim).cast(pa.list_(pa.float32())),
        "label": pa.array(label, i32)})


def table_rows(sf_dir: str) -> int:
    """Rows across every generated analytics table (parquet footers)."""
    return sum(pq.read_metadata(os.path.join(sf_dir, f)).num_rows
               for f in os.listdir(sf_dir) if f.endswith(".parquet"))
