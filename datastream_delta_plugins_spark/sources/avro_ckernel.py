"""Native (C, ctypes) Avro block decoder — the fast ingest tier.

The closure-tree decoder in `avro_ocf` pays ~0.2 µs of interpreter
time per field, which makes the wire decode the top line of the ingest
budget. This module compiles the Datastream envelope's schema subset
into a flat OPCODE PROGRAM and executes it in ~200 lines of C (built
once with the system compiler, loaded via ctypes): one call decodes an
entire file's blocks into preallocated columnar buffers — two passes
(measure, then fill into exactly-sized numpy arrays), zero Python per
record, zero reordering (C writes in row order).

This is the same play the JVM's spark-avro jar makes (native-code
decode behind a columnar interface); the environment has no such jar,
so the kernel fills that slot. Safety posture:

  - availability-gated: if `cc` is missing or the compile fails, the
    loader returns None and callers fall back to the closure tree —
    the pure-Python path remains the reference semantics;
  - schema subset: records, nullable unions, scalar unions that map
    to StringType, string/bytes/long/int/boolean/double/float/fixed/
    enum, decimal-on-bytes, timestamp/date/time logicals on long, and
    one level of arrays of scalar/union items (``sort_keys``); maps,
    nested arrays, decimal-on-fixed, other logical types on long and
    the zero-width shapes (fixed size 0, records with no fields) raise
    `Unsupported` and take the closure tree;
  - bounds-checked: string/fixed reads are limited to their block,
    varints cap at 10 bytes, and every block must land exactly on its
    boundary or the decode is rejected;
  - output is pinned byte-identical to the closure tree by the
    fixture equivalence test and the hypothesis property test.

On a real cluster the .so ships like any native dependency (wheel /
--files); here workers share the driver's build via a content-hashed
path under the system temp dir.
"""

from __future__ import annotations

import ctypes
import hashlib
import json
import logging
import os
import subprocess
import tempfile

import numpy as np
import pyarrow as pa

from .avro_ocf import scan_blocks

#: zero bytes appended past the decoded blocks, on top of the per-op
#: overrun allowance in decode_columnar
PAD = 16


class Unsupported(Exception):
    """No kernel, or a schema outside its subset — use the closure tree."""


def _bitmap(valid: np.ndarray) -> pa.Buffer:
    return pa.py_buffer(np.packbits(valid, bitorder="little").tobytes())

_C_SOURCE = r"""
#include <stdint.h>
#include <string.h>
#include <stdio.h>

/* opcodes (keep in sync with avro_ckernel.py) */
#define OP_RET        9
#define OP_LONG       1
#define OP_DOUBLE     2
#define OP_FLOAT      3
#define OP_BOOL       4
#define OP_STRING     5
#define OP_FIXED      6
#define OP_ENUM       7
#define OP_UNION      8
#define OP_ARRAY     10
#define OP_SFROMLONG 11
#define OP_SFROMBOOL 12

typedef struct {
    const uint8_t *buf;
    int64_t limit;             /* end of the current block */
    const int32_t *ops;
    const int32_t *kinds;      /* per leaf: 0 i64, 1 f64, 2 f32,
                                  3 bool, 4 string/bytes */
    int64_t **i64;
    double  **f64;
    float   **f32;
    uint8_t **bl;
    int64_t **slen;
    uint8_t **sdata;
    uint8_t **valid;
    int64_t *n;                /* per-leaf entry cursor */
    int64_t *sb;               /* per-leaf string byte cursor */
    int      fill;
} Ctx;

static inline int vlong(Ctx *c, int64_t *p, int64_t *out) {
    uint64_t acc = 0; int shift = 0; uint8_t b;
    do {
        if (shift > 63) return -5;
        b = c->buf[(*p)++];
        acc |= ((uint64_t)(b & 0x7F)) << shift;
        shift += 7;
    } while (b & 0x80);
    *out = (int64_t)(acc >> 1) ^ -(int64_t)(acc & 1);
    return 0;
}

static void null_range(Ctx *c, int32_t lo, int32_t hi) {
    for (int32_t L = lo; L < hi; L++) {
        int64_t k = c->n[L]++;
        if (!c->fill) continue;
        c->valid[L][k] = 0;
        switch (c->kinds[L]) {
            case 0: c->i64[L][k] = 0; break;
            case 1: c->f64[L][k] = 0.0; break;
            case 2: c->f32[L][k] = 0.0f; break;
            case 3: c->bl[L][k] = 0; break;
            case 4: c->slen[L][k] = 0; break;
        }
    }
}

static int run(Ctx *c, int32_t pc, int64_t *p) {
    for (;;) {
        int32_t op = c->ops[pc++];
        switch (op) {
        case OP_RET:
            return 0;
        case OP_LONG: case OP_ENUM: {
            int32_t L = c->ops[pc++];
            int64_t v; int rc = vlong(c, p, &v); if (rc) return rc;
            int64_t k = c->n[L]++;
            if (c->fill) { c->i64[L][k] = v; c->valid[L][k] = 1; }
            break; }
        case OP_DOUBLE: {
            int32_t L = c->ops[pc++];
            if (*p + 8 > c->limit) return -4;
            int64_t k = c->n[L]++;
            if (c->fill) {
                memcpy(&c->f64[L][k], c->buf + *p, 8);
                c->valid[L][k] = 1;
            }
            *p += 8; break; }
        case OP_FLOAT: {
            int32_t L = c->ops[pc++];
            if (*p + 4 > c->limit) return -4;
            int64_t k = c->n[L]++;
            if (c->fill) {
                memcpy(&c->f32[L][k], c->buf + *p, 4);
                c->valid[L][k] = 1;
            }
            *p += 4; break; }
        case OP_BOOL: {
            int32_t L = c->ops[pc++];
            if (*p + 1 > c->limit) return -4;
            int64_t k = c->n[L]++;
            uint8_t v = c->buf[(*p)++] != 0;
            if (c->fill) { c->bl[L][k] = v; c->valid[L][k] = 1; }
            break; }
        case OP_STRING: {
            int32_t L = c->ops[pc++];
            int64_t len; int rc = vlong(c, p, &len); if (rc) return rc;
            /* len > limit - p, NOT p + len > limit: a crafted ~2^63
               length would overflow the addition and defeat the check */
            if (len < 0 || len > c->limit - *p) return -4;
            int64_t k = c->n[L]++;
            if (c->fill) {
                memcpy(c->sdata[L] + c->sb[L], c->buf + *p, len);
                c->slen[L][k] = len;
                c->valid[L][k] = 1;
            }
            c->sb[L] += len;
            *p += len; break; }
        case OP_FIXED: {
            int32_t L = c->ops[pc++];
            int32_t len = c->ops[pc++];
            if (*p + len > c->limit) return -4;
            int64_t k = c->n[L]++;
            if (c->fill) {
                memcpy(c->sdata[L] + c->sb[L], c->buf + *p, len);
                c->slen[L][k] = len;
                c->valid[L][k] = 1;
            }
            c->sb[L] += len;
            *p += len; break; }
        case OP_UNION: {
            int32_t nb = c->ops[pc], lo = c->ops[pc + 1],
                    hi = c->ops[pc + 2], end = c->ops[pc + 3];
            const int32_t *offs = &c->ops[pc + 4];
            int64_t bi; int rc = vlong(c, p, &bi); if (rc) return rc;
            if (bi < 0 || bi >= nb) return -2;
            int32_t off = offs[bi];
            if (off < 0) null_range(c, lo, hi);
            else { rc = run(c, off, p); if (rc) return rc; }
            pc = end;  /* skip the inline branch code */
            break; }
        case OP_ARRAY: {
            int32_t ioff = c->ops[pc], CL = c->ops[pc + 1];
            pc += 2;
            int64_t total = 0, cnt;
            for (;;) {
                int rc = vlong(c, p, &cnt); if (rc) return rc;
                if (cnt == 0) break;
                if (cnt < 0) {
                    int64_t sz;
                    /* INT64_MIN would survive negation (UB) */
                    if (cnt == INT64_MIN) return -2;
                    cnt = -cnt;
                    rc = vlong(c, p, &sz); if (rc) return rc;
                }
                /* every item consumes >= 1 byte (zero-width item
                   programs are rejected at compile time), so a count
                   beyond the remaining block bytes is corrupt — and
                   without this bound a crafted huge count would spin
                   the item loop ~2^63 times without moving the
                   cursor (non-termination, not just bad data) */
                if (cnt > c->limit - *p) return -6;
                for (int64_t i = 0; i < cnt; i++) {
                    /* corrupt counts must not march the cursor past
                       the block (and eventually the buffer) */
                    if (*p > c->limit) return -6;
                    int rc2 = run(c, ioff, p); if (rc2) return rc2;
                }
                total += cnt;
            }
            int64_t k = c->n[CL]++;
            if (c->fill) { c->i64[CL][k] = total; c->valid[CL][k] = 1; }
            break; }
        case OP_SFROMLONG: {
            int32_t L = c->ops[pc++];
            int64_t v; int rc = vlong(c, p, &v); if (rc) return rc;
            char tmp[24];
            int len = snprintf(tmp, sizeof tmp, "%lld", (long long)v);
            int64_t k = c->n[L]++;
            if (c->fill) {
                memcpy(c->sdata[L] + c->sb[L], tmp, len);
                c->slen[L][k] = len;
                c->valid[L][k] = 1;
            }
            c->sb[L] += len;
            break; }
        case OP_SFROMBOOL: {
            int32_t L = c->ops[pc++];
            if (*p + 1 > c->limit) return -4;
            uint8_t v = c->buf[(*p)++] != 0;
            const char *s = v ? "True" : "False";
            int len = v ? 4 : 5;
            int64_t k = c->n[L]++;
            if (c->fill) {
                memcpy(c->sdata[L] + c->sb[L], s, len);
                c->slen[L][k] = len;
                c->valid[L][k] = 1;
            }
            c->sb[L] += len;
            break; }
        default:
            return -9;
        }
    }
}

int decode_file(const uint8_t *buf,
                const int64_t *bstart, const int64_t *bend,
                const int64_t *bcount, int32_t nblocks,
                const int32_t *ops, const int32_t *kinds,
                void **i64v, void **f64v, void **f32v, void **blv,
                void **slenv, void **sdatav, void **validv,
                int64_t *n, int64_t *sb, int32_t fill)
{
    Ctx c;
    c.buf = buf; c.ops = ops; c.kinds = kinds;
    c.i64 = (int64_t **)i64v; c.f64 = (double **)f64v;
    c.f32 = (float **)f32v; c.bl = (uint8_t **)blv;
    c.slen = (int64_t **)slenv; c.sdata = (uint8_t **)sdatav;
    c.valid = (uint8_t **)validv;
    c.n = n; c.sb = sb; c.fill = fill;
    for (int32_t b = 0; b < nblocks; b++) {
        int64_t p = bstart[b];
        c.limit = bend[b];
        for (int64_t r = 0; r < bcount[b]; r++) {
            int rc = run(&c, 0, &p);
            if (rc) return rc;
            if (p > c.limit) return -6;
        }
        if (p != bend[b]) return -7;
    }
    return 0;
}
"""

# opcodes (keep in sync with the C source)
_RET, _LONG, _DOUBLE, _FLOAT, _BOOL = 9, 1, 2, 3, 4
_STRING, _FIXED, _ENUM, _UNION, _ARRAY = 5, 6, 7, 8, 10
_SFROMLONG, _SFROMBOOL = 11, 12

_LIB = None
_LIB_TRIED = False


def _lib():
    """Build (once, content-addressed) and load the kernel; None when
    no compiler is available — callers fall back to the closure tree."""
    global _LIB, _LIB_TRIED
    if _LIB_TRIED:
        return _LIB
    _LIB_TRIED = True
    try:
        tag = hashlib.sha256(_C_SOURCE.encode()).hexdigest()[:16]
        d = os.path.join(tempfile.gettempdir(), f"avro_ck_{tag}")
        so = os.path.join(d, "kernel.so")
        if not os.path.exists(so):
            os.makedirs(d, exist_ok=True)
            cpath = os.path.join(d, "kernel.c")
            with open(cpath, "w") as f:
                f.write(_C_SOURCE)
            tmp_so = so + f".{os.getpid()}"
            subprocess.run(
                ["cc", "-O3", "-shared", "-fPIC", "-o", tmp_so, cpath],
                check=True, capture_output=True, timeout=120)
            os.replace(tmp_so, so)  # concurrent builders: last wins
        lib = ctypes.CDLL(so)
        lib.decode_file.restype = ctypes.c_int
        _LIB = lib
    except Exception as e:
        logging.getLogger(__name__).warning(
            "Avro C kernel unavailable (%r); this process decodes Avro "
            "with the pure-Python closure tree, ~20x slower", e)
        _LIB = None
    return _LIB


def available() -> bool:
    return _lib() is not None


# ------------------------------------------------------------ compiler

class _Leaf:
    __slots__ = ("kind", "logical", "symbols", "decimal_scale", "utf8")

    def __init__(self, kind, logical=None, symbols=None,
                 decimal_scale=None, utf8=True):
        self.kind = kind            # "i64" f64 f32 bool str
        self.logical = logical
        self.symbols = symbols
        self.decimal_scale = decimal_scale
        self.utf8 = utf8


class _Program:
    def __init__(self):
        self.ops: list[int] = []
        self.leaves: list[_Leaf] = []
        self.shape = None  # nested description for reassembly

    def leaf(self, leaf: _Leaf) -> int:
        self.leaves.append(leaf)
        return len(self.leaves) - 1


_KIND_CODE = {"i64": 0, "f64": 1, "f32": 2, "bool": 3, "str": 4}


def _compile_node(schema, prog: _Program):
    """Emit ops for one node; returns the reassembly shape:
    ("leaf", idx) | ("record", [(name, shape), ...]) |
    ("array", count_leaf, item_shape)."""
    if isinstance(schema, str):
        if schema in ("long", "int"):
            i = prog.leaf(_Leaf("i64"))
            prog.ops += [_LONG, i]
            return ("leaf", i)
        if schema == "double":
            i = prog.leaf(_Leaf("f64"))
            prog.ops += [_DOUBLE, i]
            return ("leaf", i)
        if schema == "float":
            i = prog.leaf(_Leaf("f32"))
            prog.ops += [_FLOAT, i]
            return ("leaf", i)
        if schema == "boolean":
            i = prog.leaf(_Leaf("bool"))
            prog.ops += [_BOOL, i]
            return ("leaf", i)
        if schema == "string":
            i = prog.leaf(_Leaf("str"))
            prog.ops += [_STRING, i]
            return ("leaf", i)
        if schema == "bytes":
            i = prog.leaf(_Leaf("str", utf8=False))
            prog.ops += [_STRING, i]
            return ("leaf", i)
        raise Unsupported(f"primitive {schema!r}")
    if isinstance(schema, list):
        return _compile_union(schema, prog)
    t = schema["type"]
    logical = schema.get("logicalType")
    if t in ("bytes", "fixed") and logical == "decimal":
        if t != "bytes":
            raise Unsupported("decimal on fixed")
        i = prog.leaf(_Leaf("str", utf8=False,
                            decimal_scale=schema.get("scale", 0)))
        prog.ops += [_STRING, i]
        return ("leaf", i)
    if t == "fixed":
        # size-0 fixed is a zero-width program: inside an array a
        # crafted huge item count would spin the C item loop without
        # consuming bytes (the kernel's count bound assumes every item
        # consumes >= 1 byte), so reject at compile time
        if int(schema["size"]) <= 0:
            raise Unsupported("fixed size must be positive")
        i = prog.leaf(_Leaf("str", utf8=False))
        prog.ops += [_FIXED, i, int(schema["size"])]
        return ("leaf", i)
    if isinstance(t, (list, dict)):
        return _compile_node(t, prog)
    if t in ("long", "int") and logical:
        if logical not in ("timestamp-millis", "timestamp-micros",
                           "local-timestamp-millis",
                           "local-timestamp-micros", "date",
                           "time-millis", "time-micros"):
            raise Unsupported(f"logical {logical!r}")
        i = prog.leaf(_Leaf("i64", logical=logical))
        prog.ops += [_LONG, i]
        return ("leaf", i)
    if t == "record":
        # a record with no fields is a zero-width program — same
        # non-termination hazard as fixed(0) (see above)
        if not schema["fields"]:
            raise Unsupported("record with no fields")
        fields = []
        for f in schema["fields"]:
            fields.append((f["name"], _compile_node(f["type"], prog)))
        return ("record", fields)
    if t == "array":
        return _compile_array(schema, prog)
    if t == "enum":
        i = prog.leaf(_Leaf("i64", symbols=schema["symbols"]))
        prog.ops += [_ENUM, i]
        return ("leaf", i)
    if t == "map":
        raise Unsupported("map")
    return _compile_node(t, prog)


def _scalar_kinds(schema):
    return [b if isinstance(b, str) else b.get("type") for b in schema]


def _compile_union(schema, prog: _Program):
    kinds = _scalar_kinds(schema)
    non_null = [k for k in kinds if k != "null"]
    ops = prog.ops
    if len(non_null) > 1:
        # multi-branch scalar union -> one string leaf (cast-on-use)
        if not all(k in ("null", "string", "long", "int", "boolean")
                   for k in kinds):
            raise Unsupported(f"union {kinds!r}")
        L = prog.leaf(_Leaf("str"))
        head = len(ops)
        ops += [_UNION, len(kinds), L, L + 1, 0] + [0] * len(kinds)
        for i, k in enumerate(kinds):
            if k == "null":
                ops[head + 5 + i] = -1
            else:
                ops[head + 5 + i] = len(ops)
                if k == "string":
                    ops += [_STRING, L, _RET]
                elif k == "boolean":
                    ops += [_SFROMBOOL, L, _RET]
                else:
                    ops += [_SFROMLONG, L, _RET]
        ops[head + 4] = len(ops)  # end: skip the inline branch code
        return ("leaf", L)
    # nullable single-type union: subtree leaves are contiguous
    lo = len(prog.leaves)
    head = len(ops)
    ops += [_UNION, len(schema), 0, 0, 0] + [0] * len(schema)
    shape = None
    for i, b in enumerate(schema):
        k = b if isinstance(b, str) else b.get("type")
        if k == "null" or b == "null":
            ops[head + 5 + i] = -1
        else:
            ops[head + 5 + i] = len(ops)
            shape = _compile_node(b, prog)
            ops.append(_RET)
    hi = len(prog.leaves)
    ops[head + 2] = lo
    ops[head + 3] = hi
    ops[head + 4] = len(ops)  # end: skip the inline branch code
    if shape is None:
        raise Unsupported("union with no value branch")
    return shape


def _compile_array(schema, prog: _Program):
    ops = prog.ops
    CL = prog.leaf(_Leaf("i64"))  # per-row element count
    head = len(ops)
    ops += [_ARRAY, 0, CL]
    # jump over the inline item code: emit item code AFTER the array op
    # and patch the offset; the array op itself continues past it, so
    # wrap item code at the END of the stream via a detour:
    # simpler layout: item code lives at the current tail, the ARRAY op
    # references it, and execution FALLS THROUGH past the op (the item
    # code is only entered via the offset) — so it must come after a
    # RET-protected region. We place item code after the whole record
    # program in compile_program.
    prog._pending_arrays.append((head + 1, schema["items"]))
    return ("array", CL, None, head)


def compile_program(schema_json: bytes, schema):
    """Schema -> (ops int32 array, leaves, shape). Cached per schema."""
    cached = _PROGRAMS.get(schema_json)
    if cached is not None:
        return cached
    if not (isinstance(schema, dict) and schema.get("type") == "record"):
        raise Unsupported("top-level schema must be a record")
    prog = _Program()
    prog._pending_arrays = []
    shape = _compile_node(schema, prog)
    prog.ops.append(_RET)
    # item code blocks appended after the top-level RET
    shapes_by_pos = {}
    for patch_pos, item_schema in prog._pending_arrays:
        prog.ops[patch_pos] = len(prog.ops)
        item_shape = _compile_node(item_schema, prog)
        if item_shape[0] != "leaf":
            raise Unsupported("nested array items")
        prog.ops.append(_RET)
        shapes_by_pos[patch_pos] = item_shape

    def resolve(sh):
        if sh is None:
            return None
        tag = sh[0]
        if tag == "leaf":
            return sh
        if tag == "record":
            return ("record", [(n, resolve(s)) for n, s in sh[1]])
        if tag == "array":
            _, CL, _unused, head = sh
            return ("array", CL, shapes_by_pos[head + 1])
        raise AssertionError(tag)

    shape = resolve(shape)
    ops = np.array(prog.ops, dtype=np.int32)
    kinds = np.array([_KIND_CODE[lf.kind] for lf in prog.leaves],
                     dtype=np.int32)
    result = (ops, kinds, prog.leaves, shape)
    _PROGRAMS[schema_json] = result
    return result


_PROGRAMS: dict[bytes, tuple] = {}


# ------------------------------------------------------------ decode

_PP = ctypes.POINTER(ctypes.c_void_p)


def _ptr_array(arrs, nleaves):
    """void*[nleaves] with entries for the given {leaf: ndarray}."""
    out = (ctypes.c_void_p * nleaves)()
    for i, a in arrs.items():
        out[i] = a.ctypes.data_as(ctypes.c_void_p).value
    return out


def decode_columnar(raw: bytes):
    """C-kernel decode of one OCF file.

    Returns ``(schema, n_rows, finished)`` where ``finished`` is the
    schema's nested dict of pyarrow arrays (numpy object arrays for
    decimals; ``{"offsets", "valid", "items"}`` for arrays), or raises
    :class:`Unsupported` when no kernel is available or the schema is
    outside the subset (callers fall back to ``avro_ocf.read_ocf``)."""
    lib = _lib()
    if lib is None:
        raise Unsupported("no C kernel available")
    meta, counts, datas = scan_blocks(raw)
    schema = json.loads(meta["avro.schema"])
    ops, kinds, leaves, shape = compile_program(meta["avro.schema"],
                                                schema)
    n_rows = int(sum(counts))
    # pad generously: a corrupt record can overrun its block by at most
    # one record's worth of unchecked varint reads (<= 10 bytes per op)
    # before the per-record boundary check rejects it — keep that
    # overrun inside the buffer
    buf = np.frombuffer(
        b"".join(datas) + bytes(PAD + 10 * int(ops.shape[0])), np.uint8)
    lens = np.array([len(d) for d in datas], np.int64)
    bend = np.cumsum(lens)
    bstart = bend - lens
    bcount = np.array(counts, np.int64)
    nleaves = len(leaves)
    nl = np.zeros(nleaves, np.int64)
    sb = np.zeros(nleaves, np.int64)
    nullp = (ctypes.c_void_p * nleaves)()

    def call(fill, i64=None, f64=None, f32=None, bl=None, slen=None,
             sdata=None, valid=None):
        return lib.decode_file(
            buf.ctypes.data_as(ctypes.c_void_p),
            bstart.ctypes.data_as(ctypes.c_void_p),
            bend.ctypes.data_as(ctypes.c_void_p),
            bcount.ctypes.data_as(ctypes.c_void_p),
            ctypes.c_int32(len(counts)),
            ops.ctypes.data_as(ctypes.c_void_p),
            kinds.ctypes.data_as(ctypes.c_void_p),
            i64 or nullp, f64 or nullp, f32 or nullp, bl or nullp,
            slen or nullp, sdata or nullp, valid or nullp,
            nl.ctypes.data_as(ctypes.POINTER(ctypes.c_int64)),
            sb.ctypes.data_as(ctypes.POINTER(ctypes.c_int64)),
            ctypes.c_int32(fill))

    rc = call(0)
    if rc != 0:
        raise ValueError(f"C avro decode (measure) failed rc={rc} — "
                         f"corrupt file or kernel bug; refusing")
    counts_per_leaf = nl.copy()
    bytes_per_leaf = sb.copy()

    i64a, f64a, f32a, bla, slena, sdataa, valida = {}, {}, {}, {}, {}, {}, {}
    for i, lf in enumerate(leaves):
        k = int(counts_per_leaf[i])
        valida[i] = np.empty(k, np.uint8)
        if lf.kind == "i64":
            i64a[i] = np.empty(k, np.int64)
        elif lf.kind == "f64":
            f64a[i] = np.empty(k, np.float64)
        elif lf.kind == "f32":
            f32a[i] = np.empty(k, np.float32)
        elif lf.kind == "bool":
            bla[i] = np.empty(k, np.uint8)
        else:
            slena[i] = np.empty(k, np.int64)
            sdataa[i] = np.empty(int(bytes_per_leaf[i]), np.uint8)
    nl[:] = 0
    sb[:] = 0
    rc = call(1, _ptr_array(i64a, nleaves), _ptr_array(f64a, nleaves),
              _ptr_array(f32a, nleaves), _ptr_array(bla, nleaves),
              _ptr_array(slena, nleaves), _ptr_array(sdataa, nleaves),
              _ptr_array(valida, nleaves))
    if rc != 0:
        raise ValueError(f"C avro decode (fill) failed rc={rc}")

    def finish_leaf(i):
        lf = leaves[i]
        valid = valida[i].view(bool)
        m = valid.shape[0]
        if lf.kind == "i64":
            if lf.symbols is not None:
                idx = pa.Array.from_buffers(
                    pa.int64(), m,
                    [_bitmap(valid), pa.py_buffer(i64a[i])])
                return pa.compute.take(pa.array(lf.symbols), idx)
            arr = pa.Array.from_buffers(
                pa.int64(), m, [_bitmap(valid), pa.py_buffer(i64a[i])])
            if lf.logical in ("timestamp-millis",
                              "local-timestamp-millis"):
                arr = arr.cast(pa.timestamp("ms")).cast(pa.timestamp("us"))
            elif lf.logical in ("timestamp-micros",
                                "local-timestamp-micros"):
                arr = arr.cast(pa.timestamp("us"))
            return arr
        if lf.kind == "f64":
            return pa.Array.from_buffers(
                pa.float64(), m, [_bitmap(valid), pa.py_buffer(f64a[i])])
        if lf.kind == "f32":
            return pa.Array.from_buffers(
                pa.float32(), m, [_bitmap(valid), pa.py_buffer(f32a[i])])
        if lf.kind == "bool":
            return pa.Array.from_buffers(
                pa.bool_(), m,
                [_bitmap(valid), _bitmap(bla[i].view(bool))])
        offsets = np.zeros(m + 1, np.int64)
        np.cumsum(slena[i], out=offsets[1:])
        if lf.decimal_scale is not None:
            from decimal import Decimal
            ob = sdataa[i].tobytes()
            scale = lf.decimal_scale
            return np.array(
                [Decimal(int.from_bytes(ob[offsets[j]:offsets[j + 1]],
                                        "big", signed=True))
                 .scaleb(-scale) if valid[j] else None
                 for j in range(m)], dtype=object)
        typ = pa.large_utf8() if lf.utf8 else pa.large_binary()
        arr = pa.Array.from_buffers(
            typ, m, [_bitmap(valid), pa.py_buffer(offsets),
                     pa.py_buffer(sdataa[i])])
        return arr.cast(pa.string() if lf.utf8 else pa.binary())

    def assemble(sh):
        tag = sh[0]
        if tag == "leaf":
            return finish_leaf(sh[1])
        if tag == "record":
            return {name: assemble(s) for name, s in sh[1]}
        # array: row offsets + validity over the flattened items
        _, CL, item_shape = sh
        cnt_valid = valida[CL].view(bool)
        cnts = i64a[CL]
        offsets = np.zeros(n_rows + 1, np.int64)
        np.cumsum(cnts, out=offsets[1:])
        return {"offsets": offsets, "valid": cnt_valid,
                "items": assemble(item_shape)}

    return schema, n_rows, assemble(shape)
