"""Native (C) Avro block decode for flat scalar schemas.

The pure-Python schema-compiled decoder (avro_decode.py) runs ~5-8 MB/s
per core — the declared floor of every avro scan. This module compiles a
single schema-GENERIC C kernel once per machine (gcc -O3 → a cached .so
under the system tempdir, loaded with ctypes) and decodes whole blocks
into preallocated numpy buffers; pyarrow arrays are built from those
buffers without a per-cell Python step. Field layout is passed as data
(kind / nullable / null-tag arrays), so one .so serves every schema.

Scope: exactly the shapes the engine writes for data files — int / long /
float / double / boolean / string / bytes and the date /
timestamp-micros / local-timestamp-micros logicals, each plain or as a
two-branch ["null", X] union. Anything else (decimal / array / map /
record, multi-branch unions) → `native_block_decoder` returns None and
callers keep the Python path, which remains the universal fallback and
the correctness arbiter:

- if gcc is missing, compilation fails, or the .so cannot load, the
  native path silently disables itself;
- before first use a SELF-TEST decodes a synthetic container (all
  supported kinds, nulls, int64/varint edges, NaN/±inf, empty and
  multibyte strings) through BOTH paths and compares the arrow tables;
  any mismatch disables the native path for the process;
- the kernel bounds-checks every read and returns a negative error code
  (raised as ValueError) instead of reading out of bounds;
- decoded string columns are fully validated as UTF-8
  (`Array.validate(full=True)`), matching the Python path's
  bytes.decode() strictness.

There is no switch to force the Python decoder: the native decoder's A/B
against it is on record, and a test forces the fallback by making
`native_block_decoder` return None.

Parity note: the reference reads Avro through a JVM columnar reader
(paimon-format/.../avro/AvroBulkFormat.java); this is the same
"decode a block into column vectors in native code" design reached from
Python, per the Avro 1.11 container spec.
"""

from __future__ import annotations

import os

_K_LONG, _K_DOUBLE, _K_FLOAT, _K_BOOL, _K_STR = 0, 1, 2, 3, 4

_SRC = r"""
#include <stdint.h>
#include <string.h>

/* zigzag varint; returns new pos or -2 (too long) / -1 (overrun) */
static inline long long rd_varint(const uint8_t* data, long long pos,
                                  long long len, int64_t* out) {
    uint64_t acc = 0; int sh = 0; uint8_t b;
    for (;;) {
        if (pos >= len) return -1;
        if (sh > 63) return -2;
        b = data[pos++];
        acc |= (uint64_t)(b & 0x7F) << sh;
        if (!(b & 0x80)) break;
        sh += 7;
    }
    *out = (int64_t)(acc >> 1) ^ -(int64_t)(acc & 1);
    return pos;
}

/* Decode n rows from data[pos:len) into per-field buffers.
   kinds: 0=long-ish varint, 1=double, 2=float, 3=bool, 4=string/bytes.
   For kind 4: values[f] is the byte sink, offsets[f] is int32[n+1] with
   offsets[f][0] preset by the caller. valids[f] (uint8[n]) is non-NULL
   iff the field is a ["null", X] union; null_tag[f] is the union index
   of the null branch. Returns the end offset, or a negative error:
   -1 overrun, -2 varint too long, -3 bad union tag, -4 bad byte length,
   -5 bad kind. */
long long avro_decode_block(const uint8_t* data, long long pos,
                            long long len, long long n,
                            const int32_t* kinds, const int32_t* nullable,
                            const int32_t* null_tag, int32_t nf,
                            uint8_t** values, int32_t** offsets,
                            uint8_t** valids) {
    for (long long r = 0; r < n; r++) {
        for (int32_t f = 0; f < nf; f++) {
            int isnull = 0;
            if (nullable[f]) {
                int64_t tag;
                pos = rd_varint(data, pos, len, &tag);
                if (pos < 0) return pos;
                if (tag == null_tag[f]) isnull = 1;
                else if (tag != (null_tag[f] ^ 1)) return -3;
                valids[f][r] = (uint8_t)!isnull;
            }
            switch (kinds[f]) {
            case 0: {  /* int/long/date/timestamp varint */
                int64_t v = 0;
                if (!isnull) {
                    pos = rd_varint(data, pos, len, &v);
                    if (pos < 0) return pos;
                }
                ((int64_t*)values[f])[r] = v;
                break; }
            case 1: {  /* double */
                double v = 0;
                if (!isnull) {
                    if (pos + 8 > len) return -1;
                    memcpy(&v, data + pos, 8); pos += 8;
                }
                ((double*)values[f])[r] = v;
                break; }
            case 2: {  /* float */
                float v = 0;
                if (!isnull) {
                    if (pos + 4 > len) return -1;
                    memcpy(&v, data + pos, 4); pos += 4;
                }
                ((float*)values[f])[r] = v;
                break; }
            case 3: {  /* boolean: byte==1, matching the Python decoder */
                uint8_t v = 0;
                if (!isnull) {
                    if (pos >= len) return -1;
                    v = (uint8_t)(data[pos++] == 1);
                }
                values[f][r] = v;
                break; }
            case 4: {  /* string/bytes: length varint + raw copy */
                int32_t prev = offsets[f][r];
                int64_t ln = 0;
                if (!isnull) {
                    pos = rd_varint(data, pos, len, &ln);
                    if (pos < 0) return pos;
                    if (ln < 0 || pos + ln > len) return -4;
                    memcpy(values[f] + prev, data + pos, (size_t)ln);
                    pos += ln;
                }
                offsets[f][r + 1] = prev + (int32_t)ln;
                break; }
            default: return -5;
            }
        }
    }
    return pos;
}
"""

_ERRS = {-1: "data overrun", -2: "varint too long", -3: "bad union tag",
         -4: "bad byte-length", -5: "bad field kind"}

_lib = None            # loaded CDLL
_disabled = False      # set on any compile/load/self-test failure
_tested = False


def _load_lib():
    """Compile (once per machine, atomically) and ctypes-load the kernel."""
    global _lib
    if _lib is not None:
        return _lib
    import ctypes
    import hashlib
    import subprocess
    import tempfile

    h = hashlib.sha1(_SRC.encode()).hexdigest()[:12]
    d = os.path.join(tempfile.gettempdir(), f"pmn_avro_native_{h}")
    so = os.path.join(d, "libavrodec.so")
    if not os.path.exists(so):
        os.makedirs(d, exist_ok=True)
        src = os.path.join(d, "avrodec.c")
        with open(src, "w") as f:
            f.write(_SRC)
        # unique temp name + rename: concurrent workers race benignly
        tmp = os.path.join(d, f"build_{os.getpid()}.so")
        subprocess.run(["gcc", "-O3", "-shared", "-fPIC", "-o", tmp, src],
                       check=True, capture_output=True, timeout=120)
        os.replace(tmp, so)
    lib = ctypes.CDLL(so)
    fn = lib.avro_decode_block
    fn.restype = ctypes.c_longlong
    fn.argtypes = [
        ctypes.c_char_p, ctypes.c_longlong, ctypes.c_longlong,
        ctypes.c_longlong,
        ctypes.POINTER(ctypes.c_int32), ctypes.POINTER(ctypes.c_int32),
        ctypes.POINTER(ctypes.c_int32), ctypes.c_int32,
        ctypes.POINTER(ctypes.c_void_p), ctypes.POINTER(ctypes.c_void_p),
        ctypes.POINTER(ctypes.c_void_p),
    ]
    _lib = lib
    return lib


def _field_spec(ftype):
    """-> (kind, nullable, null_tag, inner_type) or None if unsupported."""
    nullable, null_tag, inner = 0, 0, ftype
    if isinstance(ftype, list):
        if len(ftype) != 2 or "null" not in ftype:
            return None
        null_tag = ftype.index("null")
        inner = ftype[1 - null_tag]
        if inner == "null":
            return None
        nullable = 1
    lt = inner.get("logicalType") if isinstance(inner, dict) else None
    t = inner["type"] if isinstance(inner, dict) else inner
    if lt in ("date", "timestamp-micros", "local-timestamp-micros"):
        return (_K_LONG, nullable, null_tag, inner)
    if lt is not None:
        return None  # decimal etc.
    if t in ("int", "long"):
        return (_K_LONG, nullable, null_tag, inner)
    if t == "double":
        return (_K_DOUBLE, nullable, null_tag, inner)
    if t == "float":
        return (_K_FLOAT, nullable, null_tag, inner)
    if t == "boolean":
        return (_K_BOOL, nullable, null_tag, inner)
    if t in ("string", "bytes"):
        return (_K_STR, nullable, null_tag, inner)
    return None


class _NativeDecoder:
    """Per-schema wrapper: decode_block(bytes, n) -> list[pa.Array],
    columns in field order with the same arrow types the Python
    decoder's _arrow_builder produces."""

    def __init__(self, fields, specs):
        import ctypes

        import numpy as np

        from .avro_codec import avro_type_to_arrow

        self._np = np
        self._ct = ctypes
        self.fields = fields
        self.kinds = np.array([s[0] for s in specs], np.int32)
        self.nullable = np.array([s[1] for s in specs], np.int32)
        self.null_tag = np.array([s[2] for s in specs], np.int32)
        self.inners = [s[3] for s in specs]
        self.arrow_types = [avro_type_to_arrow(f["type"])[0]
                            for f in fields]
        self.is_string = [
            (i.get("logicalType") is None if isinstance(i, dict) else True)
            and (i["type"] if isinstance(i, dict) else i) == "string"
            for i in self.inners]
        self._i32p = ctypes.POINTER(ctypes.c_int32)

    def decode_block(self, block: bytes, n: int):
        np, ct = self._np, self._ct
        import pyarrow as pa

        nf = len(self.fields)
        blen = len(block)
        vals, offs, valid = [], [], []
        vptr = (ct.c_void_p * nf)()
        optr = (ct.c_void_p * nf)()
        mptr = (ct.c_void_p * nf)()
        for f in range(nf):
            k = self.kinds[f]
            if k == _K_LONG:
                a = np.empty(n, np.int64)
            elif k == _K_DOUBLE:
                a = np.empty(n, np.float64)
            elif k == _K_FLOAT:
                a = np.empty(n, np.float32)
            elif k == _K_BOOL:
                a = np.empty(n, np.uint8)
            else:  # K_STR: block length bounds any field's total bytes
                a = np.empty(max(blen, 1), np.uint8)
                o = np.zeros(n + 1, np.int32)
                offs.append(o)
                optr[f] = ct.cast(o.ctypes.data, ct.c_void_p)
            vals.append(a)
            vptr[f] = ct.cast(a.ctypes.data, ct.c_void_p)
            if k != _K_STR:
                offs.append(None)
            if self.nullable[f]:
                m = np.empty(n, np.uint8)
                valid.append(m)
                mptr[f] = ct.cast(m.ctypes.data, ct.c_void_p)
            else:
                valid.append(None)
        end = _load_lib().avro_decode_block(
            block, 0, blen, n,
            self.kinds.ctypes.data_as(self._i32p),
            self.nullable.ctypes.data_as(self._i32p),
            self.null_tag.ctypes.data_as(self._i32p),
            nf, vptr, optr, mptr)
        if end < 0:
            raise ValueError(
                f"avro native decode failed: {_ERRS.get(end, end)}")
        if end != blen:
            raise ValueError("avro block under/over-read "
                             f"({end} of {blen} bytes)")

        arrays = []
        for f in range(nf):
            k = self.kinds[f]
            at = self.arrow_types[f]
            if self.nullable[f]:
                mask = valid[f] == 0
                if not mask.any():
                    mask = None
            else:
                mask = None
            if k == _K_STR:
                o = offs[f]
                total = int(o[n])
                data_buf = pa.py_buffer(vals[f][:total].tobytes())
                if mask is None:
                    vbuf, nulls = None, 0
                else:
                    vbuf = pa.py_buffer(
                        np.packbits(valid[f], bitorder="little").tobytes())
                    nulls = int(mask.sum())
                pa_t = pa.string() if self.is_string[f] else pa.binary()
                arr = pa.Array.from_buffers(
                    pa_t, n, [vbuf, pa.py_buffer(o.tobytes()), data_buf],
                    null_count=nulls)
                if self.is_string[f]:
                    arr.validate(full=True)  # UTF-8, like bytes.decode()
                if arr.type != at:
                    arr = arr.cast(at)
            else:
                if k == _K_BOOL:
                    arr = pa.array(vals[f].view(np.bool_), mask=mask)
                else:
                    arr = pa.array(vals[f], mask=mask)
                # same cast chain as avro_decode._arrow_builder: ints
                # narrow with overflow checks, temporals cast from raw
                if arr.type != at:
                    if pa.types.is_date32(at):
                        arr = arr.cast(pa.int32())
                    arr = arr.cast(at)
            arrays.append(arr)
        return arrays


def native_block_decoder(schema: dict):
    """-> _NativeDecoder for this writer schema, or None when the schema
    has non-flat fields, native is disabled, or the self-test failed."""
    global _disabled, _tested
    if _disabled:
        return None
    specs = []
    for f in schema["fields"]:
        s = _field_spec(f["type"])
        if s is None:
            return None
        specs.append(s)
    try:
        if not _tested:
            _self_test()
            _tested = True
        return _NativeDecoder(schema["fields"], specs)
    except Exception:
        _disabled = True
        return None


def _self_test():
    """Decode a synthetic container through the native path and the
    pure-Python compiled decoder; any difference disables native."""
    import math

    from pyspark.sql import types as T

    from . import avro_decode as D
    from .avro_codec import spark_schema_to_avro, write_container

    sch = T.StructType([
        T.StructField("l", T.LongType(), nullable=False),
        T.StructField("ln", T.LongType()),
        T.StructField("i", T.IntegerType()),
        T.StructField("d", T.DoubleType()),
        T.StructField("fl", T.FloatType()),
        T.StructField("b", T.BooleanType()),
        T.StructField("s", T.StringType()),
        T.StructField("bin", T.BinaryType()),
        T.StructField("dt", T.DateType()),
        T.StructField("ts", T.TimestampNTZType()),
    ])
    avs = spark_schema_to_avro(sch)
    from datetime import date, datetime
    vals = [0, 1, -1, 2**63 - 1, -(2**63), 63, -64, 64, 300, -301]
    rows = [{
        "l": vals[i % len(vals)],
        "ln": None if i % 3 == 0 else vals[(i + 2) % len(vals)],
        "i": None if i % 7 == 0 else (i - 40) * 2**20,
        # NaN deliberately absent here (Table.equals treats NaN != NaN);
        # NaN bit-exactness is pinned nan-aware in tests/test_avro.py
        "d": [3.125, math.inf, -math.inf, -0.0, 2.5e-308, 1.0][i % 6]
        if i % 4 else None,
        "fl": None if i % 5 == 0 else float(i) / 3,
        "b": None if i % 11 == 0 else (i % 2 == 0),
        "s": None if i % 2 == 0 else ("ü" * (i % 7) + f"v{i}"),
        "bin": None if i % 6 == 0 else bytes([i % 256]) * (i % 5),
        "dt": None if i % 3 == 1 else date(2024, 1 + i % 12, 1 + i % 28),
        "ts": None if i % 9 == 0 else datetime(2024, 2, 3, 4, 5, 6, i),
    } for i in range(97)]
    data = write_container(avs, rows, block_rows=16)

    import io as _io
    buf = _io.BytesIO(data)
    schema, codec, sync = D.parse_header(buf)
    nd = _NativeDecoder(schema["fields"],
                        [_field_spec(f["type"]) for f in schema["fields"]])
    decode_block, fields = D.compile_decoder(schema)
    import zlib
    import pyarrow as pa
    from .avro_codec import read_long
    native_chunks, cols = [], [[] for _ in fields]
    while True:
        head = buf.read(1)
        if not head:
            break
        buf.seek(-1, 1)
        n = read_long(buf)
        size = read_long(buf)
        block = buf.read(size)
        if codec == "deflate":
            block = zlib.decompress(block, -15)
        native_chunks.append(nd.decode_block(block, n))
        decode_block(block, 0, n, cols)
        buf.read(16)
    native_tbl = pa.Table.from_arrays(
        [pa.chunked_array([c[i] for c in native_chunks])
         for i in range(len(fields))],
        names=[f["name"] for f in fields])
    py_tbl = D._finish_table(fields, cols, None)
    if not native_tbl.equals(py_tbl):
        raise AssertionError("native avro decode mismatch vs python path")
