"""Direct Arrow → Avro data-file write: the one way avro data files get
written.

A write task walks its Arrow batches, groups rows by layout (partition +
bucket), encodes each group straight into avro container blocks with the
vectorized columnar encoder (avro_encode), rolls files at
`maxRecordsPerFile` or at the table's target-file-size, and computes each
file's column stats and bloom index FROM THE ARROW DATA in the same pass.
It ships back O(files) small rows (path, size, partition, bucket, stats,
file_index) and the driver never touches data (write.build_add_entries).
Table.write runs it as one `mapInArrow` job (write_avro_staging); the
DataSource writers run _GroupWriter inside their own write tasks.

Stats parity is the correctness surface: the manifest min/max/null_count
feed file pruning, `_SEQUENCE_NUMBER` ordering and the `_VALUE_KIND`
delete-row proof, so the numbers here replicate what Spark-written parquet
footers produce for the SAME rows, pinned against a parquet table written
from the same input by tests/test_avro_direct.py:

- nested columns (array/map/struct): parquet exposes only dotted leaf paths,
  which collect_file_stats skips → NO stats entry at all;
- TimestampType (tz-aware): Spark writes it as INT96, which carries no
  footer statistics → entry is exactly ``{"null_count": 0}`` (even when the
  column holds nulls); TimestampNTZType is INT64 and gets real stats;
- DecimalType: pyarrow cannot cast the footer's min/max → real null_count,
  no min/max;
- float/double: parquet-mr orders by Java Double.compare — NaN is the
  LARGEST value (all NaNs equal), -0.0 < 0.0 — so min/max use the IEEE
  total-order bit trick with NaNs canonicalized, not IEEE min/max;
- string/bytes: when encoded min+max total ≥ 4096 bytes parquet-mr drops the
  whole statistics object (ParquetMetadataConverter MAX_STATS_SIZE), and the
  footer reader then reports ``{"null_count": 0}`` — replicated verbatim;
- stats_mode none/counts/truncate(16)/full post-processing is shared with
  the footer path via metadata.stats._truncate/_jsonable.

Task-retry safety: file names are uuid-unique per attempt; the driver only
trusts the rows returned by SUCCESSFUL attempts, and
`_move_into_layout` moves exactly those files before deleting the staging
dir, so a failed attempt's orphans are swept with the staging dir.
"""

from __future__ import annotations

import struct

from ..metadata.stats import _jsonable, _truncate

# encode buffered rows into container blocks once this much raw arrow data
# (or target-file-size, if smaller) is buffered. Files also roll at
# target-file-size of encoded bytes, so a task holds at most ~one flush of
# raw columns plus one target-size file per open layout group.
FLUSH_BYTES = 32 << 20

_pack_d = struct.Struct("<d").pack


def _jkey(v: float) -> int:
    """Java Double.compare total-order key: sign-flipped IEEE bits.
    NaN (any payload) sorts above +inf; -0.0 below 0.0."""
    (b,) = struct.unpack("<q", _pack_d(v))
    return b if b >= 0 else b ^ 0x7FFFFFFFFFFFFFFF


def _stat_kind(dt) -> str:
    """Spark field type -> stats rule (see module docstring)."""
    from pyspark.sql import types as T

    if isinstance(dt, (T.ArrayType, T.MapType, T.StructType)):
        return "skip"
    if isinstance(dt, T.TimestampType):
        return "int96"      # Spark's parquet writes NO stats for INT96
    if isinstance(dt, T.DecimalType):
        return "counts"     # footer min/max uncastable by pyarrow
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return "float"
    if isinstance(dt, T.StringType):
        return "str"
    if isinstance(dt, T.BinaryType):
        return "bytes"
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                       T.BooleanType, T.DateType, T.TimestampNTZType,
                       T.CharType, T.VarcharType)):
        return "str" if isinstance(dt, (T.CharType, T.VarcharType)) else "plain"
    return "counts"         # unknown/exotic: null counts only (conservative)


def _float_minmax(arr):
    """(min, max) of a no-null float64 numpy array under Java total order."""
    import numpy as np

    a = np.ascontiguousarray(arr, dtype="<f8")
    a = np.where(np.isnan(a), np.float64("nan"), a)  # canonicalize -NaN
    bits = a.view(np.int64)
    key = np.where(bits >= 0, bits, bits ^ np.int64(0x7FFFFFFFFFFFFFFF))
    return float(a[int(np.argmin(key))]), float(a[int(np.argmax(key))])


class _ColStats:
    """Incremental per-column stats accumulator mirroring parquet footers."""

    __slots__ = ("kind", "nulls", "mn", "mx", "have")

    def __init__(self, kind: str):
        self.kind = kind
        self.nulls = 0
        self.mn = self.mx = None
        self.have = False   # saw at least one non-null value

    def update(self, arr):
        """arr: pyarrow ChunkedArray/Array for one chunk of the file."""
        import pyarrow.compute as pc

        self.nulls += arr.null_count
        if self.kind in ("skip", "int96", "counts"):
            return
        if arr.null_count == len(arr):
            return
        if self.kind == "float":
            vals = arr.drop_null() if arr.null_count else arr
            import pyarrow as pa
            np_vals = vals.cast(pa.float64()).to_numpy()
            mn, mx = _float_minmax(np_vals)
            if not self.have:
                self.mn, self.mx, self.have = mn, mx, True
            else:
                if _jkey(mn) < _jkey(self.mn):
                    self.mn = mn
                if _jkey(mx) > _jkey(self.mx):
                    self.mx = mx
            return
        mm = pc.min_max(arr)
        mn, mx = mm["min"].as_py(), mm["max"].as_py()
        if mn is None:
            return
        if not self.have:
            self.mn, self.mx, self.have = mn, mx, True
        else:
            if mn < self.mn:
                self.mn = mn
            if mx > self.mx:
                self.mx = mx

    def finish(self, stats_mode: str, float32: bool) -> dict:
        """Final {"null_count":…[,"min","max"]} entry, or None to omit the
        column entirely (nested types)."""
        if self.kind == "skip":
            return None
        if self.kind == "int96":
            return {"null_count": 0}
        entry = {"null_count": self.nulls}
        if (self.kind == "counts" or stats_mode == "counts"
                or not self.have):
            return entry
        mn, mx = self.mn, self.mx
        if self.kind in ("str", "bytes"):
            bn = mn.encode("utf-8") if isinstance(mn, str) else mn
            bx = mx.encode("utf-8") if isinstance(mx, str) else mx
            if len(bn) + len(bx) >= 4096:
                # parquet-mr drops the whole stats object (incl. null count)
                return {"null_count": 0}
        if self.kind == "float" and float32:
            # the footer reports the float32 value widened to double
            mn = struct.unpack("<f", struct.pack("<f", mn))[0]
            mx = struct.unpack("<f", struct.pack("<f", mx))[0]
        tmn = _truncate(mn, stats_mode, is_max=False)
        tmx = _truncate(mx, stats_mode, is_max=True)
        if tmn is not None:
            entry["min"] = _jsonable(tmn)
        if tmx is not None:
            entry["max"] = _jsonable(tmx)
        return entry


class AvroFileSpec:
    """What every file of one write shares: the container schema and
    header, the per-column stats rules, bloom columns and roll sizes.
    Plain picklable data, built on the driver or in the task."""

    def __init__(self, file_schema, staging: str, stats_mode: str,
                 max_rec: int | None, bloom_cols, target_size: int):
        from pyspark.sql import types as T

        from .avro_codec import spark_schema_to_avro
        from .avro_encode import container_header_bytes
        self.avro_schema = spark_schema_to_avro(file_schema)
        self.header = container_header_bytes(self.avro_schema, "deflate")
        self.names = [f.name for f in file_schema.fields]
        self.stat_kinds = [
            "skip" if stats_mode == "none" else _stat_kind(f.dataType)
            for f in file_schema.fields]
        self.float32 = [isinstance(f.dataType, T.FloatType)
                        for f in file_schema.fields]
        self.stats_mode = stats_mode
        self.staging = staging
        self.max_rec = max_rec
        self.bloom_cols = list(bloom_cols)
        self.target_size = target_size
        self.flush_at = min(FLUSH_BYTES, target_size)


class _GroupWriter:
    """One open avro container per layout group (partition, bucket); rolls
    at max_rec rows or target_size encoded bytes. `results` collects
    (path, size, partition, bucket, stats, file_index) per closed file."""

    def __init__(self, spec: AvroFileSpec, partition: dict, bucket: int):
        self.spec = spec
        self.partition = partition
        self.bucket = bucket
        self.results = []
        self._new_file()

    def _new_file(self):
        from ..write import FileBloom
        self.parts = [self.spec.header]
        self.size = len(self.spec.header)   # encoded bytes so far
        self.buf = []              # raw arrow tables awaiting encode
        self.buf_bytes = 0
        self.rows = 0
        self.stats = [_ColStats(k) for k in self.spec.stat_kinds]
        self.bloom = FileBloom(self.spec.bloom_cols)

    def append(self, tbl):
        """tbl: pyarrow Table of the file's columns only (layout already
        stripped), rows in input order."""
        s = self.spec
        # slice so one flush stays near flush_at even from one huge batch.
        # Buffer sizes, not nbytes: pyarrow's nbytes reads the offsets of
        # an empty nested map child, which Spark's Arrow batches ship as a
        # zero-length buffer (segfault); a slice counts its whole buffers,
        # so a flush may come early, never late
        step = max(1, s.flush_at * tbl.num_rows
                   // max(tbl.get_total_buffer_size(), 1))
        while tbl.num_rows:
            room = min(step, s.max_rec - self.rows) if s.max_rec else step
            take, tbl = tbl.slice(0, room), tbl.slice(room)
            for st, col in zip(self.stats, take.columns):
                st.update(col)
            self.bloom.add(take)
            self.buf.append(take)
            self.buf_bytes += take.get_total_buffer_size()
            self.rows += take.num_rows
            if self.buf_bytes >= s.flush_at:
                self._flush()
            if self.rows == s.max_rec or self.size >= s.target_size:
                self.close_file()

    def _flush(self):
        import pyarrow as pa

        from .avro_encode import encode_container_blocks
        if not self.buf:
            return
        chunk = (self.buf[0] if len(self.buf) == 1
                 else pa.concat_tables(self.buf))
        blocks = encode_container_blocks(chunk, self.spec.avro_schema)
        self.parts.append(blocks)
        self.size += len(blocks)
        self.buf, self.buf_bytes = [], 0

    def close_file(self):
        """Write the open file (if it has rows) and start a new one."""
        from ..fileio import for_path
        from ..metadata.util import new_uuid
        s = self.spec
        if self.rows:
            self._flush()
            data = b"".join(self.parts)
            path = f"{s.staging}/part-{new_uuid()}.avro"
            for_path(path).write_overwrite(path, data)
            cols = {}
            for name, st, f32 in zip(s.names, self.stats, s.float32):
                entry = st.finish(s.stats_mode, f32)
                if entry is not None:
                    cols[name] = entry
            self.results.append((
                path, len(data), self.partition, self.bucket,
                {"_row_count": self.rows, "cols": cols}, self.bloom.index()))
        self._new_file()


def write_avro_staging(spark, df, layout_cols: list[str], staging: str,
                       stats_mode: str, max_rec: int | None, bloom_cols,
                       target_size: int):
    """Table.write's avro data-file write, one mapInArrow job; returns
    {staging_path: (size, partition, bucket, stats, file_index)}.

    `df` must already carry the layout columns (``__pt_*`` + ``__bucket``)
    and have its final partitioning/sort applied."""
    from ..metadata.util import dumps, loads
    from ..write import BUCKET_COL, PT_PREFIX, _partition_value

    spec = AvroFileSpec(df.drop(*layout_cols).schema, staging, stats_mode,
                        max_rec, bloom_cols, target_size)
    layout = list(layout_cols)

    def task(batches):
        import pyarrow as pa

        writers: dict[tuple, _GroupWriter] = {}

        def writer_for(key_vals) -> _GroupWriter:
            key = tuple(key_vals)
            w = writers.get(key)
            if w is None:
                vals = dict(zip(layout, key))
                part = {c[len(PT_PREFIX):]: _partition_value(v)
                        for c, v in vals.items() if c != BUCKET_COL}
                w = writers[key] = _GroupWriter(spec, part,
                                                vals.get(BUCKET_COL, 0))
            return w

        for b in batches:
            tbl = pa.Table.from_batches([b])
            data = tbl.select(spec.names)
            lay = [tbl.column(c) for c in layout]
            # fast path: the whole batch belongs to one layout group
            uniques = [c.unique() for c in lay]
            if all(len(u) == 1 for u in uniques):
                writer_for([u[0].as_py() for u in uniques]).append(data)
                continue
            # general path: order-preserving split by layout tuple
            keys = list(zip(*[c.to_pylist() for c in lay]))
            order: list[tuple] = []
            groups: dict[tuple, list[int]] = {}
            for i, k in enumerate(keys):
                g = groups.get(k)
                if g is None:
                    groups[k] = [i]
                    order.append(k)
                else:
                    g.append(i)
            for k in order:
                writer_for(k).append(data.take(groups[k]))

        out = []
        for w in writers.values():
            w.close_file()
            out.extend(w.results)
        if out:
            path, size, part, bucket, stats, fidx = zip(*out)
            yield pa.RecordBatch.from_arrays(
                [pa.array(path, pa.string()), pa.array(size, pa.int64()),
                 pa.array([dumps(p) for p in part], pa.string()),
                 pa.array(bucket, pa.int32()),
                 pa.array([dumps(st) for st in stats], pa.string()),
                 pa.array([dumps(f) for f in fidx], pa.string())],
                names=["path", "size", "partition", "bucket", "stats",
                       "file_index"])

    rows = (df.mapInArrow(task, schema="path string, size long, "
                          "partition string, bucket int, stats string, "
                          "file_index string")
              .collect())
    return {r["path"]: (r["size"], loads(r["partition"]), r["bucket"],
                        loads(r["stats"]), loads(r["file_index"]))
            for r in rows}
