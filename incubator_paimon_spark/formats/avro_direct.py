"""Direct Arrow → data-file write: the one task-side writer of avro, parquet
and orc data files.

A write task walks its Arrow batches and `write_layout` groups their rows
by layout (partition + bucket); each group's _GroupWriter encodes its rows
in the table's file.format, rolls files at `maxRecordsPerFile` or at the
table's target-file-size, and computes each file's column stats and bloom
index FROM THE ARROW DATA in the same pass. The encoders:

- avro: container blocks from the vectorized columnar encoder
  (avro_encode), deflate;
- parquet / orc: pyarrow's incremental writers on an in-memory sink, with
  the table's file.compression. Parquet footers carry no statistics for
  float/double columns (pyarrow leaves NaN out of min/max, and Spark's
  row-group pushdown trusts them); ORC stores timestamps as Spark's own
  ORC writer does (TimestampType a plain ORC `timestamp` of the UTC wall
  clock, NTZ a tagged bigint), which is what Spark's ORC reader accepts.

It ships back O(files) small rows (path, size, partition, bucket, stats,
file_index) and the driver never touches data (write.build_add_entries).
Table.write runs it for avro as one `mapInArrow` job (write_avro_staging);
the DataSource writers run write_layout inside their own write tasks.

The stats rule (_ColStats) is the correctness surface: the manifest
min/max/null_count feed file pruning, `_SEQUENCE_NUMBER` ordering and the
`_VALUE_KIND` delete-row proof. Wherever a Spark-written parquet footer
carries statistics, the numbers equal the footer's for the SAME rows,
pinned against a parquet table written from the same input by
tests/test_avro_direct.py. A column the rule cannot bound gets NO entry,
which the planner reads as "unknown" (never a null count of 0, which would
prune the file from an IS NULL read):

- nested columns (array/map/struct): parquet exposes only dotted leaf
  paths, which collect_file_stats skips → no entry;
- timestamps: real bounds, as the naive datetimes Spark's Python
  conversion gives (TimestampType in local wall clock, NTZ as stored).
  Spark's parquet writes TimestampType as INT96, whose footer has no
  statistics, so such parquet files have no entry for the column;
- DecimalType: pyarrow cannot cast the footer's min/max → real
  null_count, no min/max;
- float/double: parquet-mr orders by Java Double.compare — NaN is the
  LARGEST value (all NaNs equal), -0.0 < 0.0 — so min/max use the IEEE
  total-order bit trick with NaNs canonicalized, not IEEE min/max;
- string/bytes: when encoded min+max total ≥ 4096 bytes parquet-mr drops
  the whole statistics object (ParquetMetadataConverter MAX_STATS_SIZE)
  → no entry;
- stats_mode none/counts/truncate(16)/full post-processing is shared with
  the footer path via metadata.stats._truncate/_jsonable.

Task-retry safety: file names are uuid-unique per attempt; the driver only
trusts the rows returned by SUCCESSFUL attempts, and
`_move_into_layout` moves exactly those files before deleting the staging
dir, so a failed attempt's orphans are swept with the staging dir.
"""

from __future__ import annotations

import struct
from datetime import datetime, timedelta

from ..metadata.stats import _jsonable, _truncate

# encode buffered rows into the file once this much raw arrow data (or
# target-file-size, if smaller) is buffered. Files also roll at
# target-file-size of encoded bytes, so a task holds at most ~one flush of
# raw columns plus one target-size file per open layout group.
FLUSH_BYTES = 32 << 20

_EPOCH = datetime(1970, 1, 1)


def _stat_kind(dt) -> str:
    """Spark field type -> stats rule (see module docstring)."""
    from pyspark.sql import types as T

    if isinstance(dt, (T.ArrayType, T.MapType, T.StructType)):
        return "skip"
    if isinstance(dt, T.TimestampType):
        return "ts"
    if isinstance(dt, T.TimestampNTZType):
        return "ntz"
    if isinstance(dt, T.DecimalType):
        return "counts"     # footer min/max uncastable by pyarrow
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return "float"
    if isinstance(dt, (T.StringType, T.CharType, T.VarcharType)):
        return "str"
    if isinstance(dt, T.BinaryType):
        return "bytes"
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                       T.BooleanType, T.DateType)):
        return "plain"
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
    """Incremental per-column stats accumulator (module docstring rule)."""

    __slots__ = ("kind", "float32", "stats_mode", "nulls", "mn", "mx",
                 "have")

    def __init__(self, dt, stats_mode: str):
        from pyspark.sql import types as T

        self.kind = "skip" if stats_mode == "none" else _stat_kind(dt)
        self.float32 = isinstance(dt, T.FloatType)
        self.stats_mode = stats_mode
        self.nulls = 0
        self.mn = self.mx = None
        self.have = False   # saw at least one non-null value

    def update(self, arr):
        """arr: pyarrow ChunkedArray/Array for one chunk of the file."""
        import pyarrow as pa
        import pyarrow.compute as pc

        self.nulls += arr.null_count
        if self.kind in ("skip", "counts") or arr.null_count == len(arr):
            return
        if self.kind == "float":
            import numpy as np

            vals = arr.drop_null() if arr.null_count else arr
            vals = vals.cast(pa.float64()).to_numpy()
            if self.have:
                vals = np.append(vals, [self.mn, self.mx])
            self.mn, self.mx = _float_minmax(vals)
            self.have = True
            return
        if self.kind in ("ts", "ntz"):   # µs since the epoch
            us = arr.cast(pa.timestamp("us", arr.type.tz))
            mm = pc.min_max(us.cast(pa.int64()))
            mn, mx = mm["min"].as_py(), mm["max"].as_py()
        else:
            mm = pc.min_max(arr)
            mn, mx = mm["min"].as_py(), mm["max"].as_py()
            if mn is None:
                return
        if self.have:
            mn, mx = min(mn, self.mn), max(mx, self.mx)
        self.mn, self.mx, self.have = mn, mx, True

    def finish(self) -> dict | None:
        """Final {"null_count":…[,"min","max"]} entry, or None to omit the
        column entirely (no sound bound, see module docstring)."""
        if self.kind == "skip":
            return None
        entry = {"null_count": self.nulls}
        if (self.kind == "counts" or self.stats_mode == "counts"
                or not self.have):
            return entry
        mn, mx = self.mn, self.mx
        if self.kind in ("str", "bytes"):
            bn = mn.encode("utf-8") if isinstance(mn, str) else mn
            bx = mx.encode("utf-8") if isinstance(mx, str) else mx
            if len(bn) + len(bx) >= 4096:
                return None   # parquet-mr drops the whole stats object
        if self.kind == "ts":
            # Spark's fromInternal: the instant in the local wall clock
            mn, mx = (datetime.fromtimestamp(v // 10 ** 6).replace(
                microsecond=v % 10 ** 6) for v in (mn, mx))
        elif self.kind == "ntz":
            mn, mx = (_EPOCH + timedelta(microseconds=v) for v in (mn, mx))
        elif self.kind == "float" and self.float32:
            # the footer reports the float32 value widened to double
            mn = struct.unpack("<f", struct.pack("<f", mn))[0]
            mx = struct.unpack("<f", struct.pack("<f", mx))[0]
        tmn = _truncate(mn, self.stats_mode, is_max=False)
        tmx = _truncate(mx, self.stats_mode, is_max=True)
        if tmn is not None:
            entry["min"] = _jsonable(tmn)
        if tmx is not None:
            entry["max"] = _jsonable(tmx)
        return entry


def _cols_stats(names, stats) -> dict:
    return {n: e for n, st in zip(names, stats)
            if (e := st.finish()) is not None}


def arrow_file_stats(tables, stats_mode: str) -> dict:
    """{"_row_count", "cols"} of one file read as Arrow tables in Spark's
    Arrow types, under the writers' rule: the stats of Spark's ORC files."""
    from pyspark.sql.pandas.types import from_arrow_schema

    rows, names, stats = 0, [], None
    for tbl in tables:
        if stats is None:
            names = tbl.column_names
            stats = [_ColStats(f.dataType, stats_mode) for f in
                     from_arrow_schema(tbl.schema,
                                       prefer_timestamp_ntz=True).fields]
        rows += tbl.num_rows
        for st, col in zip(stats, tbl.columns):
            st.update(col)
    return {"_row_count": rows, "cols": _cols_stats(names, stats or [])}


# Spark's file.compression names where pyarrow spells them differently
_PA_CODEC = {"parquet": {"uncompressed": "none", "lz4_raw": "lz4"},
             "orc": {"none": "uncompressed"}}


class FileSpec:
    """What every file of one write shares: the format (and for avro the
    container schema and header), the columns and their Spark types, bloom
    columns and roll sizes. Plain picklable data, built on the driver or
    in the task."""

    def __init__(self, fmt: str, file_schema, staging: str, stats_mode: str,
                 max_rec: int | None, bloom_cols, target_size: int,
                 compression: str = "snappy"):
        self.fmt = fmt
        if fmt == "avro":
            from .avro_codec import spark_schema_to_avro
            from .avro_encode import container_header_bytes
            self.avro_schema = spark_schema_to_avro(file_schema)
            self.header = container_header_bytes(self.avro_schema, "deflate")
        codec = compression.lower()
        self.compression = _PA_CODEC.get(fmt, {}).get(codec, codec)
        self.names = [f.name for f in file_schema.fields]
        self.types = [f.dataType for f in file_schema.fields]
        self.stats_mode = stats_mode
        self.staging = staging
        self.max_rec = max_rec
        self.bloom_cols = list(bloom_cols)
        self.target_size = target_size
        self.flush_at = min(FLUSH_BYTES, target_size)


def _orc_schema(schema):
    """Spark's own ORC layout for timestamps, which its ORC reader needs:
    TimestampType as a plain ORC timestamp of the UTC wall clock (the tz
    dropped, same int64 values; `timestamp with local time zone` is a
    syntax error to Spark), NTZ as a bigint of µs tagged
    spark.sql.catalyst.type."""
    import pyarrow as pa

    return pa.schema([
        f if not pa.types.is_timestamp(f.type)
        else f.with_type(pa.timestamp(f.type.unit)) if f.type.tz
        else pa.field(f.name, pa.int64(), f.nullable,
                      {"spark.sql.catalyst.type": "timestamp_ntz"})
        for f in schema])


class _Encoder:
    """One data file's bytes on an in-memory sink: avro container blocks,
    or pyarrow's incremental parquet/orc writer opened on the first
    chunk. `size` is the encoded bytes so far; ORC holds a whole stripe
    before the sink sees a byte, so there it counts the raw Arrow bytes
    handed over."""

    def __init__(self, spec: FileSpec):
        import pyarrow as pa

        self.spec = spec
        self.sink = pa.BufferOutputStream()
        self.w = None
        if spec.fmt == "avro":
            self.sink.write(spec.header)
        self.size = self.sink.tell()

    def write(self, chunk):
        import pyarrow as pa

        s = self.spec
        if s.fmt == "orc":
            import pyarrow.orc as orc
            if self.w is None:
                self.w = orc.ORCWriter(self.sink, compression=s.compression)
            self.w.write(chunk.cast(_orc_schema(chunk.schema)))
            self.size += chunk.get_total_buffer_size()
            return
        if s.fmt == "avro":
            from .avro_encode import encode_container_blocks
            self.sink.write(encode_container_blocks(chunk, s.avro_schema))
        else:
            import pyarrow.parquet as pq
            if self.w is None:
                # footer statistics only where Spark's pushdown may trust
                # them: not float/double (NaN is left out of min/max), not
                # nested leaves
                self.w = pq.ParquetWriter(
                    self.sink, chunk.schema, compression=s.compression,
                    write_statistics=[
                        f.name for f in chunk.schema
                        if not (pa.types.is_floating(f.type)
                                or pa.types.is_nested(f.type))])
            self.w.write_table(chunk)
        self.size = self.sink.tell()

    def finish(self):
        if self.w is not None:
            self.w.close()
        return self.sink.getvalue()


class _GroupWriter:
    """One open data file per layout group (partition, bucket); rolls at
    max_rec rows or target_size encoded bytes. `results` collects
    (path, size, partition, bucket, stats, file_index) per closed file."""

    def __init__(self, spec: FileSpec, partition: dict, bucket: int):
        self.spec = spec
        self.partition = partition
        self.bucket = bucket
        self.results = []
        self._new_file()

    def _new_file(self):
        from ..write import FileBloom
        s = self.spec
        self.enc = _Encoder(s)
        self.buf = []              # raw arrow tables awaiting encode
        self.buf_bytes = 0
        self.rows = 0
        self.stats = [_ColStats(t, s.stats_mode) for t in s.types]
        self.bloom = FileBloom(s.bloom_cols)

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
            if self.rows == s.max_rec or self.enc.size >= s.target_size:
                self.close_file()

    def _flush(self):
        import pyarrow as pa

        if not self.buf:
            return
        self.enc.write(self.buf[0] if len(self.buf) == 1
                       else pa.concat_tables(self.buf))
        self.buf, self.buf_bytes = [], 0

    def close_file(self):
        """Write the open file (if it has rows) and start a new one."""
        from ..fileio import for_path
        from ..metadata.util import new_uuid
        s = self.spec
        if self.rows:
            self._flush()
            data = self.enc.finish()
            path = f"{s.staging}/part-{new_uuid()}.{s.fmt}"
            for_path(path).write_overwrite(path, data)
            self.results.append((
                path, len(data), self.partition, self.bucket,
                {"_row_count": self.rows,
                 "cols": _cols_stats(s.names, self.stats)},
                self.bloom.index()))
        self._new_file()


def write_layout(spec: FileSpec, tables, layout: list[str],
                 pt_prefix: str = "") -> list:
    """The task-side layout write of every format: group each Arrow table's
    rows by the `layout` columns (`pt_prefix` + partition key, then
    BUCKET_COL if bucketed), keeping input order within a group, and feed
    each group's `spec.names` columns to its _GroupWriter. Closes every
    file and returns (path, size, partition, bucket, stats, file_index)
    per file."""
    import numpy as np
    import pyarrow as pa

    from ..write import BUCKET_COL, _partition_value

    writers: dict[tuple, _GroupWriter] = {}

    def writer_for(key: tuple) -> _GroupWriter:
        w = writers.get(key)
        if w is None:
            vals = dict(zip(layout, key))
            part = {c[len(pt_prefix):]: _partition_value(v)
                    for c, v in vals.items() if c != BUCKET_COL}
            w = writers[key] = _GroupWriter(spec, part,
                                            vals.get(BUCKET_COL, 0))
        return w

    for tbl in tables:
        data = tbl.select(spec.names)
        # fast path: the whole table belongs to one layout group
        uniques = [tbl.column(c).unique() for c in layout]
        if all(len(u) == 1 for u in uniques):
            writer_for(tuple(u[0].as_py() for u in uniques)).append(data)
            continue
        # ONE grouped pass: row indices per layout tuple, then one gather
        # per group. Encounter order is preserved (single-threaded hash
        # aggregate), so each group keeps its rows in input order.
        grouped = (tbl.select(layout)
                   .append_column("__rowidx",
                                  pa.array(np.arange(tbl.num_rows)))
                   .group_by(layout, use_threads=False)
                   .aggregate([("__rowidx", "list")]))
        idx = grouped.column("__rowidx_list").combine_chunks()
        keys = zip(*(grouped.column(c).to_pylist() for c in layout))
        for i, key in enumerate(keys):
            writer_for(key).append(data.take(idx[i].values))

    out = []
    for w in writers.values():
        w.close_file()
        out.extend(w.results)
    return out


def write_avro_staging(spark, df, layout_cols: list[str], staging: str,
                       stats_mode: str, max_rec: int | None, bloom_cols,
                       target_size: int):
    """Table.write's avro data-file write, one mapInArrow job; returns
    {staging_path: (size, partition, bucket, stats, file_index)}.

    `df` must already carry the layout columns (``__pt_*`` + ``__bucket``)
    and have its final partitioning/sort applied."""
    from ..metadata.util import dumps, loads
    from ..write import PT_PREFIX

    spec = FileSpec("avro", df.drop(*layout_cols).schema, staging,
                    stats_mode, max_rec, bloom_cols, target_size)

    def task(batches):
        import pyarrow as pa

        out = write_layout(spec, (pa.Table.from_batches([b])
                                  for b in batches), layout_cols, PT_PREFIX)
        if out:   # one JSON row per file
            yield pa.RecordBatch.from_arrays(
                [pa.array([dumps(f) for f in out], pa.string())],
                names=["file"])

    rows = df.mapInArrow(task, schema="file string").collect()
    return {p: tuple(v) for p, *v in (loads(r["file"]) for r in rows)}
