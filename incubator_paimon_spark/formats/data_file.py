"""The one data-file decoder: a parquet, ORC or avro data file as Arrow
record batches in the Arrow types Spark hands a writer.

Spark's own writers store timestamps in layouts pyarrow reads back as other
types, so every top-level column is mapped back here, once for all readers
(format("paimon") batch and stream reads, point lookups, ORC stats):

- TimestampNTZ → ``timestamp[us]``, including Spark's ORC layout, a bigint
  tagged ``spark.sql.catalyst.type = timestamp_ntz``;
- TimestampType → ``timestamp[us, UTC]``, including parquet INT96 and ORC's
  plain ``timestamp`` of the UTC wall clock.

ORC streams by stripe, parquet by record batch, avro by container (one
decode per file, the unit its block decoder works on).
"""

from __future__ import annotations


def read_data_file(path: str, columns: list[str] | None = None, io=None):
    """Yield the data file at `path` (only `columns`, when given) as Arrow
    record batches in Spark's Arrow types. Always yields at least one
    batch, an empty one for an empty file, so callers see the schema.
    `io` is the table's FileIO (default: resolved from the path)."""
    if io is None:
        from ..fileio import for_path
        io = for_path(path)
    if path.endswith(".avro"):
        from .avro_decode import read_container_arrow
        tbl = read_container_arrow(io.read_bytes(path))
        if columns is not None:
            tbl = tbl.select(columns)
        yield from _as_spark(tbl.schema, tbl.to_batches())
        return
    with io.open_input(path) as f:
        if path.endswith(".orc"):
            import pyarrow.orc as orc
            o = orc.ORCFile(f)
            yield from _as_spark(
                _project(o.schema, columns),
                (o.read_stripe(i, columns=columns) for i in range(o.nstripes)),
                orc=True)
        else:
            import pyarrow.parquet as pq
            pf = pq.ParquetFile(f, coerce_int96_timestamp_unit="us")
            leaves = [pf.schema.column(i) for i in range(len(pf.schema))]
            yield from _as_spark(
                _project(pf.schema_arrow, columns),
                pf.iter_batches(columns=columns),
                int96={c.path for c in leaves if c.physical_type == "INT96"})


def _project(schema, columns):
    import pyarrow as pa
    return schema if columns is None else pa.schema(
        [schema.field(c) for c in columns])


def _as_spark(schema, batches, orc: bool = False, int96=frozenset()):
    """Cast each batch's columns whose file type is not Spark's."""
    import pyarrow as pa

    casts = {}
    for fld in schema:
        if orc and (fld.metadata or {}).get(b"spark.sql.catalyst.type") \
                == b"timestamp_ntz":
            want = pa.timestamp("us")
        elif pa.types.is_timestamp(fld.type):
            utc = fld.type.tz is not None or orc or fld.name in int96
            want = pa.timestamp("us", "UTC" if utc else None)
        else:
            continue
        if fld.type != want:
            casts[fld.name] = want

    def cast(b):
        if not casts:
            return b
        return pa.RecordBatch.from_arrays(
            [col.cast(casts[n], safe=False) if n in casts else col
             for n, col in zip(b.schema.names, b.columns)],
            names=b.schema.names)

    empty = True
    for b in batches:
        empty = False
        yield cast(b)
    if empty:
        yield cast(pa.RecordBatch.from_pylist([], schema=schema))
