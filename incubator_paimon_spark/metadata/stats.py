"""Per-file column statistics of files this engine did not encode itself.

The reference collects stats in the writer (io/StatsCollectingSingleFileWriter,
SimpleColStatsCollector modes none/counts/truncate(16)/full —
paimon-common/.../statistics/*.java:25-32), and so do the data-file write
tasks here (formats/avro_direct._ColStats over the Arrow rows). What is
left for this module is files written by Spark itself: Table.write's
Spark-native parquet/orc staging, changelog files and migrate sources.
Parquet footers give the numbers for free (min/max/null-count per row
group), so that is a metadata-only read of each file — O(files), no data
scan. ORC files are decoded once (formats/data_file) and go through the
writers' own rule.
"""

from __future__ import annotations

from datetime import date, datetime

import pyarrow.parquet as pq


def _jsonable(v):
    if isinstance(v, (datetime, date, bytes)):
        return v  # util._Enc handles these
    if isinstance(v, (int, float, str, bool)) or v is None:
        return v
    return str(v)


def _truncate(v, mode: str, is_max: bool):
    """truncate(N) mode: a string min can be prefix-truncated (still a valid
    lower bound); a truncated max is NOT a valid upper bound, so drop it —
    pruning stays conservative (the reference instead increments the last
    char, statistics/TruncateSimpleColStatsCollector)."""
    if isinstance(v, str) and mode.startswith("truncate("):
        n = int(mode[len("truncate("):-1])
        if len(v) > n:
            return None if is_max else v[:n]
    return v


def collect_file_stats(path: str, stats_mode: str = "truncate(16)") -> dict:
    """Returns {"_row_count": n, "cols": {col: {min,max,null_count}}}.
    Footer reads route through FileIO so staging on s3://hdfs:// works; a
    plain local path keeps the direct open (no behavior change). A column
    whose footer lacks statistics (Spark's INT96 timestamps, parquet-mr's
    ≥4096-byte drop) gets no entry: its null count is unknown, not 0."""
    from ..fileio import for_path
    if path.endswith(".orc"):
        return _orc_stats(path, stats_mode)
    with for_path(path).open_input(path) as f:
        md = pq.read_metadata(f)
    out: dict = {}
    row_count = md.num_rows
    if stats_mode == "none":
        return {"_row_count": row_count, "cols": {}}
    for ci in range(md.num_columns):
        name = md.schema.column(ci).path  # dotted path for nested leaves
        rgs = [md.row_group(rg).column(ci).statistics
               for rg in range(md.num_row_groups)]
        # nested leaves: skipped (match reference's top-level stats); no
        # footer statistics: no entry (the null count is unknown, not 0)
        if "." in name or any(st is None or not st.has_null_count
                              for st in rgs):
            continue
        entry = {"null_count": sum(st.null_count for st in rgs)}
        out[name] = entry
        if stats_mode == "counts" or not all(st.has_min_max for st in rgs):
            continue
        try:
            mn, mx = min(st.min for st in rgs), max(st.max for st in rgs)
        except Exception:  # pyarrow can't cast stats for this type (e.g.
            continue       # some decimal encodings): null counts only
        tmn = _truncate(mn, stats_mode, is_max=False)
        tmx = _truncate(mx, stats_mode, is_max=True)
        if tmn is not None:
            entry["min"] = _jsonable(tmn)
        if tmx is not None:
            entry["max"] = _jsonable(tmx)
    return {"_row_count": row_count, "cols": out}


def _orc_stats(path: str, stats_mode: str) -> dict:
    """ORC files (Table.write's Spark-native ORC staging, migrate sources):
    pyarrow exposes no ORC column statistics, so decode the file stripe by
    stripe in Spark's Arrow types and apply the writers' own rule
    (formats/avro_direct._ColStats)."""
    from ..formats.avro_direct import arrow_file_stats
    from ..formats.data_file import read_data_file
    return arrow_file_stats(read_data_file(path), stats_mode)
