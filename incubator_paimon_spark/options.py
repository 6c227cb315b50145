"""Table options, mirroring the reference's CoreOptions.

Reference: paimon-core/src/main/java/org/apache/paimon/CoreOptions.java
(option keys kept byte-identical where they exist there, e.g. ``bucket``,
``merge-engine``, ``sequence.field``, ``changelog-producer``,
``fields.<f>.aggregate-function``, ``fields.<f>.sequence-group``).

Only a typed view over a plain ``dict[str, str]`` — the dict itself is what
gets persisted into schema JSON, exactly like the reference stores options
inside TableSchema (paimon-core/.../schema/TableSchema.java:47-72).
"""

from __future__ import annotations

from dataclasses import dataclass, field


MERGE_ENGINES = ("deduplicate", "partial-update", "aggregation", "first-row")
CHANGELOG_PRODUCERS = ("none", "input", "lookup", "full-compaction")


def _as_bool(v, default=False):
    if v is None:
        return default
    if isinstance(v, bool):
        return v
    return str(v).strip().lower() in ("true", "1", "yes")


@dataclass
class CoreOptions:
    raw: dict = field(default_factory=dict)

    # --- bucketing (CoreOptions.java BUCKET; BucketMode.java:30-61) ---
    @property
    def bucket(self) -> int:
        """-1 = bucket-unaware (append) / dynamic (pk); N = HASH_FIXED."""
        return int(self.raw.get("bucket", "-1"))

    @property
    def bucket_key(self) -> list[str]:
        v = self.raw.get("bucket-key", "")
        return [c.strip() for c in v.split(",") if c.strip()]

    @property
    def dynamic_bucket_target_row_num(self) -> int:
        return int(self.raw.get("dynamic-bucket.target-row-num", "2000000"))

    @property
    def dynamic_bucket_assigner_parallelism(self) -> int:
        return int(self.raw.get("dynamic-bucket.assigner-parallelism", "8"))

    # --- merge engine (CoreOptions.java:307, enum :1937-1944) ---
    @property
    def merge_engine(self) -> str:
        v = self.raw.get("merge-engine", "deduplicate")
        if v not in MERGE_ENGINES:
            raise ValueError(f"unknown merge-engine {v!r}; expected one of {MERGE_ENGINES}")
        return v

    @property
    def ignore_delete(self) -> bool:
        return _as_bool(self.raw.get("ignore-delete"))

    @property
    def partial_update_remove_record_on_delete(self) -> bool:
        return _as_bool(self.raw.get("partial-update.remove-record-on-delete"))

    @property
    def sequence_field(self) -> list[str]:
        """User ordering column(s) (CoreOptions.java:535); else commit LSN."""
        v = self.raw.get("sequence.field", "")
        return [c.strip() for c in v.split(",") if c.strip()]

    @property
    def rowkind_field(self) -> str | None:
        return self.raw.get("rowkind.field")

    def field_aggregate_function(self, field_name: str) -> str | None:
        return self.raw.get(f"fields.{field_name}.aggregate-function")

    def field_sequence_group(self, seq_field: str) -> list[str]:
        v = self.raw.get(f"fields.{seq_field}.sequence-group", "")
        return [c.strip() for c in v.split(",") if c.strip()]

    def sequence_groups(self) -> dict[tuple[str, ...], list[str]]:
        """(seq-fields...) tuple -> gated columns, from
        fields.<f[,f2...]>.sequence-group keys. Multi-field groups
        (`fields.a,b.sequence-group`) compare lexicographically
        (PartialUpdateMergeFunction.Factory + UserDefinedSeqComparator)."""
        out = {}
        for k, v in self.raw.items():
            if k.startswith("fields.") and k.endswith(".sequence-group"):
                raw_fields = k[len("fields.") : -len(".sequence-group")]
                seq_fields = tuple(s.strip() for s in raw_fields.split(",")
                                   if s.strip())
                out[seq_fields] = [c.strip() for c in v.split(",") if c.strip()]
        return out

    def field_ignore_retract(self, field_name: str) -> bool:
        return _as_bool(self.raw.get(f"fields.{field_name}.ignore-retract"))

    def field_default_value(self, field_name: str) -> str | None:
        return self.raw.get(f"fields.{field_name}.default-value")

    # --- changelog (CoreOptions.java:2107-2118) ---
    @property
    def changelog_producer(self) -> str:
        v = self.raw.get("changelog-producer", "none")
        if v not in CHANGELOG_PRODUCERS:
            raise ValueError(f"unknown changelog-producer {v!r}")
        return v

    # --- file formats ---
    @property
    def file_format(self) -> str:
        return self.raw.get("file.format", "parquet")

    @property
    def file_compression(self) -> str:
        return self.raw.get("file.compression", "snappy")

    # --- compaction (CoreOptions.java:444,473,481) ---
    @property
    def num_sorted_run_compaction_trigger(self) -> int:
        return int(self.raw.get("num-sorted-run.compaction-trigger", "5"))

    @property
    def num_sorted_run_stop_trigger(self) -> int:
        return int(self.raw.get("num-sorted-run.stop-trigger",
                                str(self.num_sorted_run_compaction_trigger + 3)))

    @property
    def compaction_max_size_amplification_percent(self) -> int:
        return int(self.raw.get("compaction.max-size-amplification-percent", "200"))

    @property
    def compaction_size_ratio(self) -> int:
        return int(self.raw.get("compaction.size-ratio", "1"))

    @property
    def num_levels(self) -> int:
        return int(self.raw.get("num-levels", "6"))

    @property
    def target_file_size(self) -> int:
        v = self.raw.get("target-file-size", str(128 * 1024 * 1024))
        return parse_bytes(v)

    @property
    def write_only(self) -> bool:
        return _as_bool(self.raw.get("write-only"))

    @property
    def write_max_records_per_file(self) -> int | None:
        """Explicit per-file row cap at write (rolls data files the way the
        reference's RollingFileWriter rolls at target-file-size bytes)."""
        v = self.raw.get("write.max-records-per-file")
        return int(v) if v else None

    @property
    def full_compaction_delta_commits(self) -> int | None:
        v = self.raw.get("full-compaction.delta-commits")
        return int(v) if v is not None else None

    # --- snapshot retention (CoreOptions.java:229-244) ---
    @property
    def snapshot_num_retained_min(self) -> int:
        return int(self.raw.get("snapshot.num-retained.min", "10"))

    @property
    def snapshot_num_retained_max(self) -> int:
        return int(self.raw.get("snapshot.num-retained.max", "2147483647"))

    @property
    def snapshot_time_retained_ms(self) -> int:
        return parse_duration_ms(self.raw.get("snapshot.time-retained", "1 h"))

    @property
    def snapshot_expire_limit(self) -> int:
        # max snapshots expired per commit-time sweep (CoreOptions
        # SNAPSHOT_EXPIRE_LIMIT default 10 — bounds commit latency)
        return int(self.raw.get("snapshot.expire.limit", "10"))

    # --- scan (CoreOptions.java:552,592,599,559,916,924,931) ---
    @property
    def scan_mode(self) -> str:
        return self.raw.get("scan.mode", "latest-full")

    @property
    def scan_snapshot_id(self) -> int | None:
        v = self.raw.get("scan.snapshot-id")
        return int(v) if v is not None else None

    @property
    def scan_timestamp_millis(self) -> int | None:
        v = self.raw.get("scan.timestamp-millis")
        return int(v) if v is not None else None

    # --- TTLs ---
    @property
    def partition_expiration_time_ms(self) -> int | None:
        v = self.raw.get("partition.expiration-time")
        return parse_duration_ms(v) if v else None

    @property
    def partition_timestamp_formatter(self) -> str | None:
        # None = the reference's lenient default (date or timestamp text)
        return self.raw.get("partition.timestamp-formatter")

    @property
    def partition_timestamp_pattern(self) -> str | None:
        # e.g. "$year-$month-$day" composing several partition columns
        # (PartitionTimeExtractor pattern)
        return self.raw.get("partition.timestamp-pattern")

    @property
    def record_level_expire_time_ms(self) -> int | None:
        v = self.raw.get("record-level.expire-time")
        return parse_duration_ms(v) if v else None

    @property
    def record_level_time_field(self) -> str | None:
        return self.raw.get("record-level.time-field")

    # --- misc ---
    @property
    def bloom_filter_columns(self) -> list[str]:
        v = self.raw.get("file-index.bloom-filter.columns", "")
        return [c.strip() for c in v.split(",") if c.strip()]

    @property
    def metadata_stats_mode(self) -> str:
        """none | counts | truncate(N) | full (statistics/*.java:25-32)."""
        return self.raw.get("metadata.stats-mode", "truncate(16)")

    @property
    def deletion_vectors_enabled(self) -> bool:
        return _as_bool(self.raw.get("deletion-vectors.enabled"))

    @property
    def dynamic_partition_overwrite(self) -> bool:
        return _as_bool(self.raw.get("dynamic-partition-overwrite"), default=True)

    @property
    def consumer_expiration_time_ms(self) -> int | None:
        v = self.raw.get("consumer.expiration-time")
        return parse_duration_ms(v) if v else None


_UNITS = {
    "ms": 1, "s": 1000, "sec": 1000, "m": 60_000, "min": 60_000,
    "h": 3_600_000, "d": 86_400_000,
}

_BYTE_UNITS = {"b": 1, "kb": 1024, "mb": 1024**2, "gb": 1024**3, "tb": 1024**4}


def parse_duration_ms(v: str) -> int:
    v = str(v).strip().lower()
    for unit in sorted(_UNITS, key=len, reverse=True):
        if v.endswith(unit):
            return int(float(v[: -len(unit)].strip()) * _UNITS[unit])
    return int(v)


def parse_bytes(v: str) -> int:
    v = str(v).strip().lower()
    for unit in sorted(_BYTE_UNITS, key=len, reverse=True):
        if v.endswith(unit):
            return int(float(v[: -len(unit)].strip()) * _BYTE_UNITS[unit])
    return int(v)
