"""Unit tests for the metadata kernel — no Spark needed.

Mirrors the reference's core unit suites (SURVEY §5.1): manifest entry
merging, snapshot CAS, schema evolution constraints, compaction picker
arithmetic (UniversalCompactionTest scenarios), predicate stats pruning.
"""

import os

import pytest
from pyspark.sql import types as T

from incubator_paimon_spark.compact import SortedRun, pick_compaction
from incubator_paimon_spark.metadata.commit import (CommitMessage, ConflictError,
                                                    FileStoreCommit)
from incubator_paimon_spark.metadata.manifest import (DataFileMeta, ManifestEntry,
                                                      live_entries, merge_entries)
from incubator_paimon_spark.metadata.schema import SchemaManager, TableSchema
from incubator_paimon_spark.metadata.snapshot import SnapshotManager
from incubator_paimon_spark.options import CoreOptions, parse_bytes, parse_duration_ms
from incubator_paimon_spark.predicate import P


def _meta(name, size=100, level=0, seq=(0, 0)):
    return DataFileMeta(file_name=name, file_size=size, row_count=10,
                        min_seq=seq[0], max_seq=seq[1], level=level)


def _add(name, **kw):
    return ManifestEntry("ADD", {}, 0, _meta(name, **kw))


def _del(name, **kw):
    return ManifestEntry("DELETE", {}, 0, _meta(name, **kw))


class TestManifestMerge:
    def test_add_delete_cancel(self):
        out = merge_entries([_add("a"), _add("b"), _del("a")])
        assert [e.file.file_name for e in out] == ["b"]

    def test_unmatched_delete_kept(self):
        out = merge_entries([_del("old")])
        assert len(out) == 1 and out[0].kind == "DELETE"

    def test_live_entries(self):
        live = live_entries([_add("a"), _del("a"), _add("b"), _del("zzz")])
        assert [e.file.file_name for e in live] == ["b"]


class TestSchema:
    def _schema(self, tmp_path):
        mgr = SchemaManager(str(tmp_path))
        st = T.StructType([T.StructField("id", T.LongType()),
                           T.StructField("v", T.IntegerType())])
        mgr.commit_new(TableSchema.create(st, primary_keys=["id"]))
        return mgr

    def test_evolution_chain(self, tmp_path):
        mgr = self._schema(tmp_path)
        mgr.add_column("w", T.StringType())
        mgr.rename_column("v", "v2")
        mgr.update_column_type("v2", T.LongType())
        latest = mgr.latest()
        assert latest.id == 3
        assert [f.name for f in latest.fields] == ["id", "v2", "w"]
        # field ids stable across rename
        assert latest.field_by_name("v2").id == 1

    def test_illegal_narrowing(self, tmp_path):
        mgr = self._schema(tmp_path)
        with pytest.raises(ValueError):
            mgr.update_column_type("v", T.ByteType())

    def test_drop_pk_rejected(self, tmp_path):
        mgr = self._schema(tmp_path)
        with pytest.raises(ValueError):
            mgr.drop_column("id")

    def test_duplicate_add_rejected(self, tmp_path):
        mgr = self._schema(tmp_path)
        with pytest.raises(ValueError):
            mgr.add_column("v", T.StringType())

    def test_commit_changes_is_one_schema_or_none(self, tmp_path):
        mgr = self._schema(tmp_path)
        mgr.commit_changes([
            dict(op="add_column", name="w", dtype=T.StringType(),
                 after="id"),
            dict(op="rename_column", name="w", new_name="w2"),
            dict(op="set_option", key="snapshot.num-retained.max", value=5)])
        latest = mgr.latest()
        assert latest.id == 1
        assert latest.field_names() == ["id", "w2", "v"]
        assert latest.options["snapshot.num-retained.max"] == "5"
        # each change sees the ones before it; a refused one commits none
        with pytest.raises(ValueError, match="key column"):
            mgr.commit_changes([dict(op="drop_column", name="v"),
                                dict(op="drop_column", name="id")])
        assert mgr.latest_id() == 1

    def test_leaked_temp_files_are_not_metadata(self, tmp_path):
        """A `<name>.tmp-<hex>` left by a failed create is neither a
        schema version nor a tag."""
        from incubator_paimon_spark.table import Table
        mgr = self._schema(tmp_path)
        (tmp_path / "schema" / "schema-1.tmp-0a1b").write_text("{")
        assert mgr.latest_id() == 0
        assert Table(str(tmp_path)).schema.id == 0
        (tmp_path / "tag").mkdir()
        (tmp_path / "tag" / "tag-v1").write_text("{}")
        (tmp_path / "tag" / "tag-v2.tmp-0a1b").write_text("{")
        assert Table(str(tmp_path)).list_tags() == ["v1"]


class TestCommit:
    def test_cas_and_conflict(self, tmp_path):
        path = str(tmp_path)
        c = FileStoreCommit(path)
        c.commit(CommitMessage(add=[_add("f1")]), schema_id=0)
        c.commit(CommitMessage(add=[_add("f2")]), schema_id=0)
        sm = SnapshotManager(path)
        assert sm.latest_id() == 2
        # deleting a live file works (compaction)
        c.commit(CommitMessage(add=[_add("f3")], delete=[_del("f1")]), schema_id=0)
        # deleting an already-deleted file conflicts
        with pytest.raises(ConflictError):
            c.commit(CommitMessage(delete=[_del("f1")]), schema_id=0)

    def test_exactly_once_identifier(self, tmp_path):
        c = FileStoreCommit(str(tmp_path))
        s1 = c.commit(CommitMessage(add=[_add("f1")]), schema_id=0, commit_identifier=7)
        s2 = c.commit(CommitMessage(add=[_add("f1b")]), schema_id=0, commit_identifier=7)
        assert s1 is not None and s2 is None  # replay filtered

    def test_record_counts(self, tmp_path):
        c = FileStoreCommit(str(tmp_path))
        s = c.commit(CommitMessage(add=[_add("f1"), _add("f2")]), schema_id=0)
        assert s.total_record_count == 20 and s.delta_record_count == 20


class TestUniversalCompaction:
    """Pure arithmetic vs UniversalCompaction.java:70-160 behavior."""

    def test_below_trigger_no_pick(self):
        runs = [SortedRun(0, [_add(f"f{i}")]) for i in range(3)]
        assert pick_compaction(runs, 5, 200, 1, 5) is None

    def test_size_amplification_full(self):
        # candidate(sum of newer)=400 vs earliest=100 → 400*100 > 200*100
        runs = [SortedRun(0, [_add(f"f{i}", size=100)]) for i in range(4)] \
            + [SortedRun(5, [_add("base", size=100)])]
        out = pick_compaction(runs, 5, 200, 1, 5)
        assert out is not None
        level, chosen = out
        assert level == 5 and len(chosen) == 5  # full

    def test_size_ratio_partial(self):
        # big old run prevents amp trigger; size-ratio merges the small prefix
        runs = [SortedRun(0, [_add(f"f{i}", size=10)]) for i in range(4)] \
            + [SortedRun(5, [_add("base", size=100000)])]
        out = pick_compaction(runs, 5, 200, 1, 5)
        assert out is not None
        level, chosen = out
        assert len(chosen) == 4 and level == 4  # next run level 5 → output 4

    def test_run_count_trigger(self):
        runs = [SortedRun(0, [_add(f"f{i}", size=10 ** (6 - i))]) for i in range(6)]
        out = pick_compaction(runs, 5, 10**9, 1, 5)
        assert out is not None  # runs(6) > trigger(5)


class TestPredicate:
    def test_stats_pruning(self):
        stats = {"x": {"min": 10, "max": 20, "null_count": 0}, "_row_count": 100}
        assert P.eq("x", 15).test_stats(stats)
        assert not P.eq("x", 25).test_stats(stats)
        assert not P.gt("x", 20).test_stats(stats)
        assert P.ge("x", 20).test_stats(stats)
        assert not P.lt("x", 10).test_stats(stats)
        assert P.isin("x", [1, 15]).test_stats(stats)
        assert not P.isin("x", [1, 2]).test_stats(stats)
        assert not P.is_null("x").test_stats(stats)
        assert P.is_not_null("x").test_stats(stats)

    def test_all_null_column(self):
        stats = {"x": {"null_count": 100}, "_row_count": 100}
        assert P.is_null("x").test_stats(stats)
        assert not P.is_not_null("x").test_stats(stats)
        assert not P.eq("x", 1).test_stats(stats)

    def test_compound(self):
        stats = {"x": {"min": 10, "max": 20, "null_count": 0},
                 "y": {"min": "a", "max": "c", "null_count": 0}, "_row_count": 5}
        assert (P.ge("x", 15) & P.le("y", "b")).test_stats(stats)
        assert not (P.gt("x", 30) | P.gt("y", "d")).test_stats(stats)

    def test_partition_value_eval(self):
        assert P.eq("dt", "2024-01-01").test_value({"dt": "2024-01-01"})
        assert not (P.eq("dt", "2024-01-01") & P.eq("b", 2)).test_value(
            {"dt": "2024-01-01", "b": 3})


class TestOptions:
    def test_parse(self):
        o = CoreOptions({"bucket": "8", "merge-engine": "aggregation",
                         "fields.x.aggregate-function": "sum",
                         "fields.g.sequence-group": "a,b",
                         "snapshot.time-retained": "2 h"})
        assert o.bucket == 8
        assert o.merge_engine == "aggregation"
        assert o.field_aggregate_function("x") == "sum"
        assert o.sequence_groups() == {("g",): ["a", "b"]}
        assert o.snapshot_time_retained_ms == 7_200_000
        assert parse_bytes("128mb") == 128 * 1024 * 1024
        assert parse_duration_ms("90 s") == 90_000

    def test_unknown_engine_rejected(self):
        with pytest.raises(ValueError):
            _ = CoreOptions({"merge-engine": "nope"}).merge_engine


class TestIntervalPartitionSplit:
    """rawConvertible via key-range interval partitioning
    (IntervalPartition.java:33, MergeTreeSplitGenerator.java:38)."""

    def _schema(self):
        mgr_schema = TableSchema(
            id=0,
            fields=[],
            highest_field_id=0,
            partition_keys=[],
            primary_keys=["k"],
            options={},
        )
        return mgr_schema

    def _entry(self, name, lo, hi, level, drc=0):
        m = DataFileMeta(file_name=name, file_size=100, row_count=10,
                         level=level, stats={"k": {"min": lo, "max": hi,
                                                   "null_count": 0}},
                         delete_row_count=drc)
        return ManifestEntry("ADD", {}, 0, m)

    def test_disjoint_compacted_file_reads_raw(self):
        from incubator_paimon_spark.read import _split_raw_buckets
        schema = self._schema()
        entries = [
            self._entry("a", 0, 100, level=2),      # disjoint → raw
            self._entry("b", 200, 300, level=2),    # overlaps c → merge
            self._entry("c", 250, 260, level=0),    # level 0 → merge
        ]
        raw, merge = _split_raw_buckets(entries, max_level=5,
                                        table=object(), schema=schema)
        assert [e.file.file_name for e in raw] == ["a"]
        assert sorted(e.file.file_name for e in merge) == ["b", "c"]

    def test_level0_and_deletes_never_raw(self):
        from incubator_paimon_spark.read import _split_raw_buckets
        schema = self._schema()
        entries = [
            self._entry("l0", 0, 100, level=0),            # level-0 flush
            self._entry("dv", 200, 300, level=2, drc=None),  # unknown deletes
        ]
        raw, merge = _split_raw_buckets(entries, max_level=5,
                                        table=object(), schema=schema)
        assert raw == []
        assert len(merge) == 2

    def test_missing_stats_falls_back_to_merge(self):
        from incubator_paimon_spark.read import _split_raw_buckets
        schema = self._schema()
        nostats = ManifestEntry("ADD", {}, 0, DataFileMeta(
            file_name="x", file_size=100, row_count=10, level=2))
        entries = [self._entry("a", 0, 100, level=2), nostats]
        raw, merge = _split_raw_buckets(entries, max_level=5,
                                        table=object(), schema=schema)
        assert raw == []
        assert len(merge) == 2

    def test_all_max_level_whole_bucket_raw(self):
        from incubator_paimon_spark.read import _split_raw_buckets
        schema = self._schema()
        entries = [self._entry("a", 0, 100, level=5),
                   self._entry("b", 50, 150, level=5)]
        raw, merge = _split_raw_buckets(entries, max_level=5,
                                        table=object(), schema=schema)
        assert len(raw) == 2 and merge == []


class TestIncrementalManifestCompaction:
    def test_keeps_clean_fulls_rewrites_dirty(self, tmp_path, monkeypatch):
        """Manifest compaction keeps near-full clean manifests verbatim and
        merges small/dirtied ones (ManifestFile rolling parity)."""
        from incubator_paimon_spark.metadata import manifest as mmod
        from incubator_paimon_spark.metadata.commit import FileStoreCommit

        monkeypatch.setattr(mmod, "MANIFEST_ROLL_COUNT", 10)
        fc = FileStoreCommit(str(tmp_path))
        ms = fc.manifests

        # big clean manifest (10 adds, untouched)
        big = ms.write_manifest([_add(f"big-{i}") for i in range(10)])
        # big but dirtied: one of its files is deleted later
        dirty = ms.write_manifest([_add(f"d-{i}") for i in range(10)])
        # small manifests incl. the delete of d-3
        s1 = ms.write_manifest([_add("s-1"), _add("s-2")])
        s2 = ms.write_manifest([_del("d-3"), _add("s-3")])

        out = fc._compact_manifests([big, dirty, s1, s2])
        out_names = [m["name"] for m in out]
        assert big in out_names and dirty not in out_names \
            and s1 not in out_names
        # the kept clean manifest's counts are recorded in the list item
        assert next(m for m in out if m["name"] == big) == \
            {"name": big, "numAdded": 10, "numDeleted": 0}
        merged = [e for n in out_names if n != big
                  for e in ms.read_manifest(n)]
        names = sorted(e.file.file_name for e in merged)
        assert "d-3" not in names          # cancelled pair dropped
        assert all(e.kind == "ADD" for e in merged)
        assert names == sorted([f"d-{i}" for i in range(10) if i != 3]
                               + ["s-1", "s-2", "s-3"])
        # total live set preserved
        all_live = {e.file.file_name
                    for n in out_names for e in ms.read_manifest(n)}
        assert all_live == ({f"big-{i}" for i in range(10)}
                            | {f"d-{i}" for i in range(10)} - {"d-3"}
                            | {"s-1", "s-2", "s-3"})

    def test_zero_delete_fast_path_never_reads_full_manifests(
            self, tmp_path, monkeypatch):
        """With list-level counts proving a delete-free chain, near-full
        manifests are kept WITHOUT being read (ManifestFileMeta parity);
        only the small tail is merged — the O(delta) steady-state commit
        at 10^6 entries rests on exactly this."""
        from incubator_paimon_spark.metadata import manifest as mmod
        from incubator_paimon_spark.metadata.commit import FileStoreCommit

        monkeypatch.setattr(mmod, "MANIFEST_ROLL_COUNT", 10)
        fc = FileStoreCommit(str(tmp_path))
        ms = fc.manifests

        fulls = [ms.write_manifests_meta([_add(f"f{k}-{i}")
                                          for i in range(10)])[0]
                 for k in range(3)]
        smalls = [ms.write_manifests_meta([_add(f"s{k}-{i}")
                                           for i in range(2)])[0]
                  for k in range(2)]

        read_names = []
        orig = mmod.ManifestStore.read_manifest

        def spy(self_, name):
            read_names.append(name)
            return orig(self_, name)

        monkeypatch.setattr(mmod.ManifestStore, "read_manifest", spy)
        out = fc._compact_manifests(fulls + smalls)
        assert [m["name"] for m in out[:3]] == [m["name"] for m in fulls]
        assert all(n not in read_names for n in
                   [m["name"] for m in fulls])  # fulls never read
        # the merged tail carries exact counts
        assert out[3]["numAdded"] == 4 and out[3]["numDeleted"] == 0
        tail = ms.read_manifest(out[3]["name"])
        assert sorted(e.file.file_name for e in tail) == \
            ["s0-0", "s0-1", "s1-0", "s1-1"]


class TestPlanningScale:
    def test_100k_file_prune_and_split_fast(self):
        """100 TB-shape planning: stats-prune + raw-split over 100k manifest
        entries stays interactive (driver-side, no Spark)."""
        import time

        from incubator_paimon_spark.read import (_bloom_keep, _split_raw_buckets,
                                                 _stats_keep)

        entries = []
        for i in range(100_000):
            m = DataFileMeta(
                file_name=f"bucket-{i % 64}/data-{i}.parquet",
                file_size=128 << 20, row_count=1_000_000,
                level=5 if i % 3 else 0, delete_row_count=0,
                stats={"k": {"min": i * 1000, "max": (i + 1) * 1000 - 1,
                             "null_count": 0}})
            entries.append(ManifestEntry("ADD", {}, i % 64, m))

        t0 = time.time()
        pred = P.between("k", 10_000_000, 11_000_000)
        kept = [e for e in entries
                if _stats_keep(e, pred) and _bloom_keep(e, pred, {})]
        schema = TableSchema(id=0, fields=[], highest_field_id=0,
                             partition_keys=[], primary_keys=["k"], options={})
        raw, merge = _split_raw_buckets(entries, 5, table=object(),
                                        schema=schema)
        elapsed = time.time() - t0
        assert len(kept) == 1001  # exactly the overlapping 1000-row-range files
        assert len(raw) + len(merge) == len(entries)
        assert elapsed < 20, f"planning took {elapsed:.1f}s over 100k files"
