"""Versioned schema files with field ids and constrained evolution.

Mirrors paimon-core/src/main/java/org/apache/paimon/schema/SchemaManager.java:76
(schema-N JSON files, committed via atomic create) and TableSchema.java:47-72
(fields with ids, partitionKeys, primaryKeys, options). Field ids — not names —
anchor schema evolution (paimon-common/.../types/DataField.java:40), so renames
and type-widening keep old data files readable.

Types are persisted as Spark ``StructField.jsonValue()`` payloads, which
round-trip without an active SparkSession.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field as dc_field, replace

from pyspark.sql import types as T

from ..options import CoreOptions
from .util import atomic_write_json, read_json


# Widening chains allowed by SchemaChange.updateColumnType
# (paimon-core/.../schema/SchemaManager.java + casting rules).
_WIDEN = {
    "byte": {"short", "integer", "long", "float", "double", "decimal"},
    "short": {"integer", "long", "float", "double", "decimal"},
    "integer": {"long", "float", "double", "decimal"},
    "long": {"float", "double", "decimal"},
    "float": {"double"},
    "date": {"timestamp", "timestamp_ntz"},
    "string": set(),
}


@dataclass
class DataField:
    id: int
    name: str
    type: T.DataType
    nullable: bool = True
    description: str | None = None

    def to_json(self):
        f = T.StructField(self.name, self.type, self.nullable)
        j = f.jsonValue()
        j["id"] = self.id
        if self.description:
            j["description"] = self.description
        return j

    @staticmethod
    def from_json(j):
        f = T.StructField.fromJson({k: v for k, v in j.items() if k not in ("id", "description")})
        return DataField(j["id"], f.name, f.dataType, f.nullable, j.get("description"))


@dataclass
class TableSchema:
    id: int
    fields: list[DataField]
    highest_field_id: int
    partition_keys: list[str]
    primary_keys: list[str]
    options: dict
    comment: str | None = None
    time_millis: int = dc_field(default_factory=lambda: int(time.time() * 1000))

    @property
    def core_options(self) -> CoreOptions:
        return CoreOptions(self.options)

    def spark_schema(self) -> T.StructType:
        # CHAR(n)/VARCHAR(n) compute as plain strings (SparkTypeUtils does
        # the same mapping); length is enforced at write (align_to_schema)
        return T.StructType([
            T.StructField(f.name, _runtime_type(f.type), f.nullable)
            for f in self.fields])

    def field_names(self) -> list[str]:
        return [f.name for f in self.fields]

    def field_by_name(self, name: str) -> DataField:
        for f in self.fields:
            if f.name == name:
                return f
        raise KeyError(name)

    def field_by_id(self, fid: int) -> DataField | None:
        for f in self.fields:
            if f.id == fid:
                return f
        return None

    def trimmed_primary_keys(self) -> list[str]:
        """PK minus partition keys — the LSM key (TableSchema.trimmedPrimaryKeys)."""
        return [k for k in self.primary_keys if k not in self.partition_keys] or list(self.primary_keys)

    def bucket_keys(self) -> list[str]:
        opts = self.core_options
        if opts.bucket_key:
            return opts.bucket_key
        if self.primary_keys:
            return self.trimmed_primary_keys()
        return []  # bucket-unaware

    def to_json(self):
        return {
            "version": 1,
            "id": self.id,
            "fields": [f.to_json() for f in self.fields],
            "highestFieldId": self.highest_field_id,
            "partitionKeys": self.partition_keys,
            "primaryKeys": self.primary_keys,
            "options": self.options,
            "comment": self.comment,
            "timeMillis": self.time_millis,
        }

    @staticmethod
    def from_json(j):
        return TableSchema(
            id=j["id"],
            fields=[DataField.from_json(f) for f in j["fields"]],
            highest_field_id=j["highestFieldId"],
            partition_keys=j.get("partitionKeys", []),
            primary_keys=j.get("primaryKeys", []),
            options=j.get("options", {}),
            comment=j.get("comment"),
            time_millis=j.get("timeMillis", 0),
        )

    @staticmethod
    def create(spark_schema: T.StructType, partition_keys=None, primary_keys=None,
               options=None, comment=None) -> "TableSchema":
        partition_keys = list(partition_keys or [])
        primary_keys = list(primary_keys or [])
        options = dict(options or {})
        names = [f.name for f in spark_schema.fields]
        for k in partition_keys + primary_keys:
            if k not in names:
                raise ValueError(f"key column {k!r} not in schema {names}")
        fields = [
            DataField(i, f.name, f.dataType,
                      f.nullable and f.name not in primary_keys,
                      f.metadata.get("comment") if f.metadata else None)
            for i, f in enumerate(spark_schema.fields)
        ]
        return TableSchema(0, fields, len(fields) - 1, partition_keys, primary_keys,
                           options, comment)


class SchemaManager:
    """schema-N files under <table>/schema (SchemaManager.java:76)."""

    def __init__(self, table_path: str):
        from ..fileio import for_path
        self.dir = os.path.join(table_path, "schema")
        self.io = for_path(table_path)

    def _path(self, sid: int) -> str:
        return os.path.join(self.dir, f"schema-{sid}")

    def latest_id(self) -> int | None:
        # a leaked `schema-N.tmp-<hex>` from a failed create is not a schema
        ids = [int(n[len("schema-"):]) for n in self.io.list_names(self.dir)
               if n.startswith("schema-") and n[len("schema-"):].isdigit()]
        return max(ids) if ids else None

    def latest(self) -> TableSchema | None:
        sid = self.latest_id()
        return None if sid is None else self.read(sid)

    def read(self, sid: int) -> TableSchema:
        return TableSchema.from_json(read_json(self._path(sid)))

    def list_all(self) -> list[TableSchema]:
        sid = self.latest_id()
        if sid is None:
            return []
        return [self.read(i) for i in range(sid + 1)]

    def commit_new(self, schema: TableSchema) -> TableSchema:
        if not atomic_write_json(self._path(schema.id), schema.to_json()):
            raise RuntimeError(f"schema-{schema.id} already exists (concurrent DDL)")
        return schema

    # ---- evolution (SchemaChange.java:95-512) ----

    def _next(self, base: TableSchema) -> TableSchema:
        return replace(base, id=base.id + 1,
                       fields=[replace(f) for f in base.fields],
                       partition_keys=list(base.partition_keys),
                       primary_keys=list(base.primary_keys),
                       options=dict(base.options),
                       time_millis=int(time.time() * 1000))

    def commit_changes(self, changes: list[dict]) -> TableSchema:
        """Apply `changes` in order to ONE next schema and commit it once
        (SchemaManager.commitChanges). Each change is a dict whose "op"
        names one of ``_APPLY``'s rules and whose other keys are that
        rule's arguments. Every change is checked against the schema as
        evolved by the ones before it, so a statement whose later change
        fails commits nothing."""
        base = self.latest()
        s = self._next(base)
        for c in changes:
            args = dict(c)
            _APPLY[args.pop("op")](s, **args)
        _validate_bucket_change(base, s)
        return self.commit_new(s)

    def add_column(self, name: str, dtype: T.DataType, nullable=True,
                   description=None, after: str | None = None,
                   first: bool = False) -> TableSchema:
        """`after`/`first` place the new column in ONE schema commit
        (SchemaChange.Move.after/first on an AddColumn — the reference
        applies position inside the same change)."""
        return self.commit_changes([dict(
            op="add_column", name=name, dtype=dtype, nullable=nullable,
            description=description, after=after, first=first)])

    def drop_column(self, name: str) -> TableSchema:
        return self.commit_changes([dict(op="drop_column", name=name)])

    def rename_column(self, name: str, new_name: str) -> TableSchema:
        return self.commit_changes([dict(op="rename_column", name=name,
                                         new_name=new_name)])

    def update_column_nullability(self, name: str, nullable: bool) -> TableSchema:
        """SchemaChange.updateColumnNullability parity (reference
        SchemaManager.java:309-326): both directions are metadata-only;
        the one refusal is making a PRIMARY KEY column nullable."""
        return self.commit_changes([dict(op="update_column_nullability",
                                         name=name, nullable=nullable)])

    def update_column_type(self, name: str, new_type: T.DataType) -> TableSchema:
        return self.commit_changes([dict(op="update_column_type", name=name,
                                         new_type=new_type)])

    def update_column_comment(self, name: str, comment: str | None) -> TableSchema:
        return self.commit_changes([dict(op="update_column_comment",
                                         name=name, comment=comment)])

    def move_column(self, name: str, after: str | None = None) -> TableSchema:
        """Reorder a column: FIRST (after=None) or AFTER `after`.
        Field ids anchor reads, so a move is metadata-only — old data
        files keep serving their bytes by id (SchemaChange.Move parity,
        reference SchemaManager)."""
        return self.commit_changes([dict(op="move_column", name=name,
                                         after=after)])

    def update_options(self, set_options: dict | None = None, remove: list[str] | None = None) -> TableSchema:
        return self.commit_changes(
            [dict(op="set_option", key=k, value=v)
             for k, v in (set_options or {}).items()]
            + [dict(op="remove_option", key=k) for k in remove or []])


# ---- the per-change rules (SchemaChange.java:95-512); each mutates the
# evolving schema `s` in place and raises on a change it refuses ----

def _add_column(s: TableSchema, name, dtype, nullable=True, description=None,
                after=None, first=False):
    if name in s.field_names():
        raise ValueError(f"column {name!r} already exists")
    s.highest_field_id += 1
    f = DataField(s.highest_field_id, name, dtype, nullable, description)
    if first:
        s.fields.insert(0, f)
    elif after is not None:
        s.fields.insert(_index(s, after) + 1, f)
    else:
        s.fields.append(f)


def _drop_column(s: TableSchema, name):
    if name in s.primary_keys or name in s.partition_keys:
        raise ValueError(f"cannot drop key column {name!r}")
    del s.fields[_index(s, name)]


def _rename_column(s: TableSchema, name, new_name):
    if new_name in s.field_names():
        raise ValueError(f"column {new_name!r} already exists")
    s.field_by_name(name).name = new_name
    s.primary_keys = [new_name if k == name else k for k in s.primary_keys]
    s.partition_keys = [new_name if k == name else k for k in s.partition_keys]


def _update_column_nullability(s: TableSchema, name, nullable):
    f = s.field_by_name(name)
    if nullable and name in s.primary_keys:
        raise ValueError("Cannot change nullability of primary key")
    f.nullable = bool(nullable)


def _update_column_type(s: TableSchema, name, new_type):
    f = s.field_by_name(name)
    if not _can_widen(f.type, new_type):
        raise ValueError(f"cannot change {name}: {f.type.simpleString()} -> {new_type.simpleString()}")
    f.type = new_type


def _update_column_comment(s: TableSchema, name, comment):
    s.field_by_name(name).description = comment


def _move_column(s: TableSchema, name, after=None):
    if name == after:
        raise ValueError("cannot move a column after itself")
    moving = s.fields.pop(_index(s, name))
    s.fields.insert(0 if after is None else _index(s, after) + 1, moving)


def _set_option(s: TableSchema, key, value):
    if key in _IMMUTABLE_OPTIONS and str(value) != s.options.get(key):
        # SchemaManager.checkAlterTableOption (SchemaManager.java:519)
        # — these shape the on-disk layout/merge semantics; changing
        # them would misread every existing file. Re-setting the
        # current value is an allowed no-op.
        raise ValueError(f"Change '{key}' is not supported.")
    s.options[key] = str(value)


def _remove_option(s: TableSchema, key):
    if key in _IMMUTABLE_OPTIONS and key in s.options:
        raise ValueError(f"Change '{key}' is not supported.")
    s.options.pop(key, None)


def _index(s: TableSchema, name) -> int:
    for i, f in enumerate(s.fields):
        if f.name == name:
            return i
    raise KeyError(name)


_APPLY = {
    "add_column": _add_column,
    "drop_column": _drop_column,
    "rename_column": _rename_column,
    "update_column_nullability": _update_column_nullability,
    "update_column_type": _update_column_type,
    "update_column_comment": _update_column_comment,
    "move_column": _move_column,
    "set_option": _set_option,
    "remove_option": _remove_option,
}


# CoreOptions.getImmutableOptionKeys() (@Immutable annotations,
# CoreOptions.java:97,306,313,534,543,755,763): options that pin the
# physical layout or merge semantics of already-written files.
_IMMUTABLE_OPTIONS = {
    "bucket-key", "merge-engine", "ignore-delete",
    "sequence.field", "rowkind.field", "primary-key", "partition",
}


def _validate_bucket_change(base: TableSchema, s: TableSchema) -> None:
    """ALTER-time bucket-transition guard (SchemaValidation.java:539-565 +
    rescale-bucket.md): rescaling is only defined BETWEEN fixed counts.
    A -1 <-> fixed transition would mix hash-routed files with
    dynamic-index / bucket-unaware files in one table — bucket pruning
    and the dynamic-bucket index both break — so the reference requires
    recreating the table instead."""
    old_b = base.core_options.bucket
    new_b = s.core_options.bucket
    if new_b == old_b:
        return
    if new_b == 0 or new_b < -1:
        raise ValueError("The number of buckets needs to be greater than 0.")
    if old_b == -1 or new_b == -1:
        raise ValueError(
            f"Cannot change 'bucket' from {old_b} to {new_b}: transitions "
            f"between -1 (dynamic/bucket-unaware) and a fixed count are not "
            f"supported — recreate the table, or rescale between fixed "
            f"counts (rescale-bucket.md).")
    if not s.bucket_keys():
        raise ValueError(
            "Cannot rescale 'bucket' on a table without a bucket key "
            "(bucket-key or primary key).")


def _type_root(t: T.DataType) -> str:
    name = t.typeName()
    return "decimal" if name.startswith("decimal") else name


def _can_widen(old: T.DataType, new: T.DataType) -> bool:
    if old == new:
        return True
    o, n = _type_root(old), _type_root(new)
    if o == "decimal" and n == "decimal":
        return new.precision >= old.precision and new.scale >= old.scale
    return n in _WIDEN.get(o, set())


def _runtime_type(t: T.DataType) -> T.DataType:
    if isinstance(t, (T.CharType, T.VarcharType)):
        return T.StringType()
    return t
