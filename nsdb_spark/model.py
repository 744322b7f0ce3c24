"""Data model: Bit record, field classes, NSDb type system, metric schema.

Behaviour parity with (reference, studied not copied):
  nsdb-common/src/main/scala/io/radicalbit/nsdb/common/protocol/Bit.scala:58-62
  nsdb-common/src/main/scala/io/radicalbit/nsdb/common/TypeSystem.scala:162-185
  nsdb-core/src/main/scala/io/radicalbit/nsdb/index/TypeSupport.scala:180-268
  nsdb-core/src/main/scala/io/radicalbit/nsdb/model/Schema.scala:49,92-129

Spark mapping (SURVEY.md §1.6): one Bit = one row; dimensions/tags are flat
top-level columns (never MapType — that would kill pruning/pushdown/stats);
an absent field is SQL NULL.
"""
from __future__ import annotations

import json
from dataclasses import dataclass, field as dc_field
from enum import Enum
from typing import Any, Mapping

import pyarrow as pa
from pyspark.sql import types as T


class FieldClass(str, Enum):
    """Field classes, mirroring FieldClassType.scala."""

    TIMESTAMP = "timestamp"
    VALUE = "value"
    DIMENSION = "dimension"
    TAG = "tag"


class NsdbType(str, Enum):
    """The four NSDb runtime types (TypeSystem.scala:162-185).

    DECIMAL is a 64-bit double despite the name (TypeSupport.scala:239).
    """

    INT = "INT"
    BIGINT = "BIGINT"
    DECIMAL = "DECIMAL"
    VARCHAR = "VARCHAR"

    @property
    def spark_type(self) -> T.DataType:
        return _SPARK_TYPES[self]

    @property
    def arrow_type(self) -> pa.DataType:
        return _ARROW_TYPES[self]

    @property
    def is_numeric(self) -> bool:
        return self is not NsdbType.VARCHAR


_SPARK_TYPES = {
    NsdbType.INT: T.IntegerType(),
    NsdbType.BIGINT: T.LongType(),
    NsdbType.DECIMAL: T.DoubleType(),
    NsdbType.VARCHAR: T.StringType(),
}

_ARROW_TYPES = {
    NsdbType.INT: pa.int32(),
    NsdbType.BIGINT: pa.int64(),
    NsdbType.DECIMAL: pa.float64(),
    NsdbType.VARCHAR: pa.string(),
}

RESERVED_FIELDS = ("timestamp", "value")

#: internal partition column name for the natural-time shard
SHARD_COL = "shard_start"

#: default shard interval: 30 days in ms (nsdb.conf:89-91)
DEFAULT_SHARD_INTERVAL_MS = 30 * 24 * 3600 * 1000


def infer_nsdb_type(value: Any) -> NsdbType:
    """Infer an NsdbType from a python value (ingest-side inference)."""
    if isinstance(value, bool):
        raise SchemaError("boolean values are not supported")
    if isinstance(value, int):
        # NSDb distinguishes Int/Long by the producing client's declared type;
        # python ints default to BIGINT (safe superset).
        return NsdbType.BIGINT
    if isinstance(value, float):
        return NsdbType.DECIMAL
    if isinstance(value, str):
        return NsdbType.VARCHAR
    raise SchemaError(f"unsupported value type {type(value).__name__}")


class SchemaError(Exception):
    """Raised on schema conflicts / invalid records (Schema.union failure)."""


@dataclass(frozen=True)
class SchemaField:
    """Mirrors SchemaField(name, fieldClassType, indexType) — Schema.scala:49."""

    name: str
    field_class: FieldClass
    nsdb_type: NsdbType


@dataclass
class Bit:
    """A single time-series record (Bit.scala:58-62)."""

    timestamp: int
    value: int | float
    dimensions: dict[str, Any] = dc_field(default_factory=dict)
    tags: dict[str, Any] = dc_field(default_factory=dict)

    def fields(self) -> dict[str, Any]:
        """name → value over all fields, like Bit.fields (Bit.scala:68-72)."""
        out: dict[str, Any] = {"timestamp": self.timestamp, "value": self.value}
        out.update(self.dimensions)
        out.update(self.tags)
        return out


class MetricSchema:
    """Dynamic, inferred, union-merged schema for one metric.

    Parity: Schema.union grows the field set and rejects per-field type
    conflicts (Schema.scala:116-129); `timestamp`/`value` are reserved
    (Schema.scala:92-93).
    """

    def __init__(self, value_type: NsdbType, fields: Mapping[str, SchemaField] | None = None):
        if not value_type.is_numeric:
            raise SchemaError("value must be numeric")
        self.value_type = value_type
        #: name → SchemaField for dimensions/tags only
        self.fields: dict[str, SchemaField] = dict(fields or {})
        # SHARD_COL is reserved too: it is the engine's internal
        # partition column, and a user field by that name would emit
        # duplicate columns in conform_frame/to_struct_type AFTER the
        # schema registry was already mutated (validate-then-mutate)
        for name in (*RESERVED_FIELDS, SHARD_COL):
            if name in self.fields:
                raise SchemaError(f"field name {name} is reserved")

    # -- introspection -------------------------------------------------
    def field_class(self, name: str) -> FieldClass | None:
        if name == "timestamp":
            return FieldClass.TIMESTAMP
        if name == "value":
            return FieldClass.VALUE
        f = self.fields.get(name)
        return f.field_class if f else None

    def field_type(self, name: str) -> NsdbType | None:
        if name == "timestamp":
            return NsdbType.BIGINT
        if name == "value":
            return self.value_type
        f = self.fields.get(name)
        return f.nsdb_type if f else None

    def has_field(self, name: str) -> bool:
        return name in RESERVED_FIELDS or name in self.fields

    def tags(self) -> list[str]:
        return [n for n, f in self.fields.items() if f.field_class is FieldClass.TAG]

    def dimensions(self) -> list[str]:
        return [n for n, f in self.fields.items() if f.field_class is FieldClass.DIMENSION]

    def all_field_names(self) -> list[str]:
        """Deterministic column order: timestamp, value, then sorted others."""
        return ["timestamp", "value", *sorted(self.fields)]

    # -- evolution -----------------------------------------------------
    @classmethod
    def infer(cls, bit: Bit) -> "MetricSchema":
        fields: dict[str, SchemaField] = {}
        for name, v in bit.dimensions.items():
            fields[name] = SchemaField(name, FieldClass.DIMENSION, infer_nsdb_type(v))
        for name, v in bit.tags.items():
            if name in fields:
                raise SchemaError(f"field {name} is both dimension and tag")
            fields[name] = SchemaField(name, FieldClass.TAG, infer_nsdb_type(v))
        return cls(infer_nsdb_type(bit.value), fields)

    def union(self, other: "MetricSchema") -> "MetricSchema":
        """Union-merge, rejecting type/fieldClass conflicts (Schema.scala:116-129)."""
        if not _types_compatible(self.value_type, other.value_type):
            raise SchemaError(
                f"value type mismatch: {self.value_type.value} vs {other.value_type.value}"
            )
        merged = dict(self.fields)
        for name, f in other.fields.items():
            cur = merged.get(name)
            if cur is None:
                merged[name] = f
            else:
                if cur.field_class is not f.field_class:
                    raise SchemaError(
                        f"field {name} class mismatch: {cur.field_class.value} vs {f.field_class.value}"
                    )
                if not _types_compatible(cur.nsdb_type, f.nsdb_type):
                    raise SchemaError(
                        f"field {name} type mismatch: {cur.nsdb_type.value} vs {f.nsdb_type.value}"
                    )
        return MetricSchema(self.value_type, merged)

    # -- Spark / json --------------------------------------------------
    def to_struct_type(self, with_shard: bool = False) -> T.StructType:
        struct = T.StructType(
            [
                T.StructField("timestamp", T.LongType(), nullable=False),
                T.StructField("value", self.value_type.spark_type, nullable=False),
            ]
            + [
                T.StructField(n, self.fields[n].nsdb_type.spark_type, nullable=True)
                for n in sorted(self.fields)
            ]
        )
        if with_shard:
            struct = struct.add(T.StructField(SHARD_COL, T.LongType(), nullable=False))
        return struct

    def to_arrow_schema(self) -> pa.Schema:
        """to_struct_type() as a pyarrow schema, for reading shard files
        without Spark: a shard file written before a field existed reads
        that column as NULL."""
        return pa.schema(
            [
                pa.field("timestamp", pa.int64(), nullable=False),
                pa.field("value", self.value_type.arrow_type, nullable=False),
            ]
            + [pa.field(n, self.fields[n].nsdb_type.arrow_type) for n in sorted(self.fields)]
        )

    def to_dict(self) -> dict:
        return {
            "value_type": self.value_type.value,
            "fields": {
                n: {"fieldClass": f.field_class.value, "type": f.nsdb_type.value}
                for n, f in sorted(self.fields.items())
            },
        }

    def to_json(self) -> str:
        return json.dumps(self.to_dict(), indent=2)

    @classmethod
    def from_json(cls, raw: str) -> "MetricSchema":
        d = json.loads(raw)
        fields = {
            n: SchemaField(n, FieldClass(spec["fieldClass"]), NsdbType(spec["type"]))
            for n, spec in d["fields"].items()
        }
        return cls(NsdbType(d["value_type"]), fields)


def _types_compatible(a: NsdbType, b: NsdbType) -> bool:
    """Exact-match compatibility, as Schema.union (indexType equality)."""
    return a is b


def shard_start(ts: int, interval_ms: int = DEFAULT_SHARD_INTERVAL_MS) -> int:
    """Natural-time shard lower bound (MetadataCoordinator.scala:89-91)."""
    return (ts // interval_ms) * interval_ms
