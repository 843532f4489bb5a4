"""Config-driven schema builder — reference operator S6, generalized.

The reference's ``build_schema_from_dict`` (``FInal/load_script.py:42-54``)
maps a per-table config dict ``{col_name: type_string}`` to a ``StructType``
of nullable fields, supports exactly ``IntegerType`` and ``StringType``, and
raises on anything else; the in-code comment "Add more type mappings here if
needed" (``FInal/load_script.py:46``) marks the extension point. This module
keeps the same JSON contract but supports the full Spark SQL type lattice,
plus DDL-string types ("decimal(12,2)", "array<float>", "struct<a:int>")
via Spark's own DDL parser — so one config format covers the TPC-H-ish
fixtures (int64/double/string/timestamp) and the LLM-pipeline tables
(``embeddings.embedding: array<float>``, multimodal binary columns).

At 100 TB an explicit schema is not a style choice: schema inference is a
full extra pass over the data (reference v1 skipped inference only by
accident — header-only CSV reads everything as string,
``generic_load_script.py:113``).
"""

from __future__ import annotations

from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    ByteType,
    DataType,
    DateType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# Canonical names (the reference's spelling, "IntegerType") plus common
# aliases; anything not here falls through to Spark's DDL parser, which
# covers parameterized and nested types (decimal/array/map/struct).
_TYPE_MAP: dict[str, DataType] = {
    "integertype": IntegerType(),
    "int": IntegerType(),
    "integer": IntegerType(),
    "longtype": LongType(),
    "long": LongType(),
    "bigint": LongType(),
    "shorttype": ShortType(),
    "smallint": ShortType(),
    "bytetype": ByteType(),
    "tinyint": ByteType(),
    "stringtype": StringType(),
    "string": StringType(),
    "doubletype": DoubleType(),
    "double": DoubleType(),
    "floattype": FloatType(),
    "float": FloatType(),
    "booleantype": BooleanType(),
    "boolean": BooleanType(),
    "datetype": DateType(),
    "date": DateType(),
    "timestamptype": TimestampType(),
    "timestamp": TimestampType(),
    "binarytype": BinaryType(),
    "binary": BinaryType(),
}


def parse_type(type_str: str) -> DataType:
    """One type string → Spark DataType. Named types first, then DDL
    (e.g. "decimal(12,2)", "array<float>", "struct<a:int,b:string>")."""
    dt = _TYPE_MAP.get(type_str.strip().lower())
    if dt is not None:
        return dt
    try:
        # DDL parsing delegates to Spark's parser (needs an active session —
        # always true in real use; the named types above work sessionless)
        parsed = StructType.fromDDL(f"__c {type_str}")
        return parsed.fields[0].dataType
    except Exception as exc:
        # same contract as the reference: unknown type is a hard error
        # (FInal/load_script.py:52)
        raise ValueError(f"Unsupported type in schema config: {type_str!r}") from exc


def build_schema_from_dict(schema_dict: dict[str, str]) -> StructType:
    """Config dict {col: type_string} → StructType of nullable fields
    (all-nullable per the reference, ``FInal/load_script.py:53``)."""
    if not schema_dict:
        # missing schema is a hard error in v2 (FInal/load_script.py:164-166)
        raise ValueError("schema config is required and must be non-empty")
    return StructType(
        [StructField(name, parse_type(t), nullable=True) for name, t in schema_dict.items()]
    )
