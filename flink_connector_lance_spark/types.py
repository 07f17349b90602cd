"""Arrow <-> Spark type bridge (ref converter/LanceTypeConverter.java).

Mirrors the reference's supported-type matrix (SURVEY.md §1.2) in both
directions, with two deliberate improvements (SURVEY.md §7.0.3):

- fixed-size vector fidelity: FixedSizeList<float/double>(dim) maps to
  ArrayType(Float/Double) with the dimension kept in field metadata, and
  ``to_arrow_field`` re-emits FixedSizeList when a dimension is present
  (the reference flattens to plain List on write —
  ref LanceTypeConverter.java:235-242 — which breaks ANN indexing);
- unsupported types raise ``UnsupportedTypeError`` with the offending
  type named (ref LanceTypeConverter.java:431-439).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import types as st

VECTOR_DIM_KEY = b"lance.vector.dim"


class UnsupportedTypeError(TypeError):
    """ref converter/LanceTypeConverter.java:431-439."""


# --- Arrow -> Spark ----------------------------------------------------------

def arrow_type_to_spark(t: pa.DataType) -> st.DataType:
    """ref LanceTypeConverter.java:118-191 (toFlinkType)."""
    if pa.types.is_int8(t):
        return st.ByteType()
    if pa.types.is_int16(t):
        return st.ShortType()
    if pa.types.is_int32(t):
        return st.IntegerType()
    if pa.types.is_int64(t):
        return st.LongType()
    if pa.types.is_float32(t):
        return st.FloatType()
    if pa.types.is_float64(t):
        return st.DoubleType()
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return st.StringType()
    if pa.types.is_boolean(t):
        return st.BooleanType()
    if pa.types.is_binary(t) or pa.types.is_large_binary(t) or pa.types.is_fixed_size_binary(t):
        return st.BinaryType()
    if pa.types.is_date32(t):
        return st.DateType()
    if pa.types.is_timestamp(t):
        # Spark timestamps are µs-precision; s/ms/µs/ns all map here
        # (ns truncates — ref RowDataConverter.java:215-235 precision
        # hops). Parquet's isAdjustedToUTC decides the type: an instant
        # (tz-aware) is TIMESTAMP, a wall-clock (tz-naive) TIMESTAMP_NTZ
        return st.TimestampType() if t.tz else st.TimestampNTZType()
    if pa.types.is_fixed_size_list(t):
        # the vector type (ref LanceTypeConverter.java:162-170)
        return st.ArrayType(arrow_type_to_spark(t.value_type))
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return st.ArrayType(arrow_type_to_spark(t.value_type))
    if pa.types.is_struct(t):
        return st.StructType([
            st.StructField(f.name, arrow_type_to_spark(f.type), f.nullable) for f in t
        ])
    if pa.types.is_null(t):
        # nullable STRING with warning (ref LanceTypeConverter.java:187-191)
        return st.StringType()
    raise UnsupportedTypeError(f"unsupported Arrow type: {t}")


def arrow_schema_to_spark(schema: pa.Schema) -> st.StructType:
    fields = []
    for f in schema:
        spark_t = arrow_type_to_spark(f.type)
        metadata = {}
        if pa.types.is_fixed_size_list(f.type):
            metadata["lance.vector.dim"] = f.type.list_size
        fields.append(st.StructField(f.name, spark_t, f.nullable, metadata or None))
    return st.StructType(fields)


# --- Spark -> Arrow ----------------------------------------------------------

def spark_type_to_arrow(t: st.DataType) -> pa.DataType:
    """ref LanceTypeConverter.java:203-253 (toArrowType). No DECIMAL branch,
    matching the reference (DECIMAL cannot round-trip — SURVEY.md §1.2)."""
    if isinstance(t, st.ByteType):
        return pa.int8()
    if isinstance(t, st.ShortType):
        return pa.int16()
    if isinstance(t, st.IntegerType):
        return pa.int32()
    if isinstance(t, st.LongType):
        return pa.int64()
    if isinstance(t, st.FloatType):
        return pa.float32()
    if isinstance(t, st.DoubleType):
        return pa.float64()
    if isinstance(t, st.StringType):
        return pa.string()
    if isinstance(t, st.BooleanType):
        return pa.bool_()
    if isinstance(t, st.BinaryType):
        return pa.binary()
    if isinstance(t, st.DateType):
        return pa.date32()
    if isinstance(t, st.TimestampType):
        # an instant: tz-aware µs, the Arrow type Spark's bridge reads
        # as TIMESTAMP
        return pa.timestamp("us", tz="UTC")
    if isinstance(t, st.TimestampNTZType):
        # tz-naive µs: the Arrow type Spark's bridge reads as TIMESTAMP_NTZ
        return pa.timestamp("us")
    if isinstance(t, st.ArrayType):
        return pa.list_(spark_type_to_arrow(t.elementType))
    if isinstance(t, st.StructType):
        return pa.struct([
            pa.field(f.name, spark_type_to_arrow(f.dataType), f.nullable) for f in t.fields
        ])
    raise UnsupportedTypeError(f"unsupported Spark type: {t}")


def to_arrow_field(f: st.StructField) -> pa.Field:
    """Vector-aware field conversion: if the Spark field carries a
    ``lance.vector.dim`` metadata entry (or ``dim`` is passed), emit
    FixedSizeList so Lance can index it — the improvement over the
    reference's List-on-write flattening (ref LanceTypeConverter.java:235-242
    vs createVectorField :267-276)."""
    dim = (f.metadata or {}).get("lance.vector.dim")
    if dim and isinstance(f.dataType, st.ArrayType):
        elem = spark_type_to_arrow(f.dataType.elementType)
        return pa.field(f.name, pa.list_(elem, int(dim)), f.nullable)
    return pa.field(f.name, spark_type_to_arrow(f.dataType), f.nullable)


def spark_schema_to_arrow(schema: st.StructType) -> pa.Schema:
    return pa.schema([to_arrow_field(f) for f in schema.fields])


def vector_field_dim(schema: pa.Schema, name: str) -> int | None:
    """isVectorField / getVectorDimension (ref LanceTypeConverter.java:303-335)."""
    if name not in schema.names:
        return None
    t = schema.field(name).type
    if pa.types.is_fixed_size_list(t) and (
        pa.types.is_float32(t.value_type) or pa.types.is_float64(t.value_type)
    ):
        return t.list_size
    return None
