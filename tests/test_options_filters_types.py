"""Unit tests: options validation (ref config/LanceOptions.java:719-780),
filter compiler accept/reject semantics (ref
table/LanceDynamicTableSource.java:177-345), Arrow<->Spark type bridge
(ref converter/LanceTypeConverter.java)."""

from __future__ import annotations

import pyarrow as pa
import pytest
from pyspark.sql import types as st

from flink_connector_lance_spark.options import DatasetOptions, DistanceMetric, WriteMode
from flink_connector_lance_spark.plans import filters as PF
from flink_connector_lance_spark import types as TY


class TestOptions:
    def test_defaults_match_reference(self):
        o = DatasetOptions(path="/x")
        assert (o.read_batch_size, o.write_batch_size) == (1024, 1024)
        assert o.write_max_rows_per_file == 1_000_000
        assert (o.index_num_partitions, o.index_num_bits) == (256, 8)
        assert (o.index_max_level, o.index_m, o.index_ef_construction) == (7, 16, 100)
        assert (o.vector_nprobes, o.vector_ef) == (20, 100)
        assert o.vector_metric is DistanceMetric.L2
        assert o.write_mode is WriteMode.APPEND
        assert o.default_database == "default"

    @pytest.mark.parametrize("kw", [
        {"read_batch_size": 0}, {"write_batch_size": -1}, {"read_limit": -1},
        {"index_num_bits": 0}, {"index_num_bits": 17}, {"index_num_partitions": 0},
        {"index_m": -2}, {"vector_nprobes": 0}, {"vector_refine_factor": 0},
        {"write_max_rows_per_file": 0},
    ])
    def test_validation_rejects(self, kw):
        with pytest.raises(ValueError):
            DatasetOptions(path="/x", **kw)

    def test_limit_zero_valid(self):
        assert DatasetOptions(path="/x", read_limit=0).read_limit == 0

    def test_from_dict_connector_keys(self):
        o = DatasetOptions.from_dict({
            "path": "/w/t", "read.batch-size": "512", "read.columns": "a, b,c",
            "write.mode": "overwrite", "vector.metric": "cosine",
            "custom.key": "v",
        })
        assert o.read_batch_size == 512
        assert o.read_columns == ["a", "b", "c"]
        assert o.write_mode is WriteMode.OVERWRITE
        assert o.vector_metric is DistanceMetric.COSINE
        assert o.extra == {"custom.key": "v"}

    def test_bad_enums(self):
        with pytest.raises(ValueError):
            WriteMode.parse("upsert")
        with pytest.raises(ValueError):
            DistanceMetric.parse("manhattan")


class TestFilterCompiler:
    def test_comparisons(self):
        assert PF.compile_filter(PF.Cmp("=", PF.Col("a"), PF.Lit(1))) == "a = 1"
        assert PF.compile_filter(PF.Cmp("<>", PF.Col("a"), PF.Lit("x'y"))) == "a <> 'x''y'"
        assert PF.compile_filter(PF.Cmp(">=", PF.Col("a"), PF.Lit(2.5))) == "a >= 2.5"

    def test_literal_left_mirrors_operator(self):
        # ref :273-303: 5 > a  =>  a < 5
        assert PF.compile_filter(PF.Cmp(">", PF.Lit(5), PF.Col("a"))) == "a < 5"
        assert PF.compile_filter(PF.Cmp("<=", PF.Lit(5), PF.Col("a"))) == "a >= 5"

    def test_boolean_composition(self):
        f = PF.And(PF.Cmp("=", PF.Col("a"), PF.Lit(1)), PF.Not(PF.Cmp("<", PF.Col("b"), PF.Lit(2))))
        assert PF.compile_filter(f) == "(a = 1) AND (NOT (b < 2))"

    def test_null_and_like(self):
        assert PF.compile_filter(PF.IsNull(PF.Col("a"))) == "a IS NULL"
        assert PF.compile_filter(PF.IsNull(PF.Col("a"), negated=True)) == "a IS NOT NULL"
        assert PF.compile_filter(PF.Like(PF.Col("a"), "x%")) == "a LIKE 'x%'"

    def test_in_between_rejected(self):
        # ref :263-264: IN/BETWEEN stay residual
        assert PF.compile_filter(PF.In(PF.Col("a"), (1, 2))) is None
        assert PF.compile_filter(PF.Between(PF.Col("a"), 1, 2)) is None

    def test_and_rejected_wholesale_when_child_unconvertible(self):
        # ref :235-238: if any child unconvertible the whole AND is residual
        f = PF.And(PF.Cmp("=", PF.Col("a"), PF.Lit(1)), PF.In(PF.Col("b"), (1,)))
        assert PF.compile_filter(f) is None

    def test_partial_acceptance(self):
        accepted, residual = PF.compile_filters([
            PF.Cmp("=", PF.Col("a"), PF.Lit(1)),
            PF.In(PF.Col("b"), (1, 2)),
            PF.Like(PF.Col("c"), "%z"),
        ])
        assert accepted == ["a = 1", "c LIKE '%z'"]
        assert len(residual) == 1 and isinstance(residual[0], PF.In)

    def test_compose_with_configured_filter(self):
        # ref :350-363
        assert PF.compose(["a = 1"], "b > 2") == "(a = 1) AND (b > 2)"
        assert PF.compose([], None) is None

    def test_literals(self):
        assert PF.render_literal(None) == "NULL"
        assert PF.render_literal(True) == "TRUE"
        assert PF.render_literal(False) == "FALSE"
        assert PF.render_literal("o'neil") == "'o''neil'"


class TestTypeBridge:
    def test_arrow_to_spark_matrix(self):
        cases = [
            (pa.int8(), st.ByteType()), (pa.int16(), st.ShortType()),
            (pa.int32(), st.IntegerType()), (pa.int64(), st.LongType()),
            (pa.float32(), st.FloatType()), (pa.float64(), st.DoubleType()),
            (pa.string(), st.StringType()), (pa.bool_(), st.BooleanType()),
            (pa.binary(), st.BinaryType()), (pa.date32(), st.DateType()),
            # Parquet's isAdjustedToUTC: an instant is TIMESTAMP, a
            # wall-clock TIMESTAMP_NTZ
            (pa.timestamp("ns", tz="UTC"), st.TimestampType()),
            (pa.timestamp("ns"), st.TimestampNTZType()),
            (pa.list_(pa.float32()), st.ArrayType(st.FloatType())),
            (pa.list_(pa.float32(), 8), st.ArrayType(st.FloatType())),
        ]
        for arrow_t, spark_t in cases:
            assert TY.arrow_type_to_spark(arrow_t) == spark_t, str(arrow_t)

    def test_nested_struct(self):
        t = pa.struct([pa.field("x", pa.int32()), pa.field("y", pa.list_(pa.string()))])
        out = TY.arrow_type_to_spark(t)
        assert isinstance(out, st.StructType)
        assert out["y"].dataType == st.ArrayType(st.StringType())

    def test_vector_dim_preserved_in_metadata_and_roundtrip(self):
        schema = pa.schema([pa.field("emb", pa.list_(pa.float32(), 64))])
        spark_schema = TY.arrow_schema_to_spark(schema)
        assert spark_schema["emb"].metadata["lance.vector.dim"] == 64
        back = TY.spark_schema_to_arrow(spark_schema)
        # improvement over the reference: FixedSizeList survives the round trip
        assert pa.types.is_fixed_size_list(back.field("emb").type)
        assert back.field("emb").type.list_size == 64

    def test_vector_field_detection(self):
        schema = pa.schema([
            pa.field("emb", pa.list_(pa.float32(), 16)),
            pa.field("plain", pa.list_(pa.float32())),
        ])
        assert TY.vector_field_dim(schema, "emb") == 16
        assert TY.vector_field_dim(schema, "plain") is None
        assert TY.vector_field_dim(schema, "nope") is None

    def test_unsupported_types_raise(self):
        with pytest.raises(TY.UnsupportedTypeError):
            TY.arrow_type_to_spark(pa.decimal128(10, 2))
        with pytest.raises(TY.UnsupportedTypeError):
            TY.spark_type_to_arrow(st.DecimalType(10, 2))
        with pytest.raises(TY.UnsupportedTypeError):
            TY.spark_type_to_arrow(st.MapType(st.StringType(), st.StringType()))


def test_vec_literal_names_non_finite_component():
    from flink_connector_lance_spark.functions.vector import vec_literal

    with pytest.raises(ValueError, match=r"component 2 is not finite: inf"):
        vec_literal([0.5, 1.0, float("inf")])
