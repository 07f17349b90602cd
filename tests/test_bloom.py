"""Per-fragment bloom filters (sources/bloom.py): point-predicate data
skipping that zone maps cannot do, plus sidecar lifecycle (vacuum)."""

from __future__ import annotations

import json
import os

import pyspark.sql.functions as F
import pytest
from pyspark.sql.datasource import EqualTo, In

from flink_connector_lance_spark.sources import fragments as FR
from flink_connector_lance_spark.sources.bloom import (
    BLOOM_STATS_KEY,
    BLOOM_SUFFIX,
    BloomFilter,
    build_bloom_sidecar,
    estimated_fpp,
    parse_bloom_columns,
)
from flink_connector_lance_spark.sources.datasource import (
    LanceDataSourceReader,
    register_lance_datasource,
)


# ---------------------------------------------------------------- unit


def test_bloom_no_false_negatives_ints_and_strings():
    bf = BloomFilter(4096, 5)
    values = list(range(-100, 100)) + [f"doc-{i}" for i in range(200)]
    for v in values:
        bf.add(v)
    assert all(bf.might_contain(v) for v in values)


def test_bloom_fpp_is_bounded():
    n = 1000
    bf = BloomFilter(n * 10, 7)
    for i in range(n):
        bf.add(f"present-{i}")
    misses = sum(bf.might_contain(f"absent-{i}") for i in range(10_000))
    # theoretical ~1% at 10 bits/row, k=7; allow generous slack
    assert misses / 10_000 < 0.05
    assert estimated_fpp(1000) < 0.02


def test_vectorized_int_add_matches_scalar_add():
    import numpy as np

    # m MUST include a non-power-of-two: (h1 + i*h2) only reduces mod m
    # identically on both paths when the sum wraps at 64 bits first
    for m, k in ((2048, 4), (1000, 7), (997, 5)):
        scalar = BloomFilter(m, k)
        vector = BloomFilter(m, k)
        vals = [0, 1, -1, 7, 10**12, -(10**12), 2**63 - 1] + list(range(50))
        for v in vals:
            scalar.add(v)
        vector.add_int_array(np.array(vals, dtype=np.int64))
        assert bytes(scalar.bits) == bytes(vector.bits), (m, k)


def test_bool_canonicalizes_to_int():
    bf = BloomFilter(512, 3)
    bf.add(True)
    assert bf.might_contain(1)
    assert bf.might_contain(True)


def test_unbloomable_value_is_conservative():
    bf = BloomFilter(512, 3)  # empty
    assert bf.might_contain(3.14)  # float -> maybe
    assert not bf.might_contain(42)  # int -> provably absent


def test_roundtrip_json():
    bf = BloomFilter(1024, 4)
    for i in range(50):
        bf.add(i)
    back = BloomFilter.from_json(json.loads(json.dumps(bf.to_json())))
    assert all(back.might_contain(i) for i in range(50))
    assert back.m == 1024 and back.k == 4


def test_parse_bloom_columns():
    assert parse_bloom_columns("a, b ,c") == ["a", "b", "c"]
    assert parse_bloom_columns(None) == []
    assert parse_bloom_columns(["x"]) == ["x"]


# ------------------------------------------------------- sidecar build


def test_build_sidecar_skips_float_and_missing_columns(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    f = str(tmp_path / "frag.parquet")
    pq.write_table(
        pa.table({"id": [1, 2, 3], "score": [0.1, 0.2, 0.3], "name": ["a", "b", None]}),
        f,
    )
    entry = build_bloom_sidecar(f, ["id", "score", "name", "ghost"])
    assert set(entry["cols"]) == {"id", "name"}  # float + missing skipped
    assert os.path.exists(f + BLOOM_SUFFIX)
    payload = json.load(open(f + BLOOM_SUFFIX))
    bf = BloomFilter.from_json(payload["id"])
    assert bf.might_contain(2) and not bf.might_contain(999)
    # nulls are not added but don't break the build
    nf = BloomFilter.from_json(payload["name"])
    assert nf.might_contain("a")


def test_build_sidecar_returns_none_when_nothing_bloomable(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    f = str(tmp_path / "frag.parquet")
    pq.write_table(pa.table({"score": [0.1, 0.2]}), f)
    assert build_bloom_sidecar(f, ["score"]) is None
    assert not os.path.exists(f + BLOOM_SUFFIX)


def test_build_sidecar_skips_column_on_cast_overflow(tmp_path):
    """uint64 past int64 range overflows the canonical cast: the column
    is skipped (no pruning), the write never fails."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    f = str(tmp_path / "frag.parquet")
    pq.write_table(
        pa.table({
            "big": pa.array([2**64 - 1, 5], type=pa.uint64()),
            "name": ["a", "b"],
        }),
        f,
    )
    entry = build_bloom_sidecar(f, ["big", "name"])
    assert set(entry["cols"]) == {"name"}


# ------------------------------------------------ format("lance") path


def _bloom_dataset(spark, path):
    """4 fragments, one per grp (id % 4): every fragment's id/name zone
    map spans nearly the whole value range (ids g, g+4, ..., g+396), so
    only blooms can prune point predicates."""
    df = spark.range(400).select(
        F.col("id"),
        (F.col("id") % 4).alias("grp"),
        F.concat(F.lit("doc-"), F.col("id")).alias("name"),
    )
    for g in range(4):
        (
            df.filter(F.col("grp") == g).coalesce(1)
            .write.format("lance")
            .option("write.bloom-columns", "id,name")
            .mode("overwrite" if g == 0 else "append")
            .save(path)
        )


def test_format_write_records_bloom_stats(spark, tmp_path):
    register_lance_datasource(spark)
    path = str(tmp_path / "ds")
    _bloom_dataset(spark, path)
    m = FR.read_manifest(path)
    assert len(m.fragments) == 4
    for f in m.fragments:
        entry = f.stats[BLOOM_STATS_KEY]
        assert set(entry["cols"]) == {"id", "name"}
        assert os.path.exists(os.path.join(path, f.file + BLOOM_SUFFIX))


def test_point_lookup_prunes_fragments_where_zone_maps_cannot(spark, tmp_path):
    register_lance_datasource(spark)
    path = str(tmp_path / "ds")
    _bloom_dataset(spark, path)

    def planned(filters):
        r = LanceDataSourceReader({"path": path})
        r.pushFilters(filters)
        return r.partitions()

    assert len(planned([])) == 4
    # zone maps alone keep all 4 (id 0..399 in every fragment's range);
    # the bloom keeps only the fragment really holding id=42 (grp 2)
    assert len(planned([EqualTo(("id",), 42)])) == 1
    assert len(planned([EqualTo(("name",), "doc-42")])) == 1
    # IN across two grps keeps exactly those fragments
    assert len(planned([In(("id",), (42, 43))])) == 2
    # absent value: prunes everything — no task is ever scheduled
    assert planned([EqualTo(("id",), 40_000)]) == []
    # NULLs in the IN list are ignored (three-valued logic: never match)
    assert len(planned([In(("id",), (42, None))])) == 1
    # un-bloomed grp column: the zone map alone prunes (min==max==g per
    # fragment) — blooms compose with, never replace, zone maps
    assert len(planned([EqualTo(("grp",), 2)])) == 1


def test_point_lookup_results_are_correct(spark, tmp_path):
    register_lance_datasource(spark)
    path = str(tmp_path / "ds")
    _bloom_dataset(spark, path)
    out = spark.read.format("lance").load(path).filter(F.col("id") == 42).collect()
    assert len(out) == 1 and out[0].name == "doc-42"
    absent = spark.read.format("lance").load(path).filter(F.col("name") == "nope")
    assert absent.count() == 0


def test_rewritten_fragments_inherit_blooms(spark, tmp_path):
    """Maintenance rewrites (DELETE here) rebuild bloom sidecars for the
    fragments they replace — point-lookup pruning survives maintenance."""
    from flink_connector_lance_spark.sources.maintenance import delete_rows

    register_lance_datasource(spark)
    path = str(tmp_path / "ds")
    _bloom_dataset(spark, path)
    delete_rows(spark, path, "id = 7")  # rewrites the grp-3 fragment
    m = FR.read_manifest(path)
    assert all(BLOOM_STATS_KEY in (f.stats or {}) for f in m.fragments)
    r = LanceDataSourceReader({"path": path})
    r.pushFilters([EqualTo(("id",), 6)])
    # the rewritten fragment's NEW bloom still prunes: exactly one kept
    assert len(r.partitions()) == 1
    got = spark.read.format("lance").load(path).filter("id = 6").count()
    assert got == 1
    assert spark.read.format("lance").load(path).filter("id = 7").count() == 0
    # the deleted id now prunes EVERYTHING (absent from every bloom)
    r2 = LanceDataSourceReader({"path": path})
    r2.pushFilters([EqualTo(("id",), 7)])
    assert r2.partitions() == []


def test_compaction_inherits_blooms(spark, tmp_path):
    from flink_connector_lance_spark.sources.maintenance import compact_dataset

    register_lance_datasource(spark)
    path = str(tmp_path / "ds")
    _bloom_dataset(spark, path)
    compact_dataset(spark, path, target_rows_per_fragment=1000)  # merges all 4
    m = FR.read_manifest(path)
    assert all(BLOOM_STATS_KEY in (f.stats or {}) for f in m.fragments)
    r = LanceDataSourceReader({"path": path})
    r.pushFilters([EqualTo(("id",), 40_000)])  # absent value still prunes
    assert r.partitions() == []
    assert spark.read.format("lance").load(path).filter("id = 42").count() == 1


# -------------------------------------------------- write_dataset path


def test_write_dataset_attach_blooms_distributed(spark, tmp_path):
    from flink_connector_lance_spark.options import DatasetOptions
    from flink_connector_lance_spark.sources.writer import write_dataset

    path = str(tmp_path / "ds")
    df = spark.range(300).select(
        F.col("id"), F.concat(F.lit("k-"), F.col("id") % 3).alias("bucket")
    )
    opts = DatasetOptions(path=path, bloom_columns=["id"], write_max_rows_per_file=100)
    write_dataset(df.repartition(3), path, mode="overwrite", options=opts)
    m = FR.read_manifest(path)
    assert len(m.fragments) >= 3
    assert all(BLOOM_STATS_KEY in (f.stats or {}) for f in m.fragments)
    r = LanceDataSourceReader({"path": path})
    r.pushFilters([EqualTo(("id",), 123)])
    assert len(r.partitions()) < len(m.fragments)


# ------------------------------------------------------------- vacuum


def test_vacuum_collects_dead_sidecars_keeps_live_ones(spark, tmp_path):
    from flink_connector_lance_spark.sources.maintenance import vacuum_dataset

    register_lance_datasource(spark)
    path = str(tmp_path / "ds")
    _bloom_dataset(spark, path)  # v0..v3 (overwrite + 3 appends)
    _bloom_dataset(spark, path)  # v4 overwrite + appends: v0..v3 dead
    res = vacuum_dataset(path, keep_versions=1)
    assert res["dropped_versions"] == 7
    data = os.listdir(os.path.join(path, "data"))
    live = {os.path.basename(f.file) for f in FR.read_manifest(path).fragments}
    assert {n for n in data if n.endswith(".parquet")} == live
    # every remaining sidecar belongs to a live fragment
    for n in data:
        if n.endswith(BLOOM_SUFFIX):
            assert n.removesuffix(BLOOM_SUFFIX) in live
    # and every live fragment kept its sidecar
    assert sum(n.endswith(BLOOM_SUFFIX) for n in data) == len(live)
