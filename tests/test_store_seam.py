"""The storage seam (sources/fs.py): one store for local and s3://
locations, so describe/vacuum/commit are written once.

- the same directory described by its local path and by an ``s3://``
  url (through the fake fsspec fixture, tests/fixtures/fsspec.py) gives
  the same report, for both manifest formats;
- vacuum on s3 pins the manifest an ANN index was built against, like
  the local path does;
- the scheme is resolved once: ``file://`` is a local path, any other
  non-s3 scheme is refused by name, and the local metadata plane never
  imports fsspec.
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from flink_connector_lance_spark.options import DatasetOptions, S3Options
from flink_connector_lance_spark.sources import fragments as FR
from flink_connector_lance_spark.sources.maintenance import (
    cluster_dataset,
    delete_rows,
    describe_dataset,
    vacuum_dataset,
)
from flink_connector_lance_spark.sources.writer import write_dataset

FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures")


@pytest.fixture()
def fake_s3(spark, monkeypatch, tmp_path):
    """``import fsspec`` resolves to the fake on the driver and in Spark's
    Python workers; yields the local root backing s3://."""
    monkeypatch.syspath_prepend(FIXTURES)
    sys.modules.pop("fsspec", None)
    spark.sparkContext.addPyFile(os.path.join(FIXTURES, "fsspec.py"))
    root = str(tmp_path / "fake-s3")
    os.makedirs(root)
    yield root
    sys.modules.pop("fsspec", None)


def _both_reports(root: str, name: str) -> tuple[dict, dict]:
    local = os.path.join(root, "bucket", "wh", name)
    storage = S3Options(endpoint=f"fake://{root}").to_storage_options()
    by_path = describe_dataset(local)
    by_url = describe_dataset(f"s3://bucket/wh/{name}", storage_options=storage)
    assert by_path.pop("path") == os.path.abspath(local)
    assert by_url.pop("path") == f"s3://bucket/wh/{name}"
    return by_path, by_url


def test_describe_same_table_same_report_emulated(fake_s3, spark):
    """Bloom column, rollup, clustering and an array column: the local
    and s3 reports of one emulated directory are equal."""
    from flink_connector_lance_spark.sources.rollup import create_rollup

    local = os.path.join(fake_s3, "bucket", "wh", "emu")
    opts = DatasetOptions(path=local, bloom_columns=["id"])

    def rows(lo, hi):
        return spark.createDataFrame(
            [(i, i % 4, [float(i), float(i % 3)]) for i in range(lo, hi)],
            "id long, g long, vec array<double>")

    write_dataset(rows(0, 80).repartition(2), local, mode="overwrite",
                  options=opts)
    cluster_dataset(spark, local, ["id"], 40)
    create_rollup(spark, local, "by_g", ["g"], {"cnt": "count"})
    write_dataset(rows(80, 90).coalesce(1), local, mode="append", options=opts)

    by_path, by_url = _both_reports(fake_s3, "emu")
    assert by_path == by_url
    assert by_path["schema_columns"] == ["g", "id", "vec"]
    assert by_path["num_rows"] == 90 and by_path["tombstoned_rows"] == 0
    assert by_path["bloom"]["columns"] == ["id"]
    assert by_path["clustering"]["unclustered_rows"] == 10
    rollup = by_path["rollups"][0]
    assert rollup["name"] == "by_g" and rollup["pending_rows"] == 10
    assert rollup["aggs"]  # the full rollup_status, not a summary
    assert by_path["native_format"] is None


def test_describe_same_table_same_report_native(fake_s3, spark):
    """Blooms, clustering and a deletion vector on a native binary
    dataset: the local and s3 reports are equal, and neither hardcodes
    the auxiliary structures away."""
    from flink_connector_lance_spark.sources.writer import write_native_pure

    local = os.path.join(fake_s3, "bucket", "wh", "nat")
    opts = DatasetOptions(path=local, bloom_columns=["id"])
    write_native_pure(spark.range(60).selectExpr("id", "id % 3 AS g")
                      .repartition(2), local, mode="overwrite", options=opts)
    cluster_dataset(spark, local, ["id"], 30)
    write_native_pure(spark.range(60, 70).selectExpr("id", "id % 3 AS g")
                      .coalesce(1), local, mode="append", options=opts)
    delete_rows(spark, local, "id < 5", use_deletion_vectors=True)

    by_path, by_url = _both_reports(fake_s3, "nat")
    assert by_path == by_url
    assert by_path["num_rows"] == 65 and by_path["tombstoned_rows"] == 5
    assert by_path["schema_columns"] == ["g", "id"]
    assert by_path["bloom"]["columns"] == ["id"]
    assert by_path["clustering"]["cluster_by"] == ["id"]
    assert by_path["clustering"]["unclustered_rows"] == 10
    assert by_path["native_format"]["writer_version"]


def test_s3_vacuum_keeps_index_build_manifest(fake_s3, spark):
    """An ivf_flat index built on s3 pins its build manifest through
    vacuum, so the index stays covering everything but the append."""
    from flink_connector_lance_spark.index import build_index

    url = "s3://bucket/wh/annvac"
    s3 = S3Options(endpoint=f"fake://{fake_s3}")
    storage = s3.to_storage_options()
    opts = DatasetOptions(path=url, s3=s3, index_num_partitions=4)
    rows = [(i, [float(i % 13), float((i * 7) % 11), float(i % 5)])
            for i in range(240)]
    schema = "id long, vec array<double>"
    write_dataset(spark.createDataFrame(rows, schema).repartition(2), url,
                  mode="overwrite", options=opts)  # v0
    res = build_index(url, "vec", "ivf_flat", spark=spark, id_col="id",
                      options=opts)
    assert res.success, res.error
    extra = [(1000 + i, [0.5, 0.5, 0.5]) for i in range(10)]
    write_dataset(spark.createDataFrame(extra, schema).coalesce(1), url,
                  mode="append", options=opts)  # v1

    rep = vacuum_dataset(url, keep_versions=1, storage_options=storage,
                         staging_grace_seconds=0)
    assert 0 in rep["kept_versions"], rep
    desc = describe_dataset(url, storage_options=storage)
    assert [i["unindexed_rows"] for i in desc["indexes"]] == [10]


def test_store_for_resolves_the_scheme_once(tmp_path):
    from flink_connector_lance_spark.sources.fs import store_for

    (tmp_path / "sub").mkdir()
    store = store_for(f"file://{tmp_path}")
    assert store.is_local
    assert store.ls(f"file://{tmp_path}") == ["sub"]
    assert store.isdir(f"file://{tmp_path}/sub")
    for url, scheme in (("hdfs://nn/wh/t", "hdfs"), ("gs://bucket/t", "gs")):
        with pytest.raises(ValueError, match=f"unsupported scheme '{scheme}'"):
            store_for(url)
        # the metadata plane refuses at the seam, not deep in an os call
        with pytest.raises(ValueError, match=f"unsupported scheme '{scheme}'"):
            FR.latest_version(url)


def _local_dataset(root: str, native: bool) -> None:
    """Three overwrite commits, no Spark: versions 0..2 (emulated) or
    1..3 (native)."""
    from flink_connector_lance_spark.sources import lance_format as LF

    for i in range(3):
        table = pa.table({"id": [i, i + 10]})
        if native:
            LF.write_native_dataset(root, table,
                                    mode="create" if i == 0 else "overwrite")
            continue
        os.makedirs(os.path.join(root, FR.DATA_DIR), exist_ok=True)
        name = f"{FR.DATA_DIR}/f{i}.parquet"
        pq.write_table(table, os.path.join(root, name))
        FR.commit(root, [FR.FragmentInfo(
            0, name, 2, FR.parquet_fragment_stats(os.path.join(root, name)))],
            mode="overwrite")


@pytest.mark.parametrize("native", [False, True], ids=["emulated", "native"])
def test_local_metadata_plane_without_fsspec(tmp_path, monkeypatch, native):
    """With fsspec unimportable, commit, latest_version, describe and
    vacuum on a local dataset all work: the local store is plain os."""
    monkeypatch.setitem(sys.modules, "fsspec", None)
    root = str(tmp_path / "ds")
    _local_dataset(root, native)
    head = 3 if native else 2
    assert FR.latest_version(root) == head
    desc = describe_dataset(f"file://{root}")
    assert desc["path"] == root and desc["version"] == head
    assert desc["num_rows"] == 2 and desc["schema_columns"] == ["id"]
    rep = vacuum_dataset(root, keep_versions=1)
    assert rep["kept_versions"] == [head] and rep["dropped_versions"] == 2
    assert rep["deleted_files"] == 2 and rep["skipped_young_keys"] == 0
    assert FR.read_manifest_compat(root).row_count == 2


def test_local_writing_is_all_or_nothing(tmp_path):
    """``LocalStore.writing`` writes a dot-prefixed sibling temp file and
    replaces the key with it only when the block succeeds: a failed block
    leaves neither the key nor a temp file, and an existing key keeps its
    old bytes until the block that rewrites it has finished."""
    from flink_connector_lance_spark.sources.fs import store_for

    store = store_for(str(tmp_path))
    key = str(tmp_path / "sub" / "k.json")
    with pytest.raises(RuntimeError, match="boom"):
        with store.writing(key) as tmp:
            assert os.path.basename(tmp).startswith(".")
            with open(tmp, "w") as fh:
                fh.write("partial")
            raise RuntimeError("boom")
    assert os.listdir(tmp_path / "sub") == []

    with store.writing(key) as tmp:
        with open(tmp, "w") as fh:
            fh.write("old")
    with store.writing(key) as tmp:
        with open(tmp, "w") as fh:
            fh.write("new")
        with open(key) as fh:
            assert fh.read() == "old"
    with open(key) as fh:
        assert fh.read() == "new"
    with pytest.raises(RuntimeError):
        with store.writing(key) as tmp:
            with open(tmp, "w") as fh:
                fh.write("torn")
            raise RuntimeError
    with open(key) as fh:
        assert fh.read() == "new"
    assert os.listdir(tmp_path / "sub") == ["k.json"]
