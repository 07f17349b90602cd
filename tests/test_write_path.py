"""The executor-direct write route: every emulated write and rewrite is a
task-side writer (``writer.write_fragments``) plus one driver commit, for
a local path and an ``s3://`` url (the fake fsspec fixture,
tests/fixtures/fsspec.py) alike.

- every rewrite commits under CAS on the manifest it read: an append
  landing between the read and the commit raises ``CommitConflict`` and
  survives;
- vacuum age-gates unreferenced keys locally too, so a fragment written
  by a task but not yet committed is not collected, while a backdated
  never-referenced key is;
- compaction merges N runts totalling T ≤ target rows into one
  fragment, on both locations;
- the same append/delete/compact sequence gives the same fragments'
  stats keys, digests and bloom columns on both locations.
"""

from __future__ import annotations

import os
import sys
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from flink_connector_lance_spark.options import DatasetOptions, S3Options
from flink_connector_lance_spark.sources import fragments as FR
from flink_connector_lance_spark.sources import lance_format as LF
from flink_connector_lance_spark.sources import writer
from flink_connector_lance_spark.sources.bloom import BLOOM_STATS_KEY
from flink_connector_lance_spark.sources.maintenance import (
    cluster_dataset,
    compact_dataset,
    delete_rows,
    merge_rows,
    vacuum_dataset,
)
from flink_connector_lance_spark.sources.reader import read_dataset
from flink_connector_lance_spark.sources.schema_evolution import add_column

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


def _rows(spark, n: int, start: int = 0):
    return spark.range(start, start + n).selectExpr("id", "id % 7 AS g")


def _runts(spark, path: str, n: int, rows: int, s3=None) -> None:
    """``n`` appends of ``rows`` rows each, one fragment per append."""
    opts = DatasetOptions(path=path, s3=s3)
    for i in range(n):
        writer.write_dataset(_rows(spark, rows, i * rows).coalesce(1), path,
                             "overwrite" if i == 0 else "append", opts)


# ------------------------------------------------------------------ CAS


REWRITES = {
    "compact": lambda spark, p: compact_dataset(
        spark, p, target_rows_per_fragment=1000),
    "delete": lambda spark, p: delete_rows(spark, p, "id < 10"),
    "merge": lambda spark, p: merge_rows(
        spark, p, _rows(spark, 5).selectExpr("id", "g + 100 AS g"), "id"),
    "cluster": lambda spark, p: cluster_dataset(spark, p, by=["g"]),
    "add_column": lambda spark, p: add_column(spark, p, "h", "id * 2"),
}


@pytest.mark.parametrize("op", sorted(REWRITES))
def test_local_rewrite_commits_under_cas(spark, tmp_path, monkeypatch, op):
    """An append committed after the rewrite read its manifest (here:
    while the rewrite's tasks write) makes the rewrite raise instead of
    committing an overwrite that drops the appended rows."""
    path = str(tmp_path / "ds")
    _runts(spark, path, 3, 100)
    orig = writer.write_fragments
    raced = []

    def racing(*args, **kwargs):
        if not raced:
            raced.append(True)
            writer.write_dataset(_rows(spark, 50, 10_000), path, "append")
        return orig(*args, **kwargs)

    monkeypatch.setattr(writer, "write_fragments", racing)
    with pytest.raises(FR.CommitConflict):
        REWRITES[op](spark, path)
    assert raced
    assert read_dataset(spark, path).count() == 350
    assert read_dataset(spark, path).filter("id >= 10000").count() == 50


def test_tasks_without_rows_write_no_file_and_the_table_reads_empty(spark, tmp_path):
    """An empty write, and a DELETE of every row, leave a table with no
    fragments that still reads (as zero rows of its schema)."""
    path = str(tmp_path / "ds")
    m = writer.write_dataset(_rows(spark, 0), path, "overwrite")
    assert m.fragments == []
    assert read_dataset(spark, path).columns == ["id", "g"]
    _runts(spark, path, 2, 100)
    m = delete_rows(spark, path, "id >= 0")
    assert m.fragments == []
    assert read_dataset(spark, path).count() == 0


# --------------------------------------------------------------- vacuum


def test_vacuum_keeps_inflight_emulated_fragment(spark, tmp_path):
    """A default-grace vacuum between the task job and the commit leaves
    the written-but-uncommitted fragment in place; it reads once
    committed."""
    path = str(tmp_path / "ds")
    _runts(spark, path, 2, 100)
    new = writer.write_fragments(_rows(spark, 40, 5000).coalesce(1), path,
                                 None, max_rows=1000)
    assert len(new) == 1
    res = vacuum_dataset(path, keep_versions=1)
    assert res["skipped_young_keys"] == 1
    assert os.path.exists(os.path.join(path, new[0].file))
    FR.commit(path, new, mode="append")
    assert read_dataset(spark, path).count() == 240


def test_vacuum_keeps_inflight_native_fragment(spark, tmp_path):
    path = str(tmp_path / "native")
    opts = DatasetOptions(path=path)
    writer.write_native_pure(_rows(spark, 100).coalesce(1), path, "overwrite", opts)
    writer.write_native_pure(_rows(spark, 100, 100).coalesce(1), path, "append", opts)
    mf = LF.read_native_manifest(path)
    new = writer.produce_native_fragments(
        _rows(spark, 40, 5000).coalesce(1), path, LF.arrow_schema_of(mf.fields),
        1000)
    assert len(new) == 1
    vacuum_dataset(path, keep_versions=1)
    assert os.path.exists(os.path.join(path, LF.DATA_DIR, new[0][0]))
    LF.commit_native(path, mf.fields, new, "append",
                     expected_base_version=mf.version)
    assert read_dataset(spark, path).count() == 240


def test_vacuum_deletes_backdated_orphan_and_dropped_keys(spark, tmp_path):
    """A never-referenced key older than the grace goes and is counted;
    the keys of the versions vacuum drops go at once."""
    path = str(tmp_path / "ds")
    _runts(spark, path, 2, 100)
    compact_dataset(spark, path, target_rows_per_fragment=1000)
    orphan = os.path.join(path, FR.DATA_DIR, "frag-orphan.parquet")
    pq.write_table(pa.table({"id": [1]}), orphan)
    old = time.time() - 2 * 24 * 3600
    os.utime(orphan, (old, old))
    res = vacuum_dataset(path, keep_versions=1)
    assert not os.path.exists(orphan)
    assert res["deleted_files"] == 3  # two compacted runts + the orphan
    assert res["skipped_young_keys"] == 0
    live = {f.file for f in FR.read_manifest(path).fragments}
    assert {f"{FR.DATA_DIR}/{n}" for n in os.listdir(os.path.join(path, FR.DATA_DIR))} == live


# ------------------------------------------------------------ compaction


@pytest.mark.parametrize("where", ["local", "s3"])
def test_compaction_merges_runts_into_target_sized_fragments(spark, tmp_path,
                                                             fake_s3, where):
    """Six 700-row runts and a 5,000-row target: one task, one fragment
    (ceil(4200/5000) = 1) — not one file per scan partition."""
    if where == "local":
        path, s3, storage = str(tmp_path / "ds"), None, None
    else:
        os.makedirs(os.path.join(fake_s3, "bucket"))
        path = "s3://bucket/ds"
        s3 = S3Options(endpoint=f"fake://{fake_s3}")
        storage = s3.to_storage_options()
    _runts(spark, path, 6, 700, s3=s3)
    m = compact_dataset(spark, path, target_rows_per_fragment=5000, s3=s3)
    assert [f.row_count for f in m.fragments] == [4200]
    assert FR.read_manifest(path, storage_options=storage).row_count == 4200


# ---------------------------------------------------------------- parity


def _fingerprint(m: FR.Manifest) -> set:
    """(stats keys, bloom columns) of every fragment. Row counts per
    fragment may differ: the local scan packs files into tasks its own
    way."""
    return {(tuple(sorted(f.stats)), tuple(sorted(f.stats[BLOOM_STATS_KEY]["cols"])))
            for f in m.fragments}


def test_local_and_s3_write_the_same_fragments(spark, tmp_path, fake_s3):
    """The same DataFrame appended to, deleted from and compacted on a
    local and an s3 dataset: equal row counts, equal stats keys, a
    digest on every fragment, equal bloom columns."""
    os.makedirs(os.path.join(fake_s3, "bucket"))
    s3 = S3Options(endpoint=f"fake://{fake_s3}")
    out = {}
    for path, s in ((str(tmp_path / "ds"), None), ("s3://bucket/ds", s3)):
        opts = DatasetOptions(path=path, bloom_columns=["id", "g"],
                              write_max_rows_per_file=300, s3=s)
        writer.write_dataset(_rows(spark, 1000).repartition(2, "id"), path,
                             "overwrite", opts)
        writer.write_dataset(_rows(spark, 200, 1000).coalesce(1), path,
                             "append", opts)
        delete_rows(spark, path, "id % 10 = 3", s3=s)
        compact_dataset(spark, path, target_rows_per_fragment=600, s3=s)
        out[path] = FR.read_manifest(
            path, storage_options=s.to_storage_options() if s else None)
    local, remote = out.values()
    assert local.row_count == remote.row_count == 1080
    assert all(FR.DIGEST_STATS_KEY in f.stats
               for f in local.fragments + remote.fragments)
    assert _fingerprint(local) == _fingerprint(remote)
