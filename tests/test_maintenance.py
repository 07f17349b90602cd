"""Version-delta incremental reads and fragment compaction over the
emulated fragment backend."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from flink_connector_lance_spark.options import DatasetOptions
from flink_connector_lance_spark.sources.fragments import read_manifest
from flink_connector_lance_spark.sources.maintenance import compact_dataset, read_version_delta
from flink_connector_lance_spark.sources.reader import read_dataset
from flink_connector_lance_spark.sources.writer import write_dataset


def _ds(spark, lo, hi):
    return spark.range(lo, hi).selectExpr("id", "id % 3 AS label")


def test_version_delta_reads_only_appended_rows(spark, tmp_path):
    path = str(tmp_path / "ds")
    m1 = write_dataset(_ds(spark, 0, 100), path, mode="overwrite")
    m2 = write_dataset(_ds(spark, 100, 130), path, mode="append")
    delta = read_version_delta(spark, path, from_version=m1.version, to_version=m2.version)
    ids = sorted(r["id"] for r in delta.collect())
    assert ids == list(range(100, 130))
    # same-version delta is empty but keeps the schema
    empty = read_version_delta(spark, path, from_version=m2.version)
    assert empty.count() == 0
    assert empty.columns == ["id", "label"]


def test_version_delta_rejects_backwards_range(spark, tmp_path):
    path = str(tmp_path / "ds")
    m1 = write_dataset(_ds(spark, 0, 10), path, mode="overwrite")
    m2 = write_dataset(_ds(spark, 10, 20), path, mode="append")
    try:
        read_version_delta(spark, path, from_version=m2.version, to_version=m1.version)
        raise AssertionError("expected ValueError")
    except ValueError as e:
        assert "precedes" in str(e)


def test_compaction_merges_runts_and_preserves_data_and_history(spark, tmp_path):
    path = str(tmp_path / "ds")
    # many tiny fragments: 200 rows at <=20 rows/file -> >= 10 runts
    write_dataset(
        _ds(spark, 0, 200).repartition(1), path, mode="overwrite",
        options=DatasetOptions(path=path, write_max_rows_per_file=20),
    )
    before = read_manifest(path)
    assert len(before.fragments) >= 10

    after = compact_dataset(spark, path, target_rows_per_fragment=100)
    assert after.version == before.version + 1
    assert len(after.fragments) < len(before.fragments)
    assert after.row_count == 200
    assert after.meta["compaction"]["merged"] == len(before.fragments)

    # data identical through the normal read path
    ids = sorted(r["id"] for r in read_dataset(spark, path).collect())
    assert ids == list(range(200))
    # MVCC: the pre-compaction version still reads the old fragment files
    old = read_dataset(spark, path, version=before.version)
    assert old.count() == 200
    # zone maps recomputed for merged fragments (data skipping survives)
    assert all(f.stats and "id" in f.stats for f in after.fragments)
    assert min(f.stats["id"]["min"] for f in after.fragments) == 0
    assert max(f.stats["id"]["max"] for f in after.fragments) == 199


def test_compaction_noop_when_fragments_are_healthy(spark, tmp_path):
    path = str(tmp_path / "ds")
    write_dataset(_ds(spark, 0, 100).coalesce(1), path, mode="overwrite")
    m = read_manifest(path)
    out = compact_dataset(spark, path, target_rows_per_fragment=50)
    assert out.version == m.version  # unchanged, no empty commit


def test_compaction_counts_match_groupby(spark, tmp_path):
    path = str(tmp_path / "ds")
    write_dataset(
        _ds(spark, 0, 90).repartition(1), path, mode="overwrite",
        options=DatasetOptions(path=path, write_max_rows_per_file=10),
    )
    compact_dataset(spark, path, target_rows_per_fragment=45)
    counts = {
        r["label"]: r["n"]
        for r in read_dataset(spark, path).groupBy("label").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert counts == {0: 30, 1: 30, 2: 30}


def test_vacuum_reclaims_dead_fragments_keeps_live_versions(spark, tmp_path):
    import os

    from flink_connector_lance_spark.sources.fragments import DATA_DIR, VERSIONS_DIR
    from flink_connector_lance_spark.sources.maintenance import vacuum_dataset

    path = str(tmp_path / "ds")
    write_dataset(_ds(spark, 0, 50), path, mode="overwrite")   # v0
    write_dataset(_ds(spark, 50, 80), path, mode="append")     # v1
    write_dataset(_ds(spark, 0, 30), path, mode="overwrite")   # v2: v0/v1 files dead
    write_dataset(_ds(spark, 30, 40), path, mode="append")     # v3

    report = vacuum_dataset(path, keep_versions=2, dry_run=True)
    assert report["kept_versions"] == [2, 3]
    assert report["dropped_versions"] == 2
    assert report["deleted_files"] > 0
    # dry run deleted nothing
    assert read_manifest(path, 0).row_count == 50

    report = vacuum_dataset(path, keep_versions=2)
    # retained versions still read correctly
    assert read_dataset(spark, path, version=2).count() == 30
    assert read_dataset(spark, path).count() == 40
    # vacuumed versions are gone; data dir holds exactly the live files
    assert not os.path.exists(os.path.join(path, VERSIONS_DIR, "0.manifest.json"))
    live = {f.file for v in (2, 3) for f in read_manifest(path, v).fragments}
    on_disk = {os.path.join(DATA_DIR, n) for n in os.listdir(os.path.join(path, DATA_DIR))}
    assert on_disk == live
    assert report["reclaimed_bytes"] > 0


def test_vacuum_keep_all_is_noop(spark, tmp_path):
    from flink_connector_lance_spark.sources.maintenance import vacuum_dataset

    path = str(tmp_path / "ds")
    write_dataset(_ds(spark, 0, 10), path, mode="overwrite")
    write_dataset(_ds(spark, 10, 20), path, mode="append")
    report = vacuum_dataset(path, keep_versions=5)
    assert report["dropped_versions"] == 0 and report["deleted_files"] == 0
    assert read_dataset(spark, path, version=0).count() == 10


def test_delete_rows_null_predicate_keeps_null_rows(spark, tmp_path):
    """DELETE three-valued logic: rows where the predicate evaluates NULL
    are NOT deleted (only TRUE rows are) — ~pred alone would drop them."""
    from flink_connector_lance_spark.sources.maintenance import delete_rows

    rows = [(0, "en"), (1, "de"), (2, None), (3, "de"), (4, None), (5, "fr")]
    df = spark.createDataFrame(rows, "id long, lang string")
    path = str(tmp_path / "ds")
    write_dataset(df.coalesce(1), path, mode="overwrite")

    m = delete_rows(spark, path, "lang = 'de'")
    out = read_dataset(spark, path)
    assert sum(f.row_count for f in m.fragments) == 4
    assert out.filter("lang IS NULL").count() == 2
    assert out.filter("lang = 'de'").count() == 0
    assert {r.id for r in out.collect()} == {0, 2, 4, 5}


def test_delete_and_merge_accept_relative_paths(spark, tmp_path, monkeypatch):
    """A relative dataset path must not silently no-op: affected-fragment
    detection compares absolute input_file_name() URIs against manifest
    paths, so the path is abspath-normalized at entry."""
    from flink_connector_lance_spark.sources.maintenance import delete_rows, merge_rows

    monkeypatch.chdir(tmp_path)
    df = spark.range(0, 20).selectExpr("id", "id % 3 AS label")
    write_dataset(df.coalesce(1), str(tmp_path / "ds_rel"), mode="overwrite")

    m1 = delete_rows(spark, "ds_rel", "id < 5")
    assert sum(f.row_count for f in m1.fragments) == 15

    updates = spark.createDataFrame([(5, 99), (100, 1)], "id long, label long")
    m2 = merge_rows(spark, "ds_rel", updates, key="id")
    assert sum(f.row_count for f in m2.fragments) == 16
    out = read_dataset(spark, str(tmp_path / "ds_rel"))
    assert out.filter("id = 5").first().label == 99
    assert out.filter("id = 100").count() == 1


def test_merge_rows_rejects_duplicate_update_keys(spark, tmp_path):
    """Upsert contract: one row per key in the update set; duplicates
    would all be inserted, silently breaking one-row-per-key."""
    import pytest

    from flink_connector_lance_spark.sources.maintenance import merge_rows

    df = spark.range(0, 10).selectExpr("id", "id AS label")
    path = str(tmp_path / "ds")
    write_dataset(df, path, mode="overwrite")
    dup = spark.createDataFrame([(1, 7), (1, 8)], "id long, label long")
    with pytest.raises(ValueError, match="duplicate"):
        merge_rows(spark, path, dup, key="id")
    # dataset untouched: no new version, no rows changed
    assert read_manifest(path).version == 0
    assert read_dataset(spark, path).count() == 10


def test_table_statistics_from_manifest_metadata(spark, sf_dir, tmp_path):
    from flink_connector_lance_spark.io import load_table
    from flink_connector_lance_spark.sources.maintenance import table_statistics
    from flink_connector_lance_spark.sources.writer import write_dataset

    path = str(tmp_path / "ds")
    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars", "lang")
    n = d.count()
    write_dataset(d.repartition(4), path, mode="overwrite")

    stats = table_statistics(path)
    assert stats["num_rows"] == n
    assert stats["num_fragments"] == 4
    assert stats["size_bytes"] > 0
    ids = stats["columns"]["doc_id"]
    lo, hi = d.agg({"doc_id": "min"}).first()[0], d.agg({"doc_id": "max"}).first()[0]
    assert ids["min"] == lo and ids["max"] == hi and ids["null_count"] == 0
    # version pinning: stats of an old version reflect that version
    write_dataset(d.limit(10), path, mode="append")
    assert table_statistics(path)["num_rows"] == n + 10
    assert table_statistics(path, version=0)["num_rows"] == n


# ------------------------------------------------------------- CDC reads


class TestReadChanges:
    """Row-level changefeed (maintenance.read_changes): O(changed data)
    file-diff reads, carried rows cancel, updates = delete + insert."""

    def _changes(self, spark, path, v_from, v_to=None):
        from flink_connector_lance_spark.sources.maintenance import read_changes

        rows = read_changes(spark, path, v_from, v_to).collect()
        ins = {r.id for r in rows if r._change_type == "insert"}
        dels = {r.id for r in rows if r._change_type == "delete"}
        return ins, dels, rows

    def test_append_yields_inserts_only(self, spark, tmp_path):
        path = str(tmp_path / "ds")
        m1 = write_dataset(_ds(spark, 0, 50), path, mode="overwrite")
        m2 = write_dataset(_ds(spark, 50, 60), path, mode="append")
        ins, dels, _ = self._changes(spark, path, m1.version, m2.version)
        assert ins == set(range(50, 60)) and dels == set()

    def test_compaction_only_yields_zero_changes(self, spark, tmp_path):
        # the property the file-level delta CANNOT give: a rewrite that
        # carries every row produces no change rows
        path = str(tmp_path / "ds")
        for i in range(3):
            write_dataset(_ds(spark, i * 20, (i + 1) * 20).coalesce(1), path,
                          mode="overwrite" if i == 0 else "append")
        v_before = read_manifest(path).version
        compact_dataset(spark, path, target_rows_per_fragment=1_000_000)
        ins, dels, rows = self._changes(spark, path, v_before)
        assert rows == []

    def test_delete_and_merge_classify_correctly(self, spark, tmp_path):
        from flink_connector_lance_spark.sources.maintenance import (
            delete_rows,
            merge_rows,
        )

        path = str(tmp_path / "ds")
        m1 = write_dataset(_ds(spark, 0, 30).coalesce(1), path, mode="overwrite")
        delete_rows(spark, path, "id < 5")
        v_del = read_manifest(path).version
        ins, dels, _ = self._changes(spark, path, m1.version, v_del)
        assert ins == set() and dels == {0, 1, 2, 3, 4}
        # upsert: ids 10..12 updated (label flips), id 100 inserted
        upd = spark.createDataFrame(
            [(10, 7), (11, 7), (12, 7), (100, 7)], "id long, label long")
        merge_rows(spark, path, upd, key="id")
        ins, dels, rows = self._changes(spark, path, v_del)
        assert ins == {10, 11, 12, 100}      # post-images + true insert
        assert dels == {10, 11, 12}          # pre-images of updates only
        by = {(r.id, r._change_type): r.label for r in rows}
        assert by[(10, "insert")] == 7 and by[(10, "delete")] == 10 % 3

    def test_changes_survive_schema_evolution(self, spark, tmp_path):
        path = str(tmp_path / "ds")
        m1 = write_dataset(_ds(spark, 0, 20), path, mode="overwrite")
        newrows = spark.createDataFrame([(500, 1, "tagged")],
                                        "id long, label long, tag string")
        write_dataset(newrows, path, mode="append",
                      options=DatasetOptions(path=path, schema_evolution=True))
        v2 = read_manifest(path).version
        ins, dels, rows = self._changes(spark, path, m1.version, v2)
        assert ins == {500} and dels == set()
        assert [r.tag for r in rows] == ["tagged"]  # to-schema applied

    def test_changes_read_only_diff_files(self, spark, tmp_path, monkeypatch):
        """Carried fragments must never be scanned: spy the file lists."""
        import flink_connector_lance_spark.sources.maintenance as M
        from flink_connector_lance_spark.sources import reader as R

        path = str(tmp_path / "ds")
        m1 = write_dataset(_ds(spark, 0, 1000).repartition(4), path,
                           mode="overwrite")
        m2 = write_dataset(_ds(spark, 1000, 1010).coalesce(1), path,
                           mode="append")
        carried = {f"{path}/{f.file}" for f in m1.fragments}
        scanned: list[str] = []
        real = R.read_fragment_files

        def spy(spark_, manifest, files):
            scanned.extend(files)
            return real(spark_, manifest, files)

        monkeypatch.setattr(M, "read_fragment_files", spy, raising=False)
        # read_changes imports read_fragment_files inside the function
        monkeypatch.setattr(R, "read_fragment_files", spy)
        from flink_connector_lance_spark.sources.maintenance import read_changes

        out = read_changes(spark, path, m1.version, m2.version)
        assert out.filter("_change_type = 'insert'").count() == 10
        assert not (set(scanned) & carried), "carried fragments were scanned"


# --- round 13: write-time digests + verify_integrity --------------------------

def _flip_byte(path, offset=100):
    import os as _os

    with open(path, "r+b") as fh:
        size = _os.path.getsize(path)
        pos = min(offset, size - 1)
        fh.seek(pos)
        b = fh.read(1)
        fh.seek(pos)
        fh.write(bytes([b[0] ^ 0xFF]))


def test_write_stamps_digests_and_verify_passes(spark, tmp_path):
    """Every fragment producer stamps FR.DIGEST_STATS_KEY at write time;
    verify_integrity over untouched data reports all-checked, nothing
    mismatched (distributed AND driver-threadpool paths)."""
    from flink_connector_lance_spark.sources import fragments as FR
    from flink_connector_lance_spark.sources.maintenance import verify_integrity

    path = str(tmp_path / "ds")
    write_dataset(_ds(spark, 0, 100).repartition(3), path, mode="overwrite")
    m = read_manifest(path)
    assert all((f.stats or {}).get(FR.DIGEST_STATS_KEY) for f in m.fragments)
    rep = verify_integrity(spark, path)
    assert rep["checked"] == len(m.fragments)
    assert rep["skipped"] == 0 and rep["mismatched"] == []
    rep2 = verify_integrity(None, path)  # threadpool twin
    assert rep2 == rep


def test_bit_flip_on_engine_written_data_is_loud(spark, tmp_path):
    """THE round-12 fuzz-gap closure: with write-time digests, EVERY
    bit-flip on engine-written data is loud — a single flipped byte in
    any fragment makes verify_integrity raise IntegrityError naming the
    file, even when the flip is value-silent to the decoder."""
    import os

    import pytest

    from flink_connector_lance_spark.sources.maintenance import (
        IntegrityError, verify_integrity)

    path = str(tmp_path / "ds")
    write_dataset(_ds(spark, 0, 60).coalesce(1), path, mode="overwrite")
    m = read_manifest(path)
    _flip_byte(os.path.join(path, m.fragments[0].file))
    with pytest.raises(IntegrityError, match="sha256"):
        verify_integrity(None, path)
    rep = verify_integrity(None, path, raise_on_mismatch=False)
    assert len(rep["mismatched"]) == 1
    assert rep["mismatched"][0]["file"].endswith(m.fragments[0].file)


def test_verify_integrity_native_backend_and_absent_digests(spark, tmp_path):
    """The native codec path stamps digests too; and a dataset whose
    stats carry no digest (pre-digest manifest, foreign writer) is
    SKIPPED, never failed — zero cost when absent."""
    import json
    import os

    import pytest

    from flink_connector_lance_spark.sources import fragments as FR
    from flink_connector_lance_spark.sources.maintenance import (
        IntegrityError, verify_integrity)
    from flink_connector_lance_spark.sources.writer import write_native_pure

    path = str(tmp_path / "nds")
    write_native_pure(_ds(spark, 0, 50).coalesce(1), path, mode="overwrite")
    rep = verify_integrity(None, path)
    assert rep["checked"] >= 1 and rep["mismatched"] == []
    m = FR.read_manifest_compat(path)
    _flip_byte(os.path.join(path, m.fragments[0].file), offset=200)
    with pytest.raises(IntegrityError):
        verify_integrity(None, path)

    # absent digests: strip the key from an emulated manifest -> skipped
    path2 = str(tmp_path / "plain")
    write_dataset(_ds(spark, 0, 20).coalesce(1), path2, mode="overwrite")
    v = FR.latest_version(path2)
    mp = os.path.join(path2, "_versions", f"{v}.manifest.json")
    raw = json.load(open(mp))
    for f in raw["fragments"]:
        (f.get("stats") or {}).pop(FR.DIGEST_STATS_KEY, None)
    json.dump(raw, open(mp, "w"))
    _flip_byte(os.path.join(path2, raw["fragments"][0]["file"]))
    rep = verify_integrity(None, path2)  # no digest -> cannot check, skips
    assert rep["checked"] == 0 and rep["skipped"] == len(raw["fragments"])


def test_native_datasource_write_stamps_digests(spark, tmp_path):
    """``format("lance")`` with ``write.native-format=true`` writes its
    fragments through the shared task-side writer, so each carries a
    digest: verify_integrity checks every fragment (none skipped) and a
    flipped byte is loud."""
    import os

    from flink_connector_lance_spark.sources import fragments as FR
    from flink_connector_lance_spark.sources.datasource import (
        register_lance_datasource)
    from flink_connector_lance_spark.sources.maintenance import (
        IntegrityError, verify_integrity)

    register_lance_datasource(spark)
    path = str(tmp_path / "nds")
    (_ds(spark, 0, 60).repartition(2).write.format("lance")
     .option("write.native-format", "true").mode("overwrite").save(path))
    _ds(spark, 60, 90).coalesce(1).write.format("lance").mode("append").save(path)
    rep = verify_integrity(spark, path)
    assert rep["skipped"] == 0 and rep["checked"] == 3
    assert rep["mismatched"] == []
    m = FR.read_manifest_compat(path)
    _flip_byte(os.path.join(path, m.fragments[0].file), offset=200)
    with pytest.raises(IntegrityError, match="sha256"):
        verify_integrity(None, path)


@pytest.fixture()
def fake_s3(spark, monkeypatch, tmp_path):
    """``import fsspec`` resolves to the fake (tests/fixtures/fsspec.py)
    on the driver and in Spark's Python workers; yields the local root
    backing s3://."""
    import os
    import sys

    fixtures = os.path.join(os.path.dirname(__file__), "fixtures")
    monkeypatch.syspath_prepend(fixtures)
    sys.modules.pop("fsspec", None)
    spark.sparkContext.addPyFile(os.path.join(fixtures, "fsspec.py"))
    root = str(tmp_path / "fake-s3")
    os.makedirs(os.path.join(root, "bucket"))
    yield root
    sys.modules.pop("fsspec", None)


@pytest.mark.parametrize("fmt", ["emulated", "native"])
def test_verify_integrity_on_s3(spark, fake_s3, fmt):
    """On an object store verify_integrity hashes through the same store
    as locally, in the tasks and on the driver: green on untouched data,
    loud after one flipped byte in the backing object."""
    import os

    from flink_connector_lance_spark.options import S3Options
    from flink_connector_lance_spark.sources import fragments as FR
    from flink_connector_lance_spark.sources.maintenance import (
        IntegrityError, verify_integrity)
    from flink_connector_lance_spark.sources.writer import write_native_pure

    url = f"s3://bucket/{fmt}"
    s3 = S3Options(endpoint=f"fake://{fake_s3}")
    storage = s3.to_storage_options()
    opts = DatasetOptions(path=url, s3=s3)
    write = write_native_pure if fmt == "native" else write_dataset
    write(_ds(spark, 0, 40).repartition(2), url, "overwrite", opts)
    n = len(FR.read_manifest_compat(url, storage_options=storage).fragments)
    for session in (spark, None):
        rep = verify_integrity(session, url, storage_options=storage)
        assert rep == {"checked": n, "skipped": 0, "mismatched": []}
    m = FR.read_manifest_compat(url, storage_options=storage)
    _flip_byte(os.path.join(fake_s3, "bucket", fmt, m.fragments[0].file),
               offset=200)
    for session in (spark, None):
        with pytest.raises(IntegrityError, match="sha256"):
            verify_integrity(session, url, storage_options=storage)
