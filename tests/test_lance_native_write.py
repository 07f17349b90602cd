"""Native Lance v2 WRITE — byte-identity against the reference's own
binary fixtures, plus round-trips through the pure decoder and Spark.

The strongest spec-conformance evidence available without the ``lance``
package: re-encoding the DECODED rows of every committed reference
fixture (ref test-data/lance-db1..3, lance-vector-search — written by
lance 0.24.0) reproduces the fixture's data file, manifest, and
transaction file BYTE-FOR-BYTE. What ``write_native_file`` emits is what
lance itself wrote, not merely something our own reader accepts.
"""

from __future__ import annotations

import datetime
import os
import struct

import pyarrow as pa
import pytest

from flink_connector_lance_spark.sources import lance_format as LF

REF = "/root/reference/test-data"
FIXTURES = ["lance-db1", "lance-db2", "lance-db3", "lance-vector-search"]

needs_fixtures = pytest.mark.skipif(
    not LF.is_native_dataset(f"{REF}/lance-db1"),
    reason="reference fixtures not present",
)


def sample_table() -> pa.Table:
    return pa.table({
        "id": pa.array([1, 2, 3, 4, 5], pa.int64()),
        "rank": pa.array([10, 20, 30, 40, 50], pa.int32()),
        "score": pa.array([0.5, 1.5, -2.25, 3.0, 0.0], pa.float64()),
        "title": pa.array(["alpha", None, "", "数据湖", "epsilon"], pa.string()),
        "ts": pa.array([datetime.datetime(2024, 1, i + 1) for i in range(5)],
                       pa.timestamp("ms")),
        "vec": pa.array([[0.1, 0.2], None, [], [1.0, -1.0], [2.5, 0.0]],
                        pa.list_(pa.float32())),
    })


@needs_fixtures
def test_reencode_fixtures_byte_identical(tmp_path):
    """decode fixture -> re-encode -> identical bytes, for the data file,
    the manifest (same txn name + timestamp), and the txn file."""
    for db in FIXTURES:
        root = f"{REF}/{db}"
        mf = LF.read_native_manifest(root)
        fname = mf.fragments[0].file

        fix = open(os.path.join(root, LF.DATA_DIR, fname), "rb").read()
        out = str(tmp_path / f"{db}.lance")
        LF.write_native_file(LF.read_native_dataset(root), out)
        assert open(out, "rb").read() == fix, f"{db}: data file differs"

        mfix = open(os.path.join(root, LF.VERSIONS_DIR, "1.manifest"), "rb").read()
        msg = LF._pb_fields(mfix[4:4 + struct.unpack_from("<I", mfix, 0)[0]])
        ts_msg = LF._pb_fields(LF._one(msg, 7, b""))
        txn_name = LF._one(msg, 12, b"").decode()
        ours = LF._manifest_bytes(
            mf.fields, mf.fragments, mf.version, txn_name,
            (LF._one(ts_msg, 1, 0), LF._one(ts_msg, 2, 0)))
        assert ours == mfix, f"{db}: manifest differs"

        tfix = open(os.path.join(root, "_transactions", txn_name), "rb").read()
        tuid = txn_name.split("-", 1)[1][: -len(".txn")]
        assert LF._txn_bytes(tuid, mf.fields, mf.fragments) == tfix, \
            f"{db}: transaction file differs"


def test_roundtrip_types_and_nulls(tmp_path):
    root = str(tmp_path / "ds")
    tbl = sample_table()
    mf = LF.write_native_dataset(root, tbl, mode="create")
    assert mf.version == 1 and mf.row_count == 5
    got = LF.read_native_dataset(root)
    assert got.schema == tbl.schema
    assert got.to_pylist() == tbl.to_pylist()
    # column pruning still holds on our own files
    pruned = LF.read_native_dataset(root, columns=["title", "id"])
    assert pruned.column_names == ["title", "id"]
    assert LF.native_count_rows(root) == 5


def test_refusals(tmp_path):
    # nullable fixed-width now WRITES (Nullable.some_nulls page)
    p = str(tmp_path / "a.lance")
    LF.write_native_file(pa.table({"x": pa.array([1, None], pa.int64())}), p)
    assert LF.read_native_file(p).column("x").to_pylist() == [1, None]
    with pytest.raises(NotImplementedError, match="decimal"):
        # DECIMAL cannot round-trip through the reference's converter
        # either (SURVEY.md §1.2) — refused by name
        import decimal

        LF.write_native_file(
            pa.table({"x": pa.array([decimal.Decimal("1.5")])}),
            str(tmp_path / "b.lance"))


def test_append_versions_and_travel(tmp_path):
    root = str(tmp_path / "ds")
    t1 = pa.table({"id": pa.array([1, 2], pa.int64())})
    t2 = pa.table({"id": pa.array([3], pa.int64())})
    LF.write_native_dataset(root, t1, mode="create")
    mf2 = LF.write_native_dataset(root, t2, mode="append")
    assert mf2.version == 2 and [f.fragment_id for f in mf2.fragments] == [0, 1]
    assert LF.read_native_dataset(root)["id"].to_pylist() == [1, 2, 3]
    assert LF.read_native_dataset(root, version=1)["id"].to_pylist() == [1, 2]
    with pytest.raises(ValueError, match="schema mismatch"):
        LF.write_native_dataset(
            root, pa.table({"other": pa.array(["x"])}), mode="append")
    # overwrite starts a fresh fragment list; v1/v2 stay readable
    mf3 = LF.write_native_dataset(
        root, pa.table({"id": pa.array([9], pa.int64())}), mode="overwrite")
    assert mf3.version == 3 and len(mf3.fragments) == 1
    assert LF.read_native_dataset(root)["id"].to_pylist() == [9]
    assert LF.read_native_dataset(root, version=2)["id"].to_pylist() == [1, 2, 3]
    with pytest.raises(FileExistsError):
        LF.write_native_dataset(root, t1, mode="create")


def test_commit_race_single_winner(tmp_path):
    """A manifest landed by a racing committer forces a retry onto the
    next version — the loser's commit keeps the winner's fragments."""
    root = str(tmp_path / "ds")
    LF.write_native_dataset(root, pa.table({"id": pa.array([1], pa.int64())}))
    # simulate a racer grabbing version 2 between our read and commit:
    # commit_native's O_EXCL open fails, it re-reads and lands on 3
    racer = LF.write_native_dataset(
        root, pa.table({"id": pa.array([2], pa.int64())}), mode="append")
    assert racer.version == 2
    fields = LF.fields_of_arrow_schema(pa.schema([("id", pa.int64())]))
    fname = "cafecafe-0000-0000-0000-000000000000.lance"
    LF.write_native_file(pa.table({"id": pa.array([3], pa.int64())}),
                         os.path.join(root, LF.DATA_DIR, fname))
    os.rename(os.path.join(root, LF.VERSIONS_DIR, "2.manifest"),
              os.path.join(root, LF.VERSIONS_DIR, "2.manifest.bak"))
    mf = None
    try:
        # re-expose the racer's manifest mid-commit by restoring it first
        os.rename(os.path.join(root, LF.VERSIONS_DIR, "2.manifest.bak"),
                  os.path.join(root, LF.VERSIONS_DIR, "2.manifest"))
        mf = LF.commit_native(root, fields, [(fname, 1)], "append")
    finally:
        assert mf is not None
    assert mf.version == 3
    assert LF.read_native_dataset(root)["id"].to_pylist() == [1, 2, 3]


@needs_fixtures
def test_spark_distributed_write_roundtrip(spark, tmp_path):
    """write_native_pure: one v2 file per task, one manifest commit; the
    distributed pure reader and the lance DataSource read it back."""
    from flink_connector_lance_spark.sources.reader import read_dataset
    from flink_connector_lance_spark.sources.writer import write_native_pure

    root = str(tmp_path / "spark-ds")
    df = spark.range(100).selectExpr(
        "id", "CAST(id * 1.5 AS DOUBLE) AS score",
        "concat('doc-', id) AS title").repartition(4)
    mf = write_native_pure(df, root, mode="append")
    assert mf.row_count == 100 and len(mf.fragments) == 4

    back = read_dataset(spark, root)
    assert back.count() == 100
    rows = back.orderBy("id").collect()
    assert rows[7].title == "doc-7" and rows[7].score == 10.5

    from flink_connector_lance_spark.sources.datasource import (
        register_lance_datasource,
    )

    register_lance_datasource(spark)
    got = (spark.read.format("lance").load(root)
           .filter("id >= 98").select("id", "title").collect())
    assert sorted((r.id, r.title) for r in got) == [(98, "doc-98"), (99, "doc-99")]

    # append through Spark bumps the version; travel still sees v1
    write_native_pure(df.limit(10), root, mode="append")
    assert LF.native_count_rows(root) == 110
    assert read_dataset(spark, root, version=1).count() == 100


def test_max_rows_per_file_slices_fragments(spark, tmp_path):
    from flink_connector_lance_spark.options import DatasetOptions
    from flink_connector_lance_spark.sources.writer import write_native_pure

    root = str(tmp_path / "sliced")
    df = spark.range(50).coalesce(1)
    opts = DatasetOptions(path=root, write_max_rows_per_file=20)
    mf = write_native_pure(df, root, mode="append", options=opts)
    assert sorted(fr.physical_rows for fr in mf.fragments) == [10, 20, 20]
    assert LF.read_native_dataset(root).num_rows == 50


@needs_fixtures
def test_vector_search_sql_over_written_dataset(spark, tmp_path):
    """The SQL lateral search (the reference demo's step-6 shape) works
    over a dataset WE wrote natively — same write->search lifecycle the
    reference demo drives (ref table/FlinkSqlDemo.java:127-133, :591-600)."""
    from flink_connector_lance_spark.udtf import register_vector_search

    root = str(tmp_path / "vs")
    emb = [[0.1 * i, 0.2 * i, 0.3 * i, 0.4 * i] for i in range(1, 6)]
    LF.write_native_dataset(root, pa.table({
        "id": pa.array([1, 2, 3, 4, 5], pa.int64()),
        "title": pa.array([f"t{i}" for i in range(1, 6)], pa.string()),
        "embedding": pa.array(emb, pa.list_(pa.float32())),
    }), mode="create")
    register_vector_search(spark)
    rows = spark.sql(f"""
        SELECT v.id, v._distance FROM vector_search(
            '{root}', 'embedding', ARRAY(0.1D,0.2D,0.3D,0.4D), 2, 'L2') AS v
    """).collect()
    assert [r.id for r in rows] == [1, 2]
    assert rows[0]._distance == 0.0


def _copy_fixture(db: str, tmp_path) -> str:
    import shutil

    dst = str(tmp_path / db)
    shutil.copytree(f"{REF}/{db}", dst)
    return dst


@needs_fixtures
def test_spark_format_write_appends_to_fixture_copy(spark, tmp_path):
    """df.write.format('lance') against a REAL Lance dataset routes
    through the v2 codec: new binary fragment + binary manifest v2, no
    .manifest.json fork, demo rows intact."""
    from flink_connector_lance_spark.sources.datasource import (
        register_lance_datasource,
    )

    root = _copy_fixture("lance-db1", tmp_path)
    register_lance_datasource(spark)
    df = spark.createDataFrame(
        [(6, "New Doc", [0.9, 0.9, 0.9, 0.9]),
         (7, "Another", [0.8, 0.7, 0.6, 0.5])],
        "id long, title string, embedding array<float>")
    df.write.format("lance").mode("append").save(root)

    assert LF.native_manifest_versions(root) == [1, 2]
    vdir = os.path.join(root, LF.VERSIONS_DIR)
    # no forked .manifest.json chain (the zone-map stats sidecar is fine)
    assert not any(n.endswith(".manifest.json") for n in os.listdir(vdir))
    got = spark.read.format("lance").load(root)
    assert got.count() == 7
    rows = {r.id: r.title for r in got.collect()}
    assert rows[1] == "Introduction to AI" and rows[6] == "New Doc"
    # version travel still shows the pristine fixture
    v1 = spark.read.format("lance").option("version", "1").load(root)
    assert v1.count() == 5


@needs_fixtures
def test_spark_format_overwrite_native(spark, tmp_path):
    from flink_connector_lance_spark.sources.datasource import (
        register_lance_datasource,
    )

    root = _copy_fixture("lance-db1", tmp_path)
    register_lance_datasource(spark)
    df = spark.createDataFrame([(100, "only")], "k long, v string")
    df.write.format("lance").mode("overwrite").save(root)
    got = spark.read.format("lance").load(root)
    assert [f.name for f in got.schema.fields] == ["k", "v"]
    assert got.count() == 1
    # MVCC: the fixture's version 1 stays readable
    assert LF.read_native_dataset(root, version=1).num_rows == 5


@needs_fixtures
def test_write_dataset_routes_native_and_carries_meta(spark, tmp_path):
    """write_dataset on a native target routes through the stdlib codec;
    commit_meta rides in the binary manifest's public table-config slot
    (Manifest.config, spark.flc.meta.* JSON entries) and resurfaces
    through read_manifest_compat — the same meta contract as the
    emulated backend."""
    from flink_connector_lance_spark.sources import fragments as FR
    from flink_connector_lance_spark.sources.writer import write_dataset

    root = _copy_fixture("lance-db1", tmp_path)
    df = spark.createDataFrame([(8, "via write_dataset", [0.0, 0.0, 0.0, 0.0])],
                               "id long, title string, embedding array<float>")
    mf = write_dataset(df, root, mode="append")
    assert mf.version == 2 and mf.row_count == 6
    m2 = write_dataset(df, root, mode="append",
                       commit_meta={"k": {"nested": 1}, "epoch": 7})
    assert m2.version == 3
    raw = LF.read_native_manifest(root)
    assert raw.config["spark.flc.meta.k"] == '{"nested": 1}'
    compat = FR.read_manifest_compat(root)
    assert compat.meta["k"] == {"nested": 1} and compat.meta["epoch"] == 7
    assert FR.meta_value_committed(root, "epoch", 7)
    assert not FR.meta_value_committed(root, "epoch", 8)
    # the answer comes from the HEAD manifest alone (config carries
    # forward + epochs are monotonic ints): an older epoch is committed,
    # a newer one is not — no O(versions) chain walk per streaming batch
    assert FR.meta_value_committed(root, "epoch", 5)
    assert not FR.meta_value_committed(root, "missing_key", 1)
    # table-config semantics: entries carry forward across plain commits
    write_dataset(df, root, mode="append")
    assert FR.read_manifest_compat(root).meta["epoch"] == 7
    # CAS is wired for native targets too
    with pytest.raises(FR.CommitConflict):
        write_dataset(df, root, mode="append", expected_base_version=1)


@needs_fixtures
def test_append_aligns_column_order_and_timestamp_unit(spark, tmp_path):
    """Appends reorder to the live manifest's column order and cast
    Spark's µs timestamps into the fixture's ms column (safe cast)."""
    from flink_connector_lance_spark.sources.writer import write_native_pure

    root = _copy_fixture("lance-db2", tmp_path)
    df = spark.createDataFrame(
        [("extra", datetime.datetime(2024, 3, 1, 12, 0), 6,
          [1.0, 1.0, 1.0, 1.0], "body", "T6")],
        "category string, create_time timestamp, doc_id long, "
        "embedding array<float>, content string, title string")
    mf = write_native_pure(df, root, mode="append")
    assert mf.row_count == 6
    got = LF.read_native_dataset(root)
    row = [r for r in got.to_pylist() if r["doc_id"] == 6][0]
    assert row["title"] == "T6"
    assert row["create_time"] == datetime.datetime(2024, 3, 1, 12, 0)
    # schema mismatch stays loud
    bad = spark.createDataFrame([(1,)], "nope long")
    with pytest.raises(ValueError, match="differs from table schema"):
        write_native_pure(bad, root, mode="append")


@needs_fixtures
def test_stream_writer_native_exactly_once(spark, tmp_path):
    """writeStream.format('lance') to a NATIVE binary dataset: each
    micro-batch appends one manifest version with the batch id riding in
    Manifest.config (spark.flc.meta.stream_epoch) — the epoch tag lives
    inside the same atomic manifest create, so a redelivered batch is
    detected from the binary chain alone and only drops orphans."""
    from flink_connector_lance_spark.sources import fragments as FR
    from flink_connector_lance_spark.sources.datasource import (
        LanceDataSourceStreamWriter,
        register_lance_datasource,
    )
    from flink_connector_lance_spark.sources.writer import write_native_pure

    register_lance_datasource(spark)
    root = str(tmp_path / "nstream")
    seed = spark.createDataFrame([(0, "seed")], "id long, v string")
    write_native_pure(seed.coalesce(1), root, mode="overwrite")

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string") \
        .write.parquet(src)
    q = (spark.readStream.schema("id long, v string").parquet(src)
         .writeStream.format("lance").option("path", root)
         .option("checkpointLocation", ckpt).trigger(availableNow=True)
         .start())
    q.awaitTermination(120)
    got = LF.read_native_dataset(root)
    assert sorted(got.column("id").to_pylist()) == [0, 1, 2]
    assert FR.meta_value_committed(root, "stream_epoch", 0)
    # a redelivered epoch commits nothing (idempotent): same batch id
    # again -> version unchanged, orphans dropped
    w = LanceDataSourceStreamWriter({"path": root})
    before = LF.read_native_manifest(root).version
    w.commit([], batchId=0)
    assert LF.read_native_manifest(root).version == before


@needs_fixtures
def test_describe_native_dataset():
    from flink_connector_lance_spark.sources.maintenance import describe_dataset

    info = describe_dataset(f"{REF}/lance-db1")
    assert info["version"] == 1 and info["num_rows"] == 5
    assert info["schema_columns"] == ["embedding", "id", "title"]
    assert info["native_format"]["writer_version"] == "0.24.0"
    assert info["indexes"] == [] and info["rollups"] == []


def test_compact_and_vacuum_native(spark, tmp_path):
    """Runt-merge compaction + MVCC vacuum on a native dataset: runts
    merge into one fragment, big fragments carry over byte-identical
    (same file names), vacuum drops pre-compaction versions and the
    dead runt files."""
    from flink_connector_lance_spark.sources.maintenance import (
        compact_dataset,
        vacuum_dataset,
    )
    from flink_connector_lance_spark.sources.writer import write_native_pure

    root = str(tmp_path / "ds")
    big = spark.range(500).selectExpr("id", "concat('d', id) AS t").coalesce(1)
    write_native_pure(big, root, mode="append")
    big_file = LF.read_native_manifest(root).fragments[0].file
    for lo in (500, 510, 520):  # three 10-row runts
        write_native_pure(
            spark.range(lo, lo + 10).selectExpr("id", "concat('d', id) AS t")
            .coalesce(1),
            root, mode="append")
    assert len(LF.read_native_manifest(root).fragments) == 4

    mf = compact_dataset(spark, root, target_rows_per_fragment=1000,
                         small_threshold=100)
    assert len(mf.fragments) == 2  # big (kept by name) + one merged
    assert mf.fragments[0].file == big_file
    assert LF.read_native_dataset(root).num_rows == 530
    got = sorted(LF.read_native_dataset(root)["id"].to_pylist())
    assert got == list(range(530))

    report = vacuum_dataset(root, keep_versions=1)
    assert report["dropped_versions"] == 4 and report["deleted_files"] == 3
    assert LF.native_manifest_versions(root) == [5]
    data = os.listdir(os.path.join(root, LF.DATA_DIR))
    assert len(data) == 2 and big_file in data
    # the surviving version still reads completely
    assert LF.read_native_dataset(root).num_rows == 530
    # a second compaction is a no-op (fewer than two runts)
    assert len(compact_dataset(spark, root, 1000, small_threshold=100
                               ).fragments) == 2


def test_roundtrip_extended_types(tmp_path):
    """bool / binary / date32 — the rest of the reference type
    converter's scalar surface (ref LanceTypeConverter.java:146-156) —
    spec-derived encodings, round-trip pinned."""
    tbl = pa.table({
        "flag": pa.array([True, False, True, True, False, False, True, False,
                          True], pa.bool_()),  # 9 rows: crosses a byte
        "blob": pa.array([b"\x00\xff", None, b"", b"abc", b"\x80" * 5,
                          b"x", b"y", b"z", b"w"], pa.binary()),
        "day": pa.array([datetime.date(2024, 1, i + 1) for i in range(9)],
                        pa.date32()),
    })
    root = str(tmp_path / "ext")
    LF.write_native_dataset(root, tbl, mode="create")
    got = LF.read_native_dataset(root)
    assert got.schema == tbl.schema
    assert got.to_pylist() == tbl.to_pylist()
    # bool is genuinely bit-packed: 9 rows -> 2 bytes of values
    mf = LF.read_native_manifest(root)
    fpath = os.path.join(root, LF.DATA_DIR, mf.fragments[0].file)
    blob = open(fpath, "rb").read()
    _, cmos, _, _, ncols, _, _ = LF._read_footer(blob)
    pages = LF._column_pages(blob, 0, cmos)  # "flag" is column 0
    assert pages[0].buf_size == [2]
    assert LF._flat_bits(pages[0].encoding) == 1


def test_spark_roundtrip_extended_types(spark, tmp_path):
    from flink_connector_lance_spark.sources.reader import read_dataset
    from flink_connector_lance_spark.sources.writer import write_native_pure

    root = str(tmp_path / "ext-spark")
    df = spark.createDataFrame(
        [(True, bytearray(b"ab"), datetime.date(2024, 5, 1)),
         (False, bytearray(b""), datetime.date(1969, 12, 31))],
        "flag boolean, blob binary, day date").coalesce(1)
    write_native_pure(df, root, mode="append")
    rows = read_dataset(spark, root).orderBy("day").collect()
    assert [r.flag for r in rows] == [False, True]
    assert rows[1].blob == bytearray(b"ab")
    assert rows[0].day == datetime.date(1969, 12, 31)


def test_fixed_size_list_keeps_fidelity(tmp_path):
    """FixedSizeList vectors keep their declared dimension through the
    codec (SURVEY §7.0.3 — the improvement over the reference
    converter's lossy List flatten, ref LanceTypeConverter.java:235-242;
    Lance ANN indexing requires FixedSizeList)."""
    tbl = pa.table({
        "id": pa.array([1, 2], pa.int64()),
        "vec": pa.array([[1.0, 2.0], [3.0, 4.0]], pa.list_(pa.float32(), 2)),
    })
    root = str(tmp_path / "fsl")
    LF.write_native_dataset(root, tbl, mode="create")
    got = LF.read_native_dataset(root)
    assert pa.types.is_fixed_size_list(got.schema.field("vec").type)
    assert got.schema.field("vec").type.list_size == 2
    assert got["vec"].to_pylist() == [[1.0, 2.0], [3.0, 4.0]]


def test_delete_rows_native(spark, tmp_path):
    """Copy-on-write DELETE on a native dataset: only the fragment
    holding matches rewrites; the other carries over byte-identical;
    NULL-predicate rows survive (SQL three-valued logic)."""
    from flink_connector_lance_spark.sources.maintenance import delete_rows
    from flink_connector_lance_spark.sources.writer import write_native_pure

    root = str(tmp_path / "del")
    lo = spark.createDataFrame(
        [(1, "aa"), (2, None), (3, "cc")], "id long, v string").coalesce(1)
    hi = spark.createDataFrame(
        [(4, "dd"), (5, "ee")], "id long, v string").coalesce(1)
    write_native_pure(lo, root, mode="append")
    write_native_pure(hi, root, mode="append")
    untouched = LF.read_native_manifest(root).fragments[1].file

    mf = delete_rows(spark, root, "v = 'aa'")
    assert mf.version == 3
    assert untouched in [fr.file for fr in mf.fragments]
    got = sorted(LF.read_native_dataset(root)["id"].to_pylist())
    assert got == [2, 3, 4, 5]  # id=2 has NULL v -> survives (3VL)
    # pre-delete version still readable (MVCC)
    assert LF.read_native_dataset(root, version=2).num_rows == 5
    # no match -> no new version
    assert delete_rows(spark, root, "v = 'zz'").version == 3


def test_merge_rows_native(spark, tmp_path):
    """MERGE upsert on a native dataset: updated keys replace in place,
    new keys insert, untouched fragments carry over, one commit."""
    from flink_connector_lance_spark.sources.maintenance import merge_rows
    from flink_connector_lance_spark.sources.writer import write_native_pure

    root = str(tmp_path / "mrg")
    write_native_pure(spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, v string").coalesce(1),
        root, mode="append")
    write_native_pure(spark.createDataFrame(
        [(3, "c")], "id long, v string").coalesce(1), root, mode="append")
    untouched = LF.read_native_manifest(root).fragments[1].file

    updates = spark.createDataFrame(
        [(2, "B2"), (9, "new")], "id long, v string")
    mf = merge_rows(spark, root, updates, key="id")
    assert mf.version == 3
    assert untouched in [fr.file for fr in mf.fragments]
    got = dict((r["id"], r["v"]) for r in LF.read_native_dataset(root).to_pylist())
    assert got == {1: "a", 2: "B2", 3: "c", 9: "new"}
    with pytest.raises(ValueError, match="duplicate"):
        merge_rows(spark, root,
                   spark.createDataFrame([(2, "x"), (2, "y")],
                                         "id long, v string"), key="id")


def test_ann_index_over_native_dataset(spark, tmp_path):
    """The reference's signature flow — write Lance, build a vector
    index, search — end-to-end over OUR natively-written binary dataset:
    IVF_PQ build (parquet sidecars under _indexes/), indexed SQL route
    (ADC over codes + refine fetch decoding .lance bytes), distributed
    pq_search, and coverage-split staleness after a post-build append."""
    import numpy as np

    from flink_connector_lance_spark.pq import build_pq_index, pq_search
    from flink_connector_lance_spark.sources.writer import write_native_pure
    from flink_connector_lance_spark.udtf import (
        register_vector_search,
        uses_indexed_route,
    )

    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(200, 8)).astype("float32")
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, emb array<float>").coalesce(2)
    root = str(tmp_path / "native-ann")
    write_native_pure(df, root, mode="append")

    build_pq_index(spark, root, "emb", id_col="id", num_sub_vectors=4,
                   num_bits=4)
    assert uses_indexed_route(root, "emb")

    q = [float(x) for x in vecs[17]]
    exact = np.argsort(((vecs - vecs[17]) ** 2).sum(axis=1))[:3]

    got = pq_search(spark, root, "emb", q, k=3, refine_factor=4).collect()
    assert [r.id for r in got][0] == 17
    assert set(r.id for r in got) <= set(int(i) for i in exact) | {17}

    register_vector_search(spark)
    arr = ", ".join(f"{v}D" for v in q)
    sql = spark.sql(f"""
        SELECT v.id, v._distance FROM vector_search(
            '{root}', 'emb', ARRAY({arr}), 3, 'L2', 2, NULL, 4) AS v
    """).collect()
    assert sql[0].id == 17 and sql[0]._distance == 0.0

    # post-build append: coverage split exact-scores the uncovered tail
    extra = spark.createDataFrame([(999, q)], "id long, emb array<float>")
    write_native_pure(extra, root, mode="append")
    sql2 = spark.sql(f"""
        SELECT v.id, v._distance FROM vector_search(
            '{root}', 'emb', ARRAY({arr}), 2, 'L2') AS v
    """).collect()
    assert sorted(r.id for r in sql2) == [17, 999]
    assert all(r._distance == 0.0 for r in sql2)


def test_fts_over_native_dataset(spark, tmp_path):
    """BM25 full-text search (postings index + fts_search + the
    incremental refresh) over a natively-written binary dataset — the
    lexical half of the retrieval family on real Lance storage."""
    from flink_connector_lance_spark.sources.fts import (
        create_fts_index,
        fts_search,
        refresh_fts_index,
    )
    from flink_connector_lance_spark.sources.writer import write_native_pure

    root = str(tmp_path / "fts-native")
    docs = spark.createDataFrame(
        [(1, "spark engine for lance data"),
         (2, "vector search over lance"),
         (3, "unrelated text about cooking")],
        "doc_id long, body string").coalesce(1)
    write_native_pure(docs, root, mode="append")
    create_fts_index(spark, root, "body", "doc_id")

    hits = fts_search(spark, root, "lance engine", text_col="body", k=3).collect()
    assert hits[0].doc_id == 1  # matches both terms
    assert {r.doc_id for r in hits} == {1, 2}

    # append through the native codec, refresh indexes the delta only
    write_native_pure(spark.createDataFrame(
        [(4, "another lance engine document")],
        "doc_id long, body string").coalesce(1), root, mode="append")
    info = refresh_fts_index(spark, root, "body")
    assert info["mode"] == "incremental" and info["delta_docs"] == 1
    hits2 = fts_search(spark, root, "lance engine", text_col="body", k=4).collect()
    assert {r.doc_id for r in hits2} >= {1, 4}


def test_run_maintenance_over_native_dataset(spark, tmp_path):
    """The policy-driven auto-maintenance pass (compact -> vacuum, each
    decision carrying its triggering measurement) runs unchanged over a
    natively-written binary dataset."""
    from flink_connector_lance_spark.sources.auto_maintenance import (
        MaintenancePolicy,
        run_maintenance,
    )
    from flink_connector_lance_spark.sources.writer import write_native_pure

    root = str(tmp_path / "auto")
    for lo in (0, 10, 20, 30):
        write_native_pure(
            spark.range(lo, lo + 10).selectExpr("id", "concat('d', id) AS t")
            .coalesce(1), root, mode="append")
    policy = MaintenancePolicy(target_rows_per_fragment=100,
                               max_runt_fraction=0.2, keep_versions=1)
    report = run_maintenance(spark, root, policy)
    steps = {s["step"]: s for s in report["steps"]}
    assert steps["compact"]["due"] is True
    assert steps["vacuum"]["due"] is True
    assert len(LF.read_native_manifest(root).fragments) == 1
    assert LF.read_native_dataset(root).num_rows == 40
    assert len(LF.native_manifest_versions(root)) == 1


def test_catalog_lists_native_tables(spark, tmp_path):
    """Catalog table detection (_versions/ probe, ref
    LanceCatalog.java:492-493) is format-agnostic: natively-written
    binary datasets list, exist, rename, and read like emulated ones."""
    from flink_connector_lance_spark.sources.catalog import DatasetCatalog
    from flink_connector_lance_spark.sources.reader import read_dataset
    from flink_connector_lance_spark.sources.writer import write_native_pure

    wh = str(tmp_path / "warehouse")
    cat = DatasetCatalog(warehouse=wh)
    cat.create_database("db1")
    root = cat.table_location("db1", "events_native")
    write_native_pure(
        spark.range(5).selectExpr("id", "concat('e', id) AS name").coalesce(1),
        root, mode="append")
    assert cat.list_tables("db1") == ["events_native"]
    assert cat.table_exists("db1", "events_native")
    cat.rename_table("db1", "events_native", "renamed")
    assert cat.list_tables("db1") == ["renamed"]
    assert read_dataset(spark, cat.table_location("db1", "renamed")).count() == 5


def test_native_zone_map_pruning(spark, tmp_path):
    """Native fragments now carry zone maps (the <N>.stats.json sidecar
    written with the commit): a clustered native write gets
    planning-time fragment pruning — a range filter schedules only the
    fragments whose recorded [min,max] intersect it, same contract as
    the emulated backend's manifest stats."""
    from pyspark.sql.datasource import EqualTo
    from flink_connector_lance_spark.options import DatasetOptions
    from flink_connector_lance_spark.sources.datasource import (
        LanceDataSourceReader,
        register_lance_datasource,
    )
    from flink_connector_lance_spark.sources.writer import write_native_pure

    root = str(tmp_path / "zm")
    df = spark.range(400).selectExpr("id", "concat('d', id) AS t")
    write_native_pure(df, root, mode="append",
                      options=DatasetOptions(path=root, sort_columns=["id"],
                                             cluster_on_write=True,
                                             write_max_rows_per_file=100))
    mf = LF.read_native_manifest(root)
    assert len(mf.fragments) >= 4
    stats = LF.read_native_stats(root, mf.version)
    assert len(stats) == len(mf.fragments)

    def planned(filters):
        r = LanceDataSourceReader({"path": root})
        r.pushFilters(filters)
        return r.partitions()

    assert len(planned([])) == len(mf.fragments)
    assert len(planned([EqualTo(("id",), 42)])) == 1

    register_lance_datasource(spark)
    got = (spark.read.format("lance").load(root)
           .filter("id = 42").select("t").collect())
    assert [r.t for r in got] == ["d42"]

    # stats survive a carried-over commit: append another fragment, the
    # old fragments keep pruning
    write_native_pure(spark.range(400, 410).selectExpr(
        "id", "concat('d', id) AS t").coalesce(1), root, mode="append")
    assert len(planned([EqualTo(("id",), 42)])) == 1


def test_native_bloom_point_lookup_pruning(spark, tmp_path):
    """Point-lookup blooms on native fragments: the bloom is built from
    the rows already in executor memory at encode time, its manifest
    entry rides in the stats sidecar, and a pushed id = N filter keeps
    only the fragment that really holds N (zone maps alone can't — ids
    interleave across fragments here). Vacuum keeps live blooms."""
    from pyspark.sql.datasource import EqualTo
    from flink_connector_lance_spark.options import DatasetOptions
    from flink_connector_lance_spark.sources.datasource import (
        LanceDataSourceReader,
    )
    from flink_connector_lance_spark.sources.maintenance import vacuum_dataset
    from flink_connector_lance_spark.sources.writer import write_native_pure

    import pyspark.sql.functions as F

    root = str(tmp_path / "bl")
    # interleaved ids (id % 4 decides the partition): every fragment's
    # [min,max] spans the whole id range, so zone maps keep everything
    df = (spark.range(400).selectExpr("id", "concat('d', id) AS t")
          .repartition(4, F.col("id") % 4))
    write_native_pure(df, root, mode="append",
                      options=DatasetOptions(path=root, bloom_columns=["id"]))
    nfrag = len(LF.read_native_manifest(root).fragments)
    assert nfrag >= 2  # hash partitioning may fold groups; need >1 to prune

    def planned(filters):
        r = LanceDataSourceReader({"path": root})
        r.pushFilters(filters)
        return r.partitions()

    assert len(planned([])) == nfrag
    assert len(planned([EqualTo(("id",), 42)])) == 1

    data = os.listdir(os.path.join(root, LF.DATA_DIR))
    blooms = [n for n in data if n.endswith(".bloom.json")]
    assert len(blooms) == nfrag
    vacuum_dataset(root, keep_versions=1)
    data_after = os.listdir(os.path.join(root, LF.DATA_DIR))
    assert sorted(n for n in data_after if n.endswith(".bloom.json")) == sorted(blooms)
    assert len(planned([EqualTo(("id",), 42)])) == 1


def test_cluster_and_statistics_native(spark, tmp_path):
    """Full-table OPTIMIZE over a native dataset: rows land
    range-clustered, the fresh stats sidecar makes range filters prune
    to one fragment, and table_statistics merges the zone maps (zero
    data IO). Tail scope refuses (no layout slot in binary manifests)."""
    from pyspark.sql.datasource import GreaterThan, LessThan
    from flink_connector_lance_spark.sources.datasource import (
        LanceDataSourceReader,
    )
    from flink_connector_lance_spark.sources.maintenance import (
        cluster_dataset,
        table_statistics,
    )
    from flink_connector_lance_spark.sources.writer import write_native_pure

    import pyspark.sql.functions as F

    root = str(tmp_path / "cl")
    df = (spark.range(400).selectExpr("id", "concat('d', id) AS t")
          .repartition(4, F.col("id") % 4))  # interleaved: zone maps useless
    write_native_pure(df, root, mode="append")

    def planned(filters):
        r = LanceDataSourceReader({"path": root})
        r.pushFilters(filters)
        return r.partitions()

    before = len(planned([GreaterThan(("id",), 390)]))
    mf = cluster_dataset(spark, root, ["id"], target_rows_per_fragment=100)
    assert len(mf.fragments) >= 4
    assert len(planned([GreaterThan(("id",), 390)])) == 1
    assert len(planned([LessThan(("id",), 5)])) == 1
    assert before > 1  # pre-clustering the same filter kept several

    stats = table_statistics(root)
    assert stats["num_rows"] == 400
    assert stats["columns"]["id"] == {"min": 0, "max": 399, "null_count": 0}
    assert "__bloom__" not in stats["columns"]

    # tail scope right after a full pass is a no-op: everything is
    # already inside the config-recorded clustered run (round 9 lifted
    # the former scope='full'-only refusal — layout meta rides in the
    # table-config slot now; tests/test_clustering.py drives the full
    # tail + z-order lifecycle)
    assert cluster_dataset(spark, root, ["id"], scope="tail").version == mf.version


def test_rollup_over_native_source(spark, tmp_path):
    """Incremental rollups over a native SOURCE dataset: the rollup
    state stays an emulated dataset (it needs commit metadata), but the
    source delta reads decode .lance fragments — create, append through
    the native codec, delta-only refresh, full rebuild after a rewrite."""
    from flink_connector_lance_spark.sources.maintenance import delete_rows
    from flink_connector_lance_spark.sources.rollup import (
        create_rollup,
        read_rollup,
        refresh_rollup,
        rollup_status,
    )
    from flink_connector_lance_spark.sources.writer import write_native_pure

    root = str(tmp_path / "rollup-src")
    write_native_pure(spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "a", 30)],
        "id long, grp string, v long").coalesce(1), root, mode="append")
    create_rollup(spark, root, "by_grp", group_cols=["grp"],
                  aggs={"sum_v": ("sum", "v"), "cnt": "count"})
    got = {r.grp: (r.sum_v, r.cnt) for r in read_rollup(spark, root, "by_grp")
           .selectExpr("grp", "sum_v", "cnt").collect()}
    assert got == {"a": (40, 2), "b": (20, 1)}

    write_native_pure(spark.createDataFrame(
        [(4, "b", 5)], "id long, grp string, v long").coalesce(1),
        root, mode="append")
    st = rollup_status(root, "by_grp")
    assert st["pending_fragments"] == 1 and not st["needs_full"]
    info = refresh_rollup(spark, root, "by_grp")
    assert info["mode"] == "incremental"
    got = {r.grp: r.sum_v for r in read_rollup(spark, root, "by_grp")
           .selectExpr("grp", "sum_v").collect()}
    assert got == {"a": 40, "b": 25}

    # a rewrite (DELETE) flips the refresh to a full rebuild
    delete_rows(spark, root, "id = 1")
    info = refresh_rollup(spark, root, "by_grp")
    assert info["mode"] == "full"
    got = {r.grp: r.sum_v for r in read_rollup(spark, root, "by_grp")
           .selectExpr("grp", "sum_v").collect()}
    assert got == {"a": 30, "b": 25}


def test_cdc_and_version_delta_over_native(spark, tmp_path):
    """Incremental consumption over a native dataset: read_version_delta
    reads ONLY appended fragments; read_changes resolves a DELETE into
    row-level insert/delete events — both decode .lance bytes."""
    from flink_connector_lance_spark.sources.maintenance import (
        delete_rows,
        read_changes,
        read_version_delta,
    )
    from flink_connector_lance_spark.sources.writer import write_native_pure

    root = str(tmp_path / "cdc")
    write_native_pure(spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, v string").coalesce(1),
        root, mode="append")
    write_native_pure(spark.createDataFrame(
        [(3, "c")], "id long, v string").coalesce(1), root, mode="append")

    delta = read_version_delta(spark, root, from_version=1)
    assert [r.id for r in delta.collect()] == [3]

    delete_rows(spark, root, "id = 1")
    ch = read_changes(spark, root, from_version=2).collect()
    got = sorted((r.id, r._change_type) for r in ch)
    assert got == [(1, "delete")]


def test_stream_read_tails_native_appends(spark, tmp_path):
    """spark.readStream.format('lance') tails a NATIVE dataset: each
    externally-appended binary version arrives as one micro-batch of
    decoded rows (the ingestion bridge for a lance table some other
    writer owns)."""
    from flink_connector_lance_spark.sources.datasource import (
        register_lance_datasource,
    )
    from flink_connector_lance_spark.sources.writer import write_native_pure

    root = str(tmp_path / "stream-src")
    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    write_native_pure(spark.createDataFrame(
        [(1, "a")], "id long, v string").coalesce(1), root, mode="append")

    register_lance_datasource(spark)
    q = (spark.readStream.format("lance").load(root)
         .writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", ckpt).trigger(availableNow=True)
         .start())
    q.awaitTermination(120)
    assert {r.id for r in spark.read.parquet(out).collect()} == {1}

    write_native_pure(spark.createDataFrame(
        [(2, "b")], "id long, v string").coalesce(1), root, mode="append")
    q = (spark.readStream.format("lance").load(root)
         .writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", ckpt).trigger(availableNow=True)
         .start())
    q.awaitTermination(120)
    assert {r.id for r in spark.read.parquet(out).collect()} == {1, 2}


def test_format_write_creates_native_dataset(spark, tmp_path):
    """write.native-format=true: spark.write.format('lance') CREATES a
    real Lance binary dataset on a fresh path (binary manifest + .lance
    fragments + stats sidecar); asking for it over an existing emulated
    dataset refuses."""
    from flink_connector_lance_spark.sources.datasource import (
        register_lance_datasource,
    )

    register_lance_datasource(spark)
    root = str(tmp_path / "created")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    (df.write.format("lance").option("write.native-format", "true")
       .mode("append").save(root))
    assert LF.is_native_dataset(root)
    assert LF.read_native_dataset(root).num_rows == 2
    got = spark.read.format("lance").load(root)
    assert sorted((r.id, r.v) for r in got.collect()) == [(1, "a"), (2, "b")]
    # follow-up writes need no option: the binary chain self-identifies
    df.write.format("lance").mode("append").save(root)
    assert LF.native_count_rows(root) == 4

    emul = str(tmp_path / "emul")
    df.write.format("lance").mode("append").save(emul)
    with pytest.raises(Exception, match="mixing binary and JSON"):
        (df.write.format("lance").option("write.native-format", "true")
           .mode("append").save(emul))


def test_format_empty_overwrite_truncates_native_dataset(spark, tmp_path):
    """Overwriting a native dataset with an all-empty DataFrame is a
    truncate: the new version carries zero fragments and the schema is
    inherited from the live manifest (regression: the empty-overwrite
    branch unconditionally re-read the schema from new_files[0], which
    IndexError'd on the empty list)."""
    from flink_connector_lance_spark.sources.datasource import (
        register_lance_datasource,
    )

    register_lance_datasource(spark)
    root = str(tmp_path / "trunc")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    (df.write.format("lance").option("write.native-format", "true")
       .mode("overwrite").save(root))
    assert LF.native_count_rows(root) == 2

    df.filter("id < 0").write.format("lance").mode("overwrite").save(root)
    assert LF.native_count_rows(root) == 0
    mf = LF.read_native_manifest(root)
    assert [f.name for f in mf.fields] == ["id", "v"]
    out = spark.read.format("lance").load(root)
    assert out.columns == ["id", "v"]
    assert out.count() == 0
    # and the truncated dataset still accepts schema-matched appends
    df.write.format("lance").mode("append").save(root)
    assert LF.native_count_rows(root) == 2


def test_foreachbatch_upsert_sink_on_native_dataset(spark, tmp_path):
    """streaming.sink.commit_epoch_upsert against a NATIVE binary
    dataset: the epoch tag rides in Manifest.config through merge_rows'
    native copy-on-write branch, so a redelivered epoch is a no-op."""
    from flink_connector_lance_spark.streaming.sink import (
        commit_epoch_upsert,
        epoch_committed,
    )
    from flink_connector_lance_spark.sources.writer import write_native_pure

    root = str(tmp_path / "upsert")
    write_native_pure(
        spark.createDataFrame([(1, "old"), (2, "old")], "id long, v string")
        .coalesce(1), root, mode="overwrite")
    batch = spark.createDataFrame([(2, "new"), (3, "new")], "id long, v string")
    m = commit_epoch_upsert(batch, 0, root, key="id")
    assert m is not None and epoch_committed(root, 0)
    got = {r["id"]: r["v"] for r in LF.read_native_dataset(root).to_pylist()}
    assert got == {1: "old", 2: "new", 3: "new"}
    # redelivery of epoch 0: skipped entirely
    assert commit_epoch_upsert(batch, 0, root, key="id") is None
    v = LF.read_native_manifest(root).version
    assert {r["id"]: r["v"] for r in LF.read_native_dataset(root).to_pylist()} == got
    assert LF.read_native_manifest(root).version == v


def test_spark_write_declared_dim_produces_fsl(spark, tmp_path):
    """A Spark array column with declared lance.vector.dim metadata
    writes a true FixedSizeList native column (SURVEY §7.0.3 — what
    Lance ANN indexing requires; the reference flattens to List), and
    every Spark read path flattens it back to array<float> at the Arrow
    bridge (Spark cannot ingest FSL batches)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import (ArrayType, FloatType, LongType,
                                   StructField, StructType)

    from flink_connector_lance_spark.sources.datasource import (
        register_lance_datasource,
    )
    from flink_connector_lance_spark.sources.reader import read_dataset
    from flink_connector_lance_spark.sources.writer import write_native_pure

    root = str(tmp_path / "fsl")
    schema = StructType([
        StructField("id", LongType()),
        StructField("emb", ArrayType(FloatType()),
                    metadata={"lance.vector.dim": 4}),
    ])
    df = spark.createDataFrame(
        [(i, [float(i), 1.0, 2.0, 3.0]) for i in range(10)], schema)
    write_native_pure(df.repartition(2), root, mode="overwrite")
    mf = LF.read_native_manifest(root)
    assert [f.logical_type for f in mf.fields if f.name == "emb"] == \
        ["fixed_size_list:4"]
    assert read_dataset(spark, root).count() == 10
    register_lance_datasource(spark)
    r = spark.read.format("lance").load(root)
    assert r.count() == 10
    assert r.select(F.sum(F.element_at("emb", 2))).collect()[0][0] == 10.0


def test_write_native_pure_miniblock_layout(spark, tmp_path):
    """write.native-layout=2.1-miniblock: the distributed native write
    emits 2.1 structural pages for fixed-width columns (chunked streams,
    definition levels for nulls) and the whole read surface — format
    reader, pushed filters, count fast path, DELETE rewrite — serves the
    dataset unchanged."""
    from flink_connector_lance_spark.options import DatasetOptions
    from flink_connector_lance_spark.sources.datasource import (
        register_lance_datasource,
    )
    from flink_connector_lance_spark.sources.maintenance import delete_rows
    from flink_connector_lance_spark.sources.writer import write_native_pure

    path = str(tmp_path / "mb")
    df = spark.range(700).selectExpr(
        "id", "CASE WHEN id % 3 = 0 THEN id * 2 END AS opt",
        "concat('d', id) AS name")
    write_native_pure(df.repartition(2), path, mode="overwrite",
                      options=DatasetOptions(path=path,
                                             native_layout="2.1-miniblock"))
    assert LF.native_count_rows(path) == 700  # manifest-only fast path
    register_lance_datasource(spark)
    got = spark.read.format("lance").load(path)
    assert got.count() == 700
    assert got.filter("opt IS NULL").count() == 466
    assert got.filter("id >= 690").count() == 10  # pushed filter over chunks
    assert got.filter("name = 'd699'").count() == 1
    # copy-on-write DELETE re-encodes through the default 2.0 layout;
    # survivors and untouched mini-block fragments read uniformly
    delete_rows(spark, path, "id < 100")
    assert spark.read.format("lance").load(path).count() == 600


@pytest.mark.parametrize("ts_type", ["timestamp_ntz", "timestamp"])
def test_native_timestamp_type_survives_append_of_its_own_frame(
        spark, tmp_path, ts_type):
    """A binary Lance dataset takes an append of the very frame that
    created it: a TIMESTAMP_NTZ column is stored tz-naive and reads back
    as TIMESTAMP_NTZ, a TIMESTAMP column is stored tz-aware and reads
    back as TIMESTAMP (Parquet's isAdjustedToUTC rule), so the append's
    schema check sees the same types on both sides."""
    from flink_connector_lance_spark.sources.datasource import (
        register_lance_datasource,
    )
    from flink_connector_lance_spark.sources.reader import read_dataset
    from flink_connector_lance_spark.sources.writer import (
        write_dataset,
        write_native_pure,
    )

    path = str(tmp_path / "ts")
    df = spark.createDataFrame(
        [(i, datetime.datetime(2024, 1, 1) + datetime.timedelta(hours=7 * i))
         for i in range(6)], f"id long, ts {ts_type}")
    write_native_pure(df.coalesce(1), path, mode="overwrite")
    first = read_dataset(spark, path)
    assert dict(first.dtypes)["ts"] == ts_type
    assert sorted(first.collect()) == sorted(df.collect())

    write_dataset(df, path, "append")
    again = read_dataset(spark, path)
    assert dict(again.dtypes)["ts"] == ts_type
    assert sorted(again.collect()) == sorted(df.collect() * 2)
    register_lance_datasource(spark)
    fmt = spark.read.format("lance").load(path)
    assert dict(fmt.dtypes)["ts"] == ts_type
    assert sorted(fmt.collect()) == sorted(again.collect())
