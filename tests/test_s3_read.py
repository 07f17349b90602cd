"""S3 READ path (sources/fs.py): manifest/metadata plane through fsspec,
data plane through the Python DataSource's worker-side fsspec opens, and
the catalog's read surface over an s3:// warehouse — driven by the fake
fsspec fixture (tests/fixtures/fsspec.py), which routes the identical
credential/option plumbing a real s3fs deployment uses. Writes are
executor-direct (per-task fsspec PUTs + one conditional-PUT manifest
commit), and so are the maintenance rewrites (DELETE/MERGE/compact)
and vacuum."""

from __future__ import annotations

import os
import sys

import pytest

from flink_connector_lance_spark.options import S3Options
from flink_connector_lance_spark.sources import fragments as FR
from flink_connector_lance_spark.sources.catalog import (
    CatalogError,
    DatasetCatalog,
    Unsupported,
)
from flink_connector_lance_spark.sources.datasource import register_lance_datasource
from flink_connector_lance_spark.sources.writer import write_dataset

FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures")


@pytest.fixture()
def fake_s3(spark, monkeypatch, tmp_path):
    """Make ``import fsspec`` resolve to the fake on the driver AND in
    Spark's Python workers; yields the local root backing s3://."""
    monkeypatch.syspath_prepend(FIXTURES)
    sys.modules.pop("fsspec", None)
    spark.sparkContext.addPyFile(os.path.join(FIXTURES, "fsspec.py"))
    root = str(tmp_path / "fake-s3")
    os.makedirs(root)
    yield root
    sys.modules.pop("fsspec", None)


def _make_remote_table(spark, root, db="db1", table="t1", n=80):
    local = os.path.join(root, "bucket", "wh", db, table)
    df = spark.range(n).selectExpr("id", "id % 4 AS g")
    write_dataset(df.repartition(2), local, mode="overwrite")
    return f"s3://bucket/wh/{db}/{table}"


def test_s3_format_read_end_to_end(fake_s3, spark):
    url = _make_remote_table(spark, fake_s3)
    register_lance_datasource(spark)
    df = (spark.read.format("lance")
          .option("s3-endpoint", f"fake://{fake_s3}").load(url))
    assert set(df.columns) == {"id", "g"}
    assert df.count() == 80
    # pushed filter evaluates inside the remote worker read
    assert df.filter("g = 2").count() == 20
    assert df.filter("id >= 70").count() == 10


def test_s3_metadata_plane_and_version_travel(fake_s3, spark):
    url = _make_remote_table(spark, fake_s3, table="t2", n=30)
    local = os.path.join(fake_s3, "bucket", "wh", "db1", "t2")
    write_dataset(spark.range(100, 120).selectExpr("id", "id % 4 AS g"),
                  local, mode="append")
    storage = S3Options(endpoint=f"fake://{fake_s3}").to_storage_options()
    assert FR.is_dataset(url, storage)
    assert FR.latest_version(url, storage) == 1
    assert FR.read_manifest(url, storage_options=storage).row_count == 50
    register_lance_datasource(spark)
    v0 = (spark.read.format("lance")
          .option("s3-endpoint", f"fake://{fake_s3}")
          .option("version", "0").load(url))
    assert v0.count() == 30  # MVCC time travel over s3


def test_s3_catalog_read_surface_and_write_refusals(fake_s3, spark):
    _make_remote_table(spark, fake_s3)
    _make_remote_table(spark, fake_s3, table="t2", n=10)
    os.makedirs(os.path.join(fake_s3, "bucket", "wh", "db1", "not_a_table"))
    cat = DatasetCatalog("s3://bucket/wh",
                         s3=S3Options(endpoint=f"fake://{fake_s3}"))
    assert cat.list_databases() == ["db1"]
    assert cat.database_exists("db1") and not cat.database_exists("nope")
    assert cat.list_tables("db1") == ["t1", "t2"]  # non-datasets excluded
    assert cat.table_exists("db1", "t1")
    got = cat.get_table(spark, "db1", "t1")
    assert got.count() == 80
    cat.register_table(spark, "db1", "t1", view_name="s3_t1")
    assert spark.sql("SELECT count(*) AS c FROM s3_t1").collect()[0].c == 80
    # rename stays refused (no atomic multi-key rename on object stores)
    with pytest.raises(Unsupported, match="no.*atomic rename"):
        cat.rename_table("db1", "t1", "t9")


@pytest.mark.parametrize("plane", ["local", "s3"])
def test_catalog_lifecycle_parity(fake_s3, spark, tmp_path, plane):
    """ONE lifecycle, BOTH planes, identical assertions (round-12
    verdict "do this" #6): create db → create table → list → error
    cases (duplicate create, ignore_if_*, non-empty db, missing drops)
    → drop table → drop db → cascade. On s3:// this runs through the
    fsspec plane (round-12 parity-plus: the reference's own mutations
    would fail on S3 — Paths.get/Files.move on a URI,
    LanceCatalog.java:518/:549): a database is a key prefix pinned by a
    zero-byte .database marker, drops are recursive prefix deletes.
    Any semantic drift between the planes fails one arm of this test
    and not the other."""
    if plane == "s3":
        cat = DatasetCatalog("s3://bucket/wh",
                             s3=S3Options(endpoint=f"fake://{fake_s3}"))

        def make_table(db, table, n):
            return _make_remote_table(spark, fake_s3, db=db, table=table,
                                      n=n)
    else:
        wh = str(tmp_path / "local-wh")
        os.makedirs(wh)
        cat = DatasetCatalog(wh)

        def make_table(db, table, n):
            loc = os.path.join(wh, db, table)
            df = spark.range(n).selectExpr("id", "id % 4 AS g")
            write_dataset(df.repartition(2), loc, mode="overwrite")
            return loc

    cat.create_database("db2")
    assert cat.database_exists("db2")
    assert "db2" in cat.list_databases()
    with pytest.raises(CatalogError, match="already exists"):
        cat.create_database("db2")
    cat.create_database("db2", ignore_if_exists=True)  # no-op
    assert cat.list_tables("db2") == []  # marker/dir is not a table

    url = make_table("db2", "tx", 12)
    assert cat.table_exists("db2", "tx")
    assert cat.get_table(spark, "db2", "tx").count() == 12
    with pytest.raises(CatalogError, match="not empty"):
        cat.drop_database("db2")
    cat.drop_table("db2", "tx")
    assert not cat.table_exists("db2", "tx")
    assert not FR.is_dataset(url, cat.storage_options)
    with pytest.raises(CatalogError, match="does not exist"):
        cat.drop_table("db2", "tx")
    cat.drop_table("db2", "tx", ignore_if_not_exists=True)  # no-op
    cat.drop_database("db2")
    assert not cat.database_exists("db2")
    with pytest.raises(CatalogError, match="does not exist"):
        cat.drop_database("db2")
    cat.drop_database("db2", ignore_if_not_exists=True)  # no-op
    # cascade drops tables with the database
    cat.create_database("db3")
    make_table("db3", "ty", 6)
    cat.drop_database("db3", cascade=True)
    assert not cat.database_exists("db3")


def test_s3_write_then_read_round_trip(fake_s3, spark):
    """write_dataset over s3://: fragments staged locally, uploaded via
    fsspec, manifest committed with the conditional-PUT (exclusive
    create) — then read back through the normal remote read plane,
    including MVCC version travel and the CAS conflict contract."""
    from flink_connector_lance_spark.options import DatasetOptions
    from flink_connector_lance_spark.sources.fs import create_exclusive, get_fs

    url = "s3://bucket/wh/db1/w1"
    s3 = S3Options(endpoint=f"fake://{fake_s3}")
    opts = DatasetOptions(path=url, s3=s3)
    df = spark.range(40).selectExpr("id", "id % 4 AS g")
    m = write_dataset(df.repartition(2), url, mode="overwrite", options=opts)
    assert m.version == 0 and sum(f.row_count for f in m.fragments) == 40

    m2 = write_dataset(spark.range(100, 110).selectExpr("id", "id % 4 AS g"),
                       url, mode="append", options=opts)
    assert m2.version == 1

    register_lance_datasource(spark)
    rd = (spark.read.format("lance")
          .option("s3-endpoint", f"fake://{fake_s3}"))
    assert rd.load(url).count() == 50
    assert rd.load(url).filter("g = 2").count() == 12  # pushdown still works
    assert rd.option("version", "0").load(url).count() == 40  # MVCC travel

    storage = s3.to_storage_options()
    # conditional commit: a stale expected version conflicts, not appends
    with pytest.raises(FR.CommitConflict):
        FR.commit(url, [], mode="append", expected_base_version=0,
                  storage_options=storage)
    # the exclusive create itself: second writer of the same key loses
    fs = get_fs(url, storage)
    with pytest.raises(FileExistsError):
        create_exclusive(fs, f"{url}/_versions/1.manifest.json", b"x")
    # append-time schema contract survives the remote path
    with pytest.raises(Exception, match="schema|column"):
        write_dataset(spark.range(3).selectExpr("id", "id AS zzz_new"),
                      url, mode="append", options=opts)


def test_s3_zone_map_pruning_still_plans_remote(fake_s3, spark):
    """Planning-time fragment skipping works from the (remote) manifest's
    zone maps: a filter outside every fragment's range schedules no
    partitions."""
    from flink_connector_lance_spark.sources.datasource import LanceDataSourceReader

    url = _make_remote_table(spark, fake_s3, table="t3", n=40)
    from pyspark.sql.datasource import GreaterThan

    r = LanceDataSourceReader({
        "path": url, "s3-endpoint": f"fake://{fake_s3}",
    })
    r.pushFilters([GreaterThan(("id",), 10_000)])
    assert r.partitions() == []  # every fragment pruned by min/max


def test_without_fsspec_remote_read_degrades_clearly(spark, monkeypatch):
    """No fsspec importable -> the original clear refusal, not a crash.
    (A None sys.modules entry makes ``import fsspec`` raise ImportError —
    the stdlib contract — regardless of what addPyFile left on sys.path.)"""
    monkeypatch.setitem(sys.modules, "fsspec", None)
    cat = DatasetCatalog("s3://bucket/wh", s3=S3Options(access_key="AK"))
    with pytest.raises(Unsupported, match="fsspec"):
        cat.list_databases()
    with pytest.raises(Exception, match="fsspec|s3fs"):
        FR.read_manifest("s3://bucket/wh/db/t")


def test_fsspec_without_s3fs_degrades_clearly(monkeypatch):
    """fsspec importable but s3fs absent: fsspec.filesystem('s3') raises
    a raw ImportError, which must surface as the same clear refusal as a
    missing fsspec (not leak past catalog._fs())."""
    import types

    from flink_connector_lance_spark.sources.fs import RemoteUnavailableError, get_fs

    fake = types.ModuleType("fsspec")

    def _fs(protocol, **kw):
        raise ImportError("Install s3fs to access S3")

    fake.filesystem = _fs
    monkeypatch.setitem(sys.modules, "fsspec", fake)
    with pytest.raises(RemoteUnavailableError, match="fsspec"):
        get_fs("s3://bucket/x")


@pytest.mark.parametrize("where", ["local", "s3"])
def test_read_file_prunes_row_groups_and_projects(fake_s3, spark, monkeypatch,
                                                  where):
    """A pushed point filter on a parquet fragment reads only the row
    groups whose footer stats may match, projected to the target's
    columns — O(matching groups) wire cost, not O(file) — through the one
    per-file reader, on the local store and on an object store alike."""
    import pyarrow as pa
    import pyarrow.parquet as papq
    from pyspark.sql.datasource import EqualTo

    from flink_connector_lance_spark.sources.fs import store_for
    from flink_connector_lance_spark.sources.reader import read_file

    local = os.path.join(fake_s3, "bucket", "rg.parquet")
    os.makedirs(os.path.dirname(local), exist_ok=True)
    papq.write_table(
        pa.table({"id": list(range(100)), "g": [i % 4 for i in range(100)]}),
        local, row_group_size=10)
    if where == "s3":
        file = "s3://bucket/rg.parquet"
        store = store_for(file, S3Options(
            endpoint=f"fake://{fake_s3}").to_storage_options())
    else:
        file, store = local, store_for(local)
    target = pa.schema([("id", pa.int64())])

    seen = []
    orig = papq.ParquetFile.iter_batches

    def spy(self, *a, **kw):
        seen.append((kw.get("row_groups"), kw.get("columns")))
        return orig(self, *a, **kw)

    monkeypatch.setattr(papq.ParquetFile, "iter_batches", spy)
    batches = list(read_file(store, file, target, [EqualTo(("id",), 55)]))
    assert sum(b.num_rows for b in batches) == 1
    assert all(b.schema == target for b in batches)
    assert seen == [([5], ["id"])], seen  # 10 groups of 10: only group 5 read

    # filter outside every group's range: footer-only read, zero batches
    seen.clear()
    assert list(read_file(store, file, target,
                          [EqualTo(("id",), 10_000)])) == []
    assert seen == []


def _both_formats_dataset(spark, local, fmt):
    """v1: 40 rows (id, g) in 2 fragments; v2: an evolving append of 10
    rows that adds tag = concat('T', id) (NOT NULL in the batch); native
    v3: a deletion-vector DELETE of id % 10 = 3. Returns the versions."""
    from flink_connector_lance_spark.options import DatasetOptions
    from flink_connector_lance_spark.sources.maintenance import delete_rows
    from flink_connector_lance_spark.sources.writer import write_native_pure

    write = write_native_pure if fmt == "native" else write_dataset
    base = spark.range(40).selectExpr("id", "id % 4 AS g")
    v1 = write(base.repartition(2), local, mode="overwrite").version
    added = spark.range(40, 50).selectExpr("id", "id % 4 AS g",
                                           "concat('T', id) AS tag")
    v2 = write(added.coalesce(1), local, mode="append",
               options=DatasetOptions(path=local, schema_evolution=True)).version
    if fmt == "native":
        delete_rows(spark, local, "id % 10 = 3", use_deletion_vectors=True)
    return v1, v2


@pytest.mark.parametrize("fmt", ["emulated", "native"])
def test_read_dataset_local_and_s3_agree(fake_s3, spark, fmt):
    """One read entry for both locations: the same dataset read through
    ``read_dataset`` from its local path and from s3 returns the same
    rows — latest and pinned versions, columns + filter, pre-evolution
    null-fill, deletion-vector masking — and the file-attributed scan of
    the rewrites counts the same rows per fragment."""
    from flink_connector_lance_spark.options import DatasetOptions
    from flink_connector_lance_spark.sources.maintenance import _file_scan
    from flink_connector_lance_spark.sources.reader import read_dataset

    local = os.path.join(fake_s3, "bucket", "wh", "parity")
    url = "s3://bucket/wh/parity"
    s3 = S3Options(endpoint=f"fake://{fake_s3}")
    v1, v2 = _both_formats_dataset(spark, local, fmt)

    def both(**kw):
        a = read_dataset(spark, local, **kw)
        b = read_dataset(spark, url, options=DatasetOptions(path=url, s3=s3), **kw)
        assert a.columns == b.columns
        got = sorted(a.collect()), sorted(b.collect())
        assert got[0] == got[1]
        return got[0]

    deleted = {3, 13, 23, 33, 43} if fmt == "native" else set()
    live = [i for i in range(50) if i not in deleted]
    rows = both()
    assert [r.id for r in rows] == live
    pre_evolution = [i for i in live if i < 40]
    assert [r.id for r in rows if r.tag is None] == pre_evolution
    assert [r.id for r in both(columns=["id"], filter="g = 1 AND id < 20")] \
        == [i for i in range(1, 20, 4) if i not in deleted]
    assert len(both(filter="tag IS NULL", columns=["g"])) == len(pre_evolution)
    assert len(both(version=v1)) == 40
    assert {r.tag for r in both(version=v2) if r.tag} == {
        f"T{i}" for i in range(40, 50)}

    m = FR.read_manifest_compat(local)
    per_local = sorted(tuple(r) for r in _file_scan(
        spark, local, m, file_col="__frag").groupBy("__frag").count().collect())
    per_s3 = sorted(tuple(r) for r in _file_scan(
        spark, url, m, s3, file_col="__frag").groupBy("__frag").count().collect())
    assert per_local == per_s3 and sum(c for _, c in per_local) == len(live)


@pytest.mark.parametrize("where", ["local", "s3"])
def test_datasource_is_null_on_evolved_column(fake_s3, spark, where):
    """``IS NULL`` on a column an evolving append added counts the
    pre-evolution rows: the datasource declares data columns nullable
    (the append recorded the added column NOT NULL from its batch), so
    Catalyst cannot fold the predicate to an empty scan."""
    from flink_connector_lance_spark.options import DatasetOptions
    from flink_connector_lance_spark.sources.reader import read_dataset

    local = os.path.join(fake_s3, "bucket", "wh", "evolved")
    write_dataset(spark.range(20).selectExpr("id", "id % 4 AS g").repartition(2),
                  local, mode="overwrite")
    write_dataset(spark.range(20, 30).selectExpr("id", "id % 4 AS g",
                                                 "concat('T', id) AS tag"),
                  local, mode="append",
                  options=DatasetOptions(path=local, schema_evolution=True))
    register_lance_datasource(spark)
    s3 = S3Options(endpoint=f"fake://{fake_s3}")
    path = local if where == "local" else "s3://bucket/wh/evolved"

    def rd():
        r = spark.read.format("lance")
        if where == "s3":
            r = r.options(**s3.to_option_map())
        return r

    assert rd().load(path).filter("tag IS NULL").count() == 20
    probe = (rd().option("read.file-column", "__frag").load(path)
             .filter("tag IS NULL").groupBy("__frag").count().collect())
    assert sum(r["count"] for r in probe) == 20
    opts = DatasetOptions(path=path, s3=s3 if where == "s3" else None)
    assert read_dataset(spark, path, filter="tag IS NULL",
                        options=opts).count() == 20


def test_s3_file_scan_reads_the_given_manifest(fake_s3, spark):
    """A rewrite's scan on s3 reads the manifest it was given, not the
    version that is latest when the scan plans."""
    from flink_connector_lance_spark.sources.maintenance import _file_scan

    url = _make_remote_table(spark, fake_s3, table="pinned", n=80)
    s3 = S3Options(endpoint=f"fake://{fake_s3}")
    storage = s3.to_storage_options()
    m = FR.read_manifest(url, storage_options=storage)
    local = os.path.join(fake_s3, "bucket", "wh", "db1", "pinned")
    write_dataset(spark.range(80, 100).selectExpr("id", "id % 4 AS g"),
                  local, mode="append")
    assert FR.read_manifest(url, storage_options=storage).row_count == 100
    assert _file_scan(spark, url, m, s3).count() == m.row_count == 80


def test_s3_write_is_executor_direct(fake_s3, spark):
    """The remote write's data plane never routes through the driver:
    every fragment PUT is issued from a Spark Python worker process
    (the fake fs logs the putting pid), and no driver-local staging
    directory is involved — at cluster scale this is the difference
    between an all-NIC-parallel write and a single-machine funnel."""
    from flink_connector_lance_spark.options import DatasetOptions

    url = "s3://bucket/wh/db1/direct"
    s3 = S3Options(endpoint=f"fake://{fake_s3}")
    df = spark.range(200).selectExpr("id", "id % 4 AS g")
    m = write_dataset(df.repartition(4), url, mode="overwrite",
                      options=DatasetOptions(path=url, s3=s3))
    assert sum(f.row_count for f in m.fragments) == 200
    log = os.path.join(fake_s3, "_put_pids.log")
    puts = [ln.split() for ln in open(log).read().splitlines() if ln]
    frag_puts = [(pid, key) for pid, key in puts if "/data/" in key]
    assert len(frag_puts) == len(m.fragments) == 4
    assert all(int(pid) != os.getpid() for pid, _ in frag_puts), \
        "fragment bytes were uploaded by the driver process"
    # read-back correctness through the normal remote plane
    register_lance_datasource(spark)
    got = (spark.read.format("lance")
           .option("s3-endpoint", f"fake://{fake_s3}").load(url))
    assert got.count() == 200


def test_s3_write_respects_max_rows_per_file(fake_s3, spark):
    from flink_connector_lance_spark.options import DatasetOptions

    url = "s3://bucket/wh/db1/chunks"
    s3 = S3Options(endpoint=f"fake://{fake_s3}")
    opts = DatasetOptions(path=url, s3=s3, write_max_rows_per_file=30)
    m = write_dataset(spark.range(100).selectExpr("id").coalesce(1), url,
                      mode="overwrite", options=opts)
    assert sorted(f.row_count for f in m.fragments) == [10, 30, 30, 30]
    assert max(f.row_count for f in m.fragments) <= 30


def test_s3_bloom_sidecars_write_and_prune(fake_s3, spark):
    """write.bloom-columns on s3://: the sidecar is PUT next to its
    fragment from the same task, and the driver-side planner consults it
    through fsspec — a point lookup skips fragments whose bloom excludes
    the value even when zone maps cannot (overlapping min/max)."""
    from pyspark.sql.datasource import EqualTo

    from flink_connector_lance_spark.options import DatasetOptions
    from flink_connector_lance_spark.sources.datasource import LanceDataSourceReader

    url = "s3://bucket/wh/db1/blooms"
    s3 = S3Options(endpoint=f"fake://{fake_s3}")
    opts = DatasetOptions(path=url, s3=s3, bloom_columns=["v"])
    # two appends -> two fragments with OVERLAPPING value ranges ('a'..'c'
    # vs 'b'..'d'), so zone maps keep both and only the bloom can skip
    df1 = spark.createDataFrame([("a",), ("c",)], "v string").coalesce(1)
    df2 = spark.createDataFrame([("b",), ("d",)], "v string").coalesce(1)
    m1 = write_dataset(df1, url, mode="overwrite", options=opts)
    m2 = write_dataset(df2, url, mode="append", options=opts)
    assert len(m2.fragments) == 2
    from flink_connector_lance_spark.sources.bloom import BLOOM_STATS_KEY
    assert all(BLOOM_STATS_KEY in (f.stats or {}) for f in m2.fragments)
    # sidecar objects landed next to their fragments
    data_dir = os.path.join(fake_s3, "bucket", "wh", "db1", "blooms", "data")
    assert sum(n.endswith(".bloom.json") for n in os.listdir(data_dir)) == 2

    r = LanceDataSourceReader({"path": url, "s3-endpoint": f"fake://{fake_s3}"})
    r.pushFilters([EqualTo(("v",), "c")])
    parts = r.partitions()
    assert len(parts) == 1  # the 'b'..'d' fragment is bloom-skipped
    # and a value in no fragment plans zero tasks
    r2 = LanceDataSourceReader({"path": url, "s3-endpoint": f"fake://{fake_s3}"})
    r2.pushFilters([EqualTo(("v",), "zz")])
    assert r2.partitions() == []


def test_s3_vacuum_reclaims_dead_objects(fake_s3, spark):
    """vacuum_dataset on s3://: manifests beyond keep_versions and the
    data keys (plus bloom sidecars) no retained version references are
    deleted through fsspec — manifests FIRST (crash-safe order), key
    listings only, no data IO."""
    from flink_connector_lance_spark.options import DatasetOptions
    from flink_connector_lance_spark.sources.maintenance import vacuum_dataset

    url = "s3://bucket/wh/db1/vac"
    s3 = S3Options(endpoint=f"fake://{fake_s3}")
    opts = DatasetOptions(path=url, s3=s3, bloom_columns=["id"])
    storage = s3.to_storage_options()
    write_dataset(spark.range(40).selectExpr("id").repartition(2), url,
                  mode="overwrite", options=opts)
    write_dataset(spark.range(40, 60).selectExpr("id").repartition(2), url,
                  mode="overwrite", options=opts)  # v1 replaces all of v0

    local_data = os.path.join(fake_s3, "bucket", "wh", "db1", "vac", "data")
    files_before = set(os.listdir(local_data))
    # default grace window: every unreferenced key is seconds old, so it
    # is treated as a possible IN-FLIGHT executor-direct write and kept
    rep = vacuum_dataset(url, keep_versions=1, dry_run=True,
                         storage_options=storage)
    assert rep["deleted_files"] == 0 and rep["skipped_young_keys"] == 4
    assert set(os.listdir(local_data)) == files_before

    rep = vacuum_dataset(url, keep_versions=1, dry_run=True,
                         storage_options=storage, staging_grace_seconds=0)
    assert rep["dropped_versions"] == 1
    assert rep["deleted_files"] == 4  # v0's 2 fragments + 2 bloom sidecars
    assert rep["reclaimed_bytes"] > 0
    assert set(os.listdir(local_data)) == files_before  # dry run deletes nothing

    rep = vacuum_dataset(url, keep_versions=1, storage_options=storage,
                         staging_grace_seconds=0)
    assert rep["deleted_files"] == 4 and rep["staging_dirs_removed"] == 0
    survivors = set(os.listdir(local_data))
    assert len(survivors) == 4 and survivors < files_before
    # the retained version still reads fully
    register_lance_datasource(spark)
    got = (spark.read.format("lance")
           .option("s3-endpoint", f"fake://{fake_s3}").load(url))
    assert sorted(r.id for r in got.collect()) == list(range(40, 60))
    # the vacuumed version fails fast on its missing manifest
    with pytest.raises(Exception):
        (spark.read.format("lance")
         .option("s3-endpoint", f"fake://{fake_s3}")
         .option("version", "0").load(url).collect())


def test_file_column_attribution_and_partition_pruning(fake_s3, spark):
    """read.file-column appends each row's RELATIVE fragment file (the
    remote-capable twin of input_file_name(), which Python data sources
    evaluate to ''), and EqualTo/In filters on it prune PARTITIONS at
    planning time — a fragment-subset scan expressed as a predicate."""
    from pyspark.sql import functions as F

    from flink_connector_lance_spark.sources.datasource import (
        LanceDataSourceReader,
    )
    from pyspark.sql.datasource import EqualTo

    url = _make_remote_table(spark, fake_s3, table="attr", n=40)
    register_lance_datasource(spark)
    rd = (spark.read.format("lance")
          .option("s3-endpoint", f"fake://{fake_s3}")
          .option("read.file-column", "__frag"))
    df = rd.load(url)
    assert df.columns[-1] == "__frag"
    per_file = {r.f: r.c for r in
                df.groupBy(F.col("__frag").alias("f")).count()
                .withColumnRenamed("count", "c").collect()}
    assert len(per_file) == 2 and sum(per_file.values()) == 40
    assert all(f.startswith("data/") for f in per_file)
    one = sorted(per_file)[0]
    # data filter + attribution compose
    got = rd.load(url).filter("g = 2").select("__frag").distinct().collect()
    assert {r[0] for r in got} <= set(per_file)
    # planning-time partition pruning on the file column
    r = LanceDataSourceReader({"path": url, "s3-endpoint": f"fake://{fake_s3}",
                               "read.file-column": "__frag"})
    r.pushFilters([EqualTo(("__frag",), one)])
    parts = r.partitions()
    assert len(parts) == 1 and parts[0].file.endswith(one)
    # and the values really are that fragment's rows
    sub = rd.load(url).filter(F.col("__frag") == one)
    assert sub.count() == per_file[one]


def test_s3_delete_rows_executor_direct(fake_s3, spark):
    """Row-level DELETE on an s3:// dataset: only affected fragments
    rewrite (untouched keys carry over), survivor bytes are PUT from
    worker processes, blooms rebuild on the rewritten fragments, and the
    commit is a conditional PUT under CAS. MVCC: the pre-delete version
    still reads."""
    from flink_connector_lance_spark.options import DatasetOptions
    from flink_connector_lance_spark.sources.maintenance import delete_rows

    url = "s3://bucket/wh/db1/del"
    s3 = S3Options(endpoint=f"fake://{fake_s3}")
    opts = DatasetOptions(path=url, s3=s3, bloom_columns=["id"])
    # two fragments with disjoint ranges: only one holds matches
    write_dataset(spark.range(50).selectExpr("id", "id % 4 AS g").coalesce(1),
                  url, mode="overwrite", options=opts)
    write_dataset(spark.range(50, 100).selectExpr("id", "id % 4 AS g").coalesce(1),
                  url, mode="append", options=opts)
    m0 = FR.read_manifest(url, storage_options=s3.to_storage_options())
    untouched = [f.file for f in m0.fragments if f.file.endswith(".parquet")]

    log = os.path.join(fake_s3, "_put_pids.log")
    open(log, "w").close()  # reset the audit trail
    m = delete_rows(spark, url, "id >= 80", s3=s3)
    assert sum(f.row_count for f in m.fragments) == 80
    files_after = {f.file for f in m.fragments}
    # the id<50 fragment carried over by key; the other was rewritten
    assert untouched[0] in files_after and untouched[1] not in files_after
    # rewritten fragment keeps the bloom contract
    from flink_connector_lance_spark.sources.bloom import BLOOM_STATS_KEY
    rewritten = [f for f in m.fragments if f.file != untouched[0]]
    assert rewritten and all(BLOOM_STATS_KEY in (f.stats or {}) for f in rewritten)
    # survivor bytes were PUT by worker processes, not the driver
    frag_puts = [ln.split() for ln in open(log).read().splitlines()
                 if "/data/" in ln and not ln.endswith(".bloom.json")]
    assert frag_puts and all(int(p) != os.getpid() for p, _ in frag_puts)
    register_lance_datasource(spark)
    rd = spark.read.format("lance").option("s3-endpoint", f"fake://{fake_s3}")
    assert rd.load(url).count() == 80
    assert rd.load(url).filter("id >= 80").count() == 0
    assert rd.option("version", str(m0.version)).load(url).count() == 100


def test_s3_compact_merges_runts(fake_s3, spark):
    from flink_connector_lance_spark.options import DatasetOptions
    from flink_connector_lance_spark.sources.maintenance import compact_dataset

    url = "s3://bucket/wh/db1/cmp"
    s3 = S3Options(endpoint=f"fake://{fake_s3}")
    opts = DatasetOptions(path=url, s3=s3)
    write_dataset(spark.range(500).selectExpr("id").coalesce(1), url,
                  mode="overwrite", options=opts)
    for i in range(4):  # micro-appends -> runts
        write_dataset(spark.range(500 + i * 10, 510 + i * 10).selectExpr("id")
                      .coalesce(1), url, mode="append", options=opts)
    m0 = FR.read_manifest(url, storage_options=s3.to_storage_options())
    assert len(m0.fragments) == 5
    m = compact_dataset(spark, url, target_rows_per_fragment=400,
                        small_threshold=100, s3=s3)
    assert len(m.fragments) == 2  # big one kept + merged runts
    assert sum(f.row_count for f in m.fragments) == 540
    big = [f for f in m0.fragments if f.row_count == 500][0]
    assert big.file in {f.file for f in m.fragments}  # carried by key
    register_lance_datasource(spark)
    got = (spark.read.format("lance")
           .option("s3-endpoint", f"fake://{fake_s3}").load(url))
    assert got.count() == 540


def test_s3_merge_rows_upsert(fake_s3, spark):
    """MERGE on an s3:// dataset: updated keys replace in one atomic
    conditional-PUT commit, new keys insert, untouched fragments carry
    over by key, and the pre-merge version still time-travels."""
    from flink_connector_lance_spark.options import DatasetOptions
    from flink_connector_lance_spark.sources.maintenance import merge_rows

    url = "s3://bucket/wh/db1/mrg"
    s3 = S3Options(endpoint=f"fake://{fake_s3}")
    opts = DatasetOptions(path=url, s3=s3)
    write_dataset(spark.range(30).selectExpr("id", "id AS v").coalesce(1),
                  url, mode="overwrite", options=opts)
    write_dataset(spark.range(30, 60).selectExpr("id", "id AS v").coalesce(1),
                  url, mode="append", options=opts)
    m0 = FR.read_manifest(url, storage_options=s3.to_storage_options())

    upd = spark.createDataFrame([(5, 500), (70, 700)], "id long, v long")
    m = merge_rows(spark, url, upd, key="id", s3=s3)
    assert sum(f.row_count for f in m.fragments) == 61
    # only the id<30 fragment was affected; the other carried by key
    other = [f.file for f in m0.fragments][1]
    assert other in {f.file for f in m.fragments}
    register_lance_datasource(spark)
    rd = spark.read.format("lance").option("s3-endpoint", f"fake://{fake_s3}")
    got = {r.id: r.v for r in rd.load(url).collect()}
    assert got[5] == 500 and got[70] == 700 and got[6] == 6 and len(got) == 61
    assert rd.option("version", str(m0.version)).load(url).count() == 60
    # duplicate update keys stay refused (upsert contract, both backends)
    dup = spark.createDataFrame([(1, 10), (1, 11)], "id long, v long")
    with pytest.raises(ValueError, match="duplicate"):
        merge_rows(spark, url, dup, key="id", s3=s3)


def test_s3_native_binary_dataset_reads(fake_s3, spark):
    """A REAL Lance v2 binary dataset living on s3:// reads through the
    stdlib codec over fsspec — manifest, schema, fragments, filters, and
    version travel; this is the reference's own S3 surface (its catalog
    hands s3 credentials to native lance, ref
    LanceCatalogFactory.java:77-111)."""
    import shutil

    from flink_connector_lance_spark.sources import lance_format as LF

    ref = "/root/reference/test-data/lance-db1"
    if not LF.is_native_dataset(ref):
        pytest.skip("reference fixtures not present")
    local = os.path.join(fake_s3, "bucket", "wh", "db1", "ndb")
    shutil.copytree(ref, local)
    url = "s3://bucket/wh/db1/ndb"
    storage = S3Options(endpoint=f"fake://{fake_s3}").to_storage_options()

    assert LF.is_native_dataset(url, storage)
    mf = LF.read_native_manifest(url, storage_options=storage)
    assert mf.version == 1 and mf.row_count == 5
    compat = FR.read_manifest_compat(url, storage_options=storage)
    assert compat.meta["native_lance"] is True

    register_lance_datasource(spark)
    rd = spark.read.format("lance").option("s3-endpoint", f"fake://{fake_s3}")
    df = rd.load(url)
    assert set(df.columns) == {"id", "title", "embedding"}
    assert df.count() == 5
    # the demo's literal rows come back through fsspec + the decoder
    titles = {r.id: r.title for r in df.collect()}
    assert titles[1] == "Introduction to AI" and len(titles) == 5
    assert df.filter("id >= 4").count() == 2
    # native dataset written by THIS engine, pushed to s3, reads too
    import tempfile

    tmp = tempfile.mkdtemp()
    nds = os.path.join(tmp, "mine")
    import pyarrow as pa

    LF.write_native_dataset(
        nds, pa.table({"k": pa.array([1, 2, 3], pa.int64()),
                       "s": pa.array(["a", None, "c"], pa.string())}),
        "create")
    dest = os.path.join(fake_s3, "bucket", "wh", "db1", "mine")
    shutil.copytree(nds, dest)
    got = rd.load("s3://bucket/wh/db1/mine")
    assert got.count() == 3 and got.filter("s IS NULL").count() == 1


def test_s3_native_write_and_roundtrip(fake_s3, spark):
    """write_native_pure straight onto s3://: tasks encode .lance v2
    files to worker scratch and PUT them (plus bloom sidecars) to the
    object store; the binary manifest commits with a conditional PUT.
    Appends, commit metadata (Manifest.config), epoch idempotency, and
    the format('lance') read-back all work over fsspec."""
    from flink_connector_lance_spark.options import DatasetOptions
    from flink_connector_lance_spark.sources import lance_format as LF
    from flink_connector_lance_spark.sources.writer import (
        write_dataset,
        write_native_pure,
    )

    url = "s3://bucket/wh/db1/nwrite"
    s3 = S3Options(endpoint=f"fake://{fake_s3}")
    opts = DatasetOptions(path=url, s3=s3, bloom_columns=["id"])
    storage = s3.to_storage_options()
    df = spark.range(40).selectExpr("id", "concat('t', id) AS t")

    log = os.path.join(fake_s3, "_put_pids.log")
    m = write_native_pure(df.repartition(2), url, mode="overwrite",
                          options=opts)
    assert m.version == 1 and m.row_count == 40 and len(m.fragments) == 2
    # fragment bytes were PUT by worker processes
    puts = [ln.split() for ln in open(log).read().splitlines()
            if ln.endswith(".lance")]
    assert len(puts) == 2 and all(int(p) != os.getpid() for p, _ in puts)
    # the binary layout is really on the (fake) object store
    local = os.path.join(fake_s3, "bucket", "wh", "db1", "nwrite")
    assert os.path.exists(os.path.join(local, "_versions", "1.manifest"))
    assert any(n.endswith(".bloom.json")
               for n in os.listdir(os.path.join(local, "data")))

    # write_dataset routes a remote BINARY chain through the codec
    # (never a JSON manifest fork), carrying commit metadata in config
    m2 = write_dataset(spark.range(40, 50).selectExpr("id", "concat('t', id) AS t"),
                       url, mode="append", options=opts,
                       commit_meta={"stream_epoch": 3})
    assert m2.version == 2
    assert FR.meta_value_committed(url, "stream_epoch", 3,
                                   storage_options=storage)
    assert FR.read_manifest_compat(
        url, storage_options=storage).meta["stream_epoch"] == 3

    register_lance_datasource(spark)
    rd = spark.read.format("lance").option("s3-endpoint", f"fake://{fake_s3}")
    got = rd.load(url)
    assert got.count() == 50
    assert got.filter("id >= 45").count() == 5
    assert rd.option("version", "1").load(url).count() == 40  # MVCC travel


def test_s3_native_delete_and_compact(fake_s3, spark):
    """The remote copy-on-write rewrites serve the NATIVE binary chain
    too: DELETE and compaction on a real Lance dataset living on s3 —
    probe + partition-pruned rescan through the codec-over-fsspec
    reader, .lance survivors PUT from tasks, one conditional-PUT binary
    manifest under CAS with per-fragment field mappings preserved."""
    from flink_connector_lance_spark.options import DatasetOptions
    from flink_connector_lance_spark.sources import lance_format as LF
    from flink_connector_lance_spark.sources.maintenance import (
        compact_dataset,
        delete_rows,
    )
    from flink_connector_lance_spark.sources.writer import write_native_pure

    url = "s3://bucket/wh/db1/ndel"
    s3 = S3Options(endpoint=f"fake://{fake_s3}")
    opts = DatasetOptions(path=url, s3=s3)
    storage = s3.to_storage_options()
    write_native_pure(spark.range(50).selectExpr("id", "concat('v', id) AS v")
                      .coalesce(1), url, mode="overwrite", options=opts)
    write_native_pure(spark.range(50, 100).selectExpr("id", "concat('v', id) AS v")
                      .coalesce(1), url, mode="append", options=opts)
    m0 = LF.read_native_manifest(url, storage_options=storage)

    m = delete_rows(spark, url, "id >= 90", s3=s3)
    assert m.row_count == 90
    # the untouched fragment carried over byte-identical (same name)
    assert m0.fragments[0].file in {fr.file for fr in m.fragments}
    register_lance_datasource(spark)

    def rd():  # fresh reader per query (DataFrameReader.option mutates)
        return (spark.read.format("lance")
                .option("s3-endpoint", f"fake://{fake_s3}"))

    assert rd().load(url).count() == 90
    assert rd().load(url).filter("id >= 90").count() == 0
    assert rd().option("version", str(m0.version)).load(url).count() == 100

    # compaction: micro-appends merge into one fragment, big one carries
    for i in range(3):
        write_native_pure(
            spark.range(1000 + i * 5, 1005 + i * 5)
            .selectExpr("id", "concat('v', id) AS v").coalesce(1),
            url, mode="append", options=opts)
    mc = compact_dataset(spark, url, target_rows_per_fragment=500,
                         small_threshold=30, s3=s3)
    assert mc.row_count == 105
    assert rd().load(url).count() == 105
    assert rd().load(url).filter("id >= 1000").count() == 15


def test_s3_native_vacuum(fake_s3, spark):
    from flink_connector_lance_spark.options import DatasetOptions
    from flink_connector_lance_spark.sources import lance_format as LF
    from flink_connector_lance_spark.sources.maintenance import vacuum_dataset
    from flink_connector_lance_spark.sources.writer import write_native_pure

    url = "s3://bucket/wh/db1/nvac"
    s3 = S3Options(endpoint=f"fake://{fake_s3}")
    opts = DatasetOptions(path=url, s3=s3)
    storage = s3.to_storage_options()
    write_native_pure(spark.range(20).selectExpr("id").coalesce(1), url,
                      mode="overwrite", options=opts)
    write_native_pure(spark.range(20, 40).selectExpr("id").coalesce(1), url,
                      mode="overwrite", options=opts)  # v2 replaces v1
    # the native chain honors the same grace window (data + txn keys)
    rep = vacuum_dataset(url, keep_versions=1, dry_run=True,
                         storage_options=storage)
    assert rep["deleted_files"] == 0 and rep["skipped_young_keys"] == 2
    rep = vacuum_dataset(url, keep_versions=1, storage_options=storage,
                         staging_grace_seconds=0)
    assert rep["dropped_versions"] == 1 and rep["deleted_files"] == 1
    local = os.path.join(fake_s3, "bucket", "wh", "db1", "nvac")
    assert sorted(os.listdir(os.path.join(local, "_versions"))) == \
        ["2.manifest", "2.stats.json"]
    assert len(os.listdir(os.path.join(local, "data"))) == 1
    assert len(os.listdir(os.path.join(local, "_transactions"))) == 1
    assert LF.native_count_rows(url, storage_options=storage) == 20
    register_lance_datasource(spark)
    got = (spark.read.format("lance")
           .option("s3-endpoint", f"fake://{fake_s3}").load(url))
    assert sorted(r.id for r in got.collect()) == list(range(20, 40))


def test_s3_clustering_both_backends(fake_s3, spark):
    """cluster_dataset on s3:// serves BOTH backends: range clustering
    makes the remote zone maps selective (planning-time pruning to one
    partition), the clustered run carries through a tail pass, and the
    native binary chain records the layout in its table-config slot."""
    from pyspark.sql.datasource import GreaterThan

    from flink_connector_lance_spark.options import DatasetOptions
    from flink_connector_lance_spark.sources.datasource import (
        LanceDataSourceReader,
    )
    from flink_connector_lance_spark.sources.maintenance import cluster_dataset
    from flink_connector_lance_spark.sources.writer import (
        write_dataset,
        write_native_pure,
    )

    s3 = S3Options(endpoint=f"fake://{fake_s3}")
    for backend in ("emulated", "native"):
        url = f"s3://bucket/wh/db1/clu-{backend}"
        opts = DatasetOptions(path=url, s3=s3)
        df = spark.range(400).selectExpr("id", "id % 13 AS g")
        if backend == "emulated":
            write_dataset(df.repartition(4), url, mode="overwrite",
                          options=opts)
        else:
            write_native_pure(df.repartition(4), url, mode="overwrite",
                              options=opts)
        m = cluster_dataset(spark, url, ["id"], 100, s3=s3)
        assert sum(fr.row_count if hasattr(fr, "row_count")
                   else fr.physical_rows for fr in m.fragments) == 400
        r = LanceDataSourceReader({"path": url,
                                   "s3-endpoint": f"fake://{fake_s3}"})
        r.pushFilters([GreaterThan(("id",), 390)])
        assert len(r.partitions()) == 1  # disjoint ranges prune remotely
        # tail pass right after a full pass is a no-op
        m2 = cluster_dataset(spark, url, ["id"], 100, scope="tail", s3=s3)
        assert m2.version == m.version
        got = (spark.read.format("lance")
               .option("s3-endpoint", f"fake://{fake_s3}").load(url))
        assert got.count() == 400, backend


def test_s3_native_drop_columns_metadata_only_and_add_column(fake_s3, spark):
    """drop_columns on an s3:// NATIVE dataset is metadata-only through
    fsspec (one manifest read + one CAS commit; no data key changes);
    add_column backfills executor-direct — the widened fragments are PUT
    from Spark worker processes and one CAS overwrite lands the evolved
    schema, clearing the dropped-name resurrection guard."""
    from flink_connector_lance_spark.options import DatasetOptions
    from flink_connector_lance_spark.sources import lance_format as LF
    from flink_connector_lance_spark.sources.schema_evolution import (
        add_column,
        drop_columns,
        native_dropped_columns,
    )
    from flink_connector_lance_spark.sources.writer import write_native_pure

    url = "s3://bucket/wh/db1/evo"
    s3 = S3Options(endpoint=f"fake://{fake_s3}")
    storage = s3.to_storage_options()
    write_native_pure(
        spark.range(12).selectExpr("id", "id % 3 AS g",
                                   "concat('d', id) AS name").coalesce(1),
        url, mode="overwrite", options=DatasetOptions(path=url, s3=s3))
    local_data = os.path.join(fake_s3, "bucket", "wh", "db1", "evo", "data")
    keys_before = set(os.listdir(local_data))

    drop_columns(url, ["name"], storage_options=storage)
    assert set(os.listdir(local_data)) == keys_before  # metadata-only
    mf = LF.read_native_manifest(url, storage_options=storage)
    assert [f.name for f in mf.fields if f.parent == -1] == ["id", "g"]
    assert native_dropped_columns(url, storage) == ["name"]
    register_lance_datasource(spark)
    got = (spark.read.format("lance")
           .option("s3-endpoint", f"fake://{fake_s3}").load(url))
    assert set(got.columns) == {"id", "g"} and got.count() == 12

    log = os.path.join(fake_s3, "_put_pids.log")
    open(log, "w").close()
    add_column(spark, url, "bonus", "g * 10", s3=s3)
    puts = [ln.split() for ln in open(log).read().splitlines() if ln]
    frag_puts = [(p, k) for p, k in puts if "/evo/data/" in k]
    assert frag_puts and all(int(p) != os.getpid() for p, _ in frag_puts), \
        "backfill fragments were uploaded by the driver process"
    got = (spark.read.format("lance")
           .option("s3-endpoint", f"fake://{fake_s3}").load(url))
    assert set(got.columns) == {"id", "g", "bonus"}
    assert got.selectExpr("sum(bonus)").first()[0] == \
        sum((i % 3) * 10 for i in range(12))
    assert native_dropped_columns(url, storage) == []  # rewrite clears it


def test_s3_emulated_schema_evolution(fake_s3, spark):
    """The remote EMULATED chain evolves too: drop_columns is one JSON
    manifest commit (metadata-only, no data key changes) and add_column
    rewrites executor-direct with the evolved schema recorded in the
    manifest meta."""
    from flink_connector_lance_spark.sources.schema_evolution import (
        add_column,
        drop_columns,
    )

    url = _make_remote_table(spark, fake_s3, table="evo2", n=40)
    s3 = S3Options(endpoint=f"fake://{fake_s3}")
    storage = s3.to_storage_options()
    local = os.path.join(fake_s3, "bucket", "wh", "db1", "evo2")
    keys_before = set(os.listdir(os.path.join(local, "data")))

    mf = drop_columns(url, ["g"], storage_options=storage)
    assert set(os.listdir(os.path.join(local, "data"))) == keys_before
    assert "dropped_columns" in mf.meta and mf.meta["dropped_columns"] == ["g"]
    register_lance_datasource(spark)
    got = (spark.read.format("lance")
           .option("s3-endpoint", f"fake://{fake_s3}").load(url))
    assert set(got.columns) == {"id"} and got.count() == 40
    # guards still fire remotely
    with pytest.raises(ValueError, match="non-existent"):
        drop_columns(url, ["nope"], storage_options=storage)

    log = os.path.join(fake_s3, "_put_pids.log")
    open(log, "w").close()
    add_column(spark, url, "double_id", "id * 2", s3=s3)
    puts = [ln.split() for ln in open(log).read().splitlines() if ln]
    frag_puts = [(p, k) for p, k in puts if "/evo2/data/" in k]
    assert frag_puts and all(int(p) != os.getpid() for p, _ in frag_puts)
    got = (spark.read.format("lance")
           .option("s3-endpoint", f"fake://{fake_s3}").load(url))
    assert set(got.columns) == {"id", "double_id"}
    assert got.selectExpr("sum(double_id)").first()[0] == \
        sum(2 * i for i in range(40))


def test_s3_streaming_upsert_and_dedup_append_sinks(fake_s3, spark):
    """The foreachBatch CDC sinks work against s3:// datasets: each
    epoch's MERGE/append is the executor-direct remote rewrite, the
    epoch-idempotency check answers from the head manifest (no local
    marker), and a redelivered epoch commits nothing twice."""
    from flink_connector_lance_spark.streaming.sink import (
        commit_epoch_dedup_append,
        commit_epoch_upsert,
    )

    s3 = S3Options(endpoint=f"fake://{fake_s3}")
    storage = s3.to_storage_options()
    url = "s3://bucket/wh/db1/ups"
    schema = "id long, val string, seq long"

    b0 = spark.createDataFrame([(1, "a1", 1), (2, "b1", 1)], schema)
    assert commit_epoch_upsert(b0, 0, url, key="id", s3=s3) is not None
    # redelivery: no new version (answered from the remote head manifest)
    v = FR.read_manifest_compat(url, storage_options=storage).version
    assert commit_epoch_upsert(b0, 0, url, key="id", s3=s3) is None
    assert FR.read_manifest_compat(url, storage_options=storage).version == v
    # epoch 1 updates key 2, inserts key 3 — executor-direct MERGE
    log = os.path.join(fake_s3, "_put_pids.log")
    open(log, "w").close()
    b1 = spark.createDataFrame([(2, "b2", 2), (3, "c1", 2)], schema)
    assert commit_epoch_upsert(b1, 1, url, key="id", s3=s3) is not None
    puts = [ln.split() for ln in open(log).read().splitlines() if ln]
    frag_puts = [(p, k) for p, k in puts if "/ups/data/" in k]
    assert frag_puts and all(int(p) != os.getpid() for p, _ in frag_puts)
    register_lance_datasource(spark)
    got = (spark.read.format("lance")
           .option("s3-endpoint", f"fake://{fake_s3}").load(url))
    assert {(r.id, r.val) for r in got.collect()} == \
        {(1, "a1"), (2, "b2"), (3, "c1")}

    # first-wins dedup-append sink on s3: re-delivered key never lands
    url2 = "s3://bucket/wh/db1/ded"
    commit_epoch_dedup_append(b0, 0, url2, key="id", s3=s3)
    b2 = spark.createDataFrame([(1, "SECOND", 9), (4, "d1", 2)], schema)
    commit_epoch_dedup_append(b2, 1, url2, key="id", s3=s3)
    got = (spark.read.format("lance")
           .option("s3-endpoint", f"fake://{fake_s3}").load(url2))
    assert {(r.id, r.val) for r in got.collect()} == \
        {(1, "a1"), (2, "b1"), (4, "d1")}


def test_s3_rollups_end_to_end(fake_s3, spark):
    """Incremental materialized rollups live ON object storage: the
    state is a dataset under the table's own _rollups/ prefix, the
    append delta refreshes at O(delta) through the file-attributed
    remote reader (only the added fragments scan), the remote describe
    enumerates rollup staleness, and run_maintenance refreshes a stale
    remote rollup."""
    import pyspark.sql.functions as F

    from flink_connector_lance_spark.sources.auto_maintenance import (
        MaintenancePolicy,
        run_maintenance,
    )
    from flink_connector_lance_spark.sources.maintenance import describe_dataset
    from flink_connector_lance_spark.sources.rollup import (
        create_rollup,
        read_rollup,
        refresh_rollup,
        rollup_status,
    )

    url = _make_remote_table(spark, fake_s3, table="rup", n=60)
    s3 = S3Options(endpoint=f"fake://{fake_s3}")
    storage = s3.to_storage_options()

    create_rollup(spark, url, "by_g", ["g"],
                  {"cnt": "count", "total": ("sum", "id")}, s3=s3)
    got = {r.g: (r.cnt, r.total) for r in
           read_rollup(spark, url, "by_g", s3=s3).collect()}
    assert got == {g: (15, sum(i for i in range(60) if i % 4 == g))
                   for g in range(4)}

    # append -> stale; refresh is INCREMENTAL (delta fragments only)
    local = os.path.join(fake_s3, "bucket", "wh", "db1", "rup")
    write_dataset(spark.range(60, 80).selectExpr("id", "id % 4 AS g"),
                  local, mode="append")
    st = rollup_status(url, "by_g", storage_options=storage)
    assert st["pending_rows"] == 20 and not st["needs_full"]
    r = refresh_rollup(spark, url, "by_g", s3=s3)
    assert r["mode"] == "incremental" and r["delta_rows"] == 20
    got = {r.g: r.cnt for r in
           read_rollup(spark, url, "by_g", s3=s3).collect()}
    assert got == {g: 20 for g in range(4)}

    # the remote describe enumerates the rollup; run_maintenance
    # refreshes it once it goes stale again
    write_dataset(spark.range(80, 90).selectExpr("id", "id % 4 AS g"),
                  local, mode="append")
    desc = describe_dataset(url, storage_options=storage)
    assert desc["rollups"] and desc["rollups"][0]["name"] == "by_g"
    assert desc["rollups"][0]["pending_rows"] == 10
    # target=1 row/fragment -> nothing is a runt -> compact stays out of
    # the way, so the rollup refresh takes the incremental path
    report = run_maintenance(
        spark, url,
        MaintenancePolicy(target_rows_per_fragment=1, keep_versions=None),
        s3=s3)
    by_name = {s["step"]: s for s in report["steps"]}
    assert by_name["refresh_rollup:by_g"]["due"] is True
    assert by_name["refresh_rollup:by_g"]["result"]["mode"] == "incremental"
    total = (read_rollup(spark, url, "by_g", s3=s3)
             .agg(F.sum("cnt")).first()[0])
    assert total == 90


def test_s3_streaming_epoch_refreshes_remote_rollup(fake_s3, spark):
    """stream_write_dataset's per-epoch materialized-view refresh works
    on s3://: each exactly-once epoch append also incrementally refreshes
    the remote rollup (commit_epoch lists _rollups/ through fsspec)."""
    from flink_connector_lance_spark.options import DatasetOptions
    from flink_connector_lance_spark.sources.rollup import (
        create_rollup,
        read_rollup,
    )
    from flink_connector_lance_spark.streaming.sink import commit_epoch

    url = _make_remote_table(spark, fake_s3, table="mv", n=40)
    s3 = S3Options(endpoint=f"fake://{fake_s3}")
    create_rollup(spark, url, "by_g", ["g"], {"cnt": "count"}, s3=s3)

    b = spark.createDataFrame([(100 + i, i % 4) for i in range(8)],
                              "id long, g long")
    opts = DatasetOptions(path=url, s3=s3)
    assert commit_epoch(b, 0, url, options=opts,
                        refresh_rollups=True) is not None
    # redelivered epoch: nothing twice
    assert commit_epoch(b, 0, url, options=opts,
                        refresh_rollups=True) is None
    got = {r.g: r.cnt for r in
           read_rollup(spark, url, "by_g", s3=s3).collect()}
    assert got == {g: 12 for g in range(4)}  # 10 + 2 per group


def test_s3_vector_search_brute_force(fake_s3, spark):
    """search_dataset on an s3:// dataset serves the EXACT distributed
    scan through the remote reader (identical to the local twin);
    use_index=True on an index-less dataset fails loudly instead of
    silently degrading."""
    from flink_connector_lance_spark.index import search_dataset
    from flink_connector_lance_spark.options import DatasetOptions

    rows = [(i, [float(i % 7), float((i * 3) % 5)]) for i in range(50)]
    df = spark.createDataFrame(rows, "id long, vec array<float>")
    local_twin = os.path.join(fake_s3, "_knn_twin")
    write_dataset(df.coalesce(1), local_twin, mode="overwrite")
    local = os.path.join(fake_s3, "bucket", "wh", "db1", "knn")
    write_dataset(df.coalesce(1), local, mode="overwrite")
    url = "s3://bucket/wh/db1/knn"
    s3 = S3Options(endpoint=f"fake://{fake_s3}")

    q = [1.0, 2.0]
    want = [(r.id, r["_distance"]) for r in
            search_dataset(spark, local_twin, "vec", q, k=5).collect()]
    got = [(r.id, r["_distance"]) for r in
           search_dataset(spark, url, "vec", q, k=5,
                          options=DatasetOptions(path=url, s3=s3)).collect()]
    assert got == want and len(got) == 5

    with pytest.raises(FileNotFoundError, match="build_index"):
        search_dataset(spark, url, "vec", q, k=5, use_index=True,
                       options=DatasetOptions(path=url, s3=s3))


def test_s3_ann_ivf_index_end_to_end(fake_s3, spark):
    """The emulated IVF index lives ON object storage (round-10 verdict
    Missing #3): centroids/assignments are engine datasets under
    ``_indexes/<col>/ivf`` (the FTS sidecar pattern), build trains over
    the remote reader, full-probe indexed search reproduces the exact
    brute-force top-k byte-for-byte, nprobes=1 draws from a strict
    candidate subset, and the probe's assignment reads touch ONLY the
    probed cells' fragments (nprobes-bounded GETs)."""
    from flink_connector_lance_spark.index import (
        build_index,
        has_index,
        search_dataset,
    )
    from flink_connector_lance_spark.options import DatasetOptions

    rows = [(i, [float(i % 13), float((i * 7) % 11), float(i % 5)])
            for i in range(240)]
    df = spark.createDataFrame(rows, "id long, vec array<double>")
    local = os.path.join(fake_s3, "bucket", "wh", "db1", "annidx")
    write_dataset(df.repartition(2), local, mode="overwrite")
    url = "s3://bucket/wh/db1/annidx"
    s3 = S3Options(endpoint=f"fake://{fake_s3}")
    opts = DatasetOptions(path=url, s3=s3, index_num_partitions=6)

    res = build_index(url, "vec", "ivf_flat", spark=spark, id_col="id",
                      options=opts)
    assert res.success, res.error
    assert has_index(url, "vec", s3.to_storage_options())
    # layout: the driver-built centroid table and the meta are files of
    # the local layout; the assignments are an engine dataset
    ivf_root = os.path.join(local, "_indexes", "vec", "ivf")
    assert os.path.isfile(os.path.join(ivf_root, "centroids.parquet", "part-00000.parquet"))
    assert os.path.isfile(os.path.join(ivf_root, "index_meta.json"))
    assert os.path.isdir(os.path.join(ivf_root, "assignments", "_versions"))
    # replace-flag semantics hold remotely
    res2 = build_index(url, "vec", "ivf_flat", spark=spark, id_col="id",
                       options=opts)
    assert not res2.success and "replace=True" in res2.error

    # the remote describe enumerates the ANN index + its staleness
    from flink_connector_lance_spark.sources.maintenance import (
        describe_dataset,
    )

    rep = describe_dataset(url, storage_options=s3.to_storage_options())
    assert [(i["column"], i["type"], i["unindexed_rows"])
            for i in rep["indexes"]] == [("vec", "ivf_flat_emulated", 0)]

    q = [1.0, 2.0, 3.0]
    exact = search_dataset(spark, url, "vec", q, k=10, use_index=False,
                           options=opts, tiebreak_cols=["id"],
                           round_digits=6)
    exact_rows = [(r.id, r["_distance"]) for r in exact.collect()]
    # full probe == exact brute force (the auto-detect route takes the index)
    full = search_dataset(spark, url, "vec", q, k=10, nprobes=6,
                          options=opts, tiebreak_cols=["id"],
                          round_digits=6)
    assert [(r.id, r["_distance"]) for r in full.collect()] == exact_rows
    # nprobes=1: k rows, ascending distances, strict candidate subset
    one = search_dataset(spark, url, "vec", q, k=10, nprobes=1,
                         use_index=True, options=opts,
                         tiebreak_cols=["id"], round_digits=6)
    rows1 = one.collect()
    assert len(rows1) == 10
    ds = [r["_distance"] for r in rows1]
    assert ds == sorted(ds)

    # nprobes-bounded GETs: a 1-cell probe must not open every
    # assignment fragment (the clustered write gave fragments disjoint
    # cell ranges; the pushed cell filter prunes via zone maps)
    assigns_data = os.path.join(ivf_root, "assignments", "data")
    n_frag = len(os.listdir(assigns_data))
    log = os.path.join(fake_s3, "_get_keys.log")
    open(log, "w").close()
    search_dataset(spark, url, "vec", q, k=10, nprobes=1, use_index=True,
                   options=opts).collect()
    got_keys = {ln.split()[1] for ln in open(log).read().splitlines() if ln}
    probed = {k for k in got_keys if "/ivf/assignments/data/" in k}
    assert probed, "assignment fragments were never read through the fake fs"
    assert len(probed) < n_frag, \
        f"1-cell probe opened all {n_frag} assignment fragments"


def test_s3_index_meta_records_training_rows(fake_s3, spark):
    """The s3 commit meta of both IVF_PQ halves records the training
    sample size: the IVF half (1 partition, cap 256) trains on a capped
    sample of the 300 rows, the PQ half (4 codes, cap 1024) on all."""
    from flink_connector_lance_spark.index import SAMPLE_RATE, _kind_metas, build_index
    from flink_connector_lance_spark.options import DatasetOptions

    rows = [(i, [float(i % 13), float((i * 7) % 11), float(i % 5), float(i % 3)])
            for i in range(300)]
    local = os.path.join(fake_s3, "bucket", "wh", "db1", "trainrows")
    write_dataset(spark.createDataFrame(rows, "id long, vec array<double>").repartition(2),
                  local, mode="overwrite")
    url = "s3://bucket/wh/db1/trainrows"
    s3 = S3Options(endpoint=f"fake://{fake_s3}")
    res = build_index(url, "vec", "ivf_pq", spark=spark, id_col="id",
                      options=DatasetOptions(path=url, s3=s3, index_num_partitions=1,
                                             index_num_sub_vectors=2, index_num_bits=2))
    assert res.success, res.error
    metas = _kind_metas(url, "vec", s3.to_storage_options())
    assert metas["ivf"]["training_rows"] == SAMPLE_RATE
    assert metas["pq"]["training_rows"] == 300


def test_s3_index_meta_commits_last(fake_s3, spark):
    """Crash-safe remote build ordering (round-12 ADVICE): the meta
    (index_meta.json) is written LAST, so a build that died after writing
    the index files — simulated by deleting the meta — leaves has_index()
    False, searches falling back to exact brute force (not
    FileNotFoundError), and a re-build with replace=False SUCCEEDING
    instead of refusing against a half-index."""
    from flink_connector_lance_spark.index import (
        build_index,
        has_index,
        search_dataset,
    )
    from flink_connector_lance_spark.options import DatasetOptions

    rows = [(i, [float(i % 9), float(i % 4)]) for i in range(120)]
    df = spark.createDataFrame(rows, "id long, vec array<double>")
    local = os.path.join(fake_s3, "bucket", "wh", "db1", "crashidx")
    write_dataset(df, local, mode="overwrite")
    url = "s3://bucket/wh/db1/crashidx"
    s3 = S3Options(endpoint=f"fake://{fake_s3}")
    opts = DatasetOptions(path=url, s3=s3, index_num_partitions=4)
    assert build_index(url, "vec", "ivf_flat", spark=spark, id_col="id",
                       options=opts).success
    # simulate the crash window: centroids and assignments present,
    # the meta never written
    os.remove(os.path.join(local, "_indexes", "vec", "ivf",
                           "index_meta.json"))
    storage = s3.to_storage_options()
    assert not has_index(url, "vec", storage)
    got = search_dataset(spark, url, "vec", [1.0, 2.0], k=5, options=opts,
                         tiebreak_cols=["id"])
    assert got.count() == 5  # brute-force fallback, no crash
    rebuilt = build_index(url, "vec", "ivf_flat", spark=spark, id_col="id",
                          options=opts)  # replace=False must succeed
    assert rebuilt.success, rebuilt.error
    assert has_index(url, "vec", storage)


def test_s3_fts_index_end_to_end(fake_s3, spark):
    """The FTS inverted index lives ON object storage: postings build
    term-clustered under _indexes/<col>/fts, BM25 search IO stays
    O(query-term postings) through the remote pushdown reader,
    incremental refresh explodes only the appended fragments, the
    remote describe reports staleness, and run_maintenance refreshes a
    stale remote index — results identical to a local twin."""
    from flink_connector_lance_spark.sources.auto_maintenance import (
        MaintenancePolicy,
        run_maintenance,
    )
    from flink_connector_lance_spark.sources.fts import (
        create_fts_index,
        fts_search,
        refresh_fts_index,
    )
    from flink_connector_lance_spark.sources.maintenance import describe_dataset

    docs = [(i, f"alpha beta doc{i}" if i % 3 == 0 else f"beta gamma doc{i}")
            for i in range(30)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    local_twin = os.path.join(fake_s3, "_local_twin")
    write_dataset(df.coalesce(1), local_twin, mode="overwrite")
    create_fts_index(spark, local_twin, "text")

    url = "s3://bucket/wh/db1/fts"
    local = os.path.join(fake_s3, "bucket", "wh", "db1", "fts")
    write_dataset(df.coalesce(1), local, mode="overwrite")
    s3 = S3Options(endpoint=f"fake://{fake_s3}")
    storage = s3.to_storage_options()
    create_fts_index(spark, url, "text", s3=s3)

    want = [(r.doc_id, r.bm25) for r in
            fts_search(spark, local_twin, "alpha beta", k=5).collect()]
    got = [(r.doc_id, r.bm25) for r in
           fts_search(spark, url, "alpha beta", k=5, s3=s3).collect()]
    assert got == want and len(got) == 5

    # append -> stale -> incremental refresh (delta fragments only)
    extra = spark.createDataFrame(
        [(100 + i, "alpha alpha special") for i in range(4)],
        "doc_id long, text string")
    write_dataset(extra.coalesce(1), local, mode="append")
    desc = describe_dataset(url, storage_options=storage)
    assert desc["fts"] and desc["fts"][0]["pending_rows"] == 4
    r = refresh_fts_index(spark, url, "text", s3=s3)
    assert r["mode"] == "incremental" and r["delta_docs"] == 4
    top = fts_search(spark, url, "special", k=2, s3=s3).collect()
    assert {row.doc_id for row in top} <= {100, 101, 102, 103}

    # run_maintenance refreshes it once stale again
    write_dataset(spark.createDataFrame([(200, "omega unique")],
                                        "doc_id long, text string"),
                  local, mode="append")
    report = run_maintenance(
        spark, url,
        MaintenancePolicy(target_rows_per_fragment=1, keep_versions=None),
        s3=s3)
    by_name = {s["step"]: s for s in report["steps"]}
    assert by_name["refresh_fts:text"]["due"] is True
    assert by_name["refresh_fts:text"]["result"]["mode"] == "incremental"
    assert fts_search(spark, url, "omega", k=1, s3=s3).first().doc_id == 200


def test_s3_run_maintenance_orchestrates_remote_steps(fake_s3, spark):
    """run_maintenance works on s3:// datasets: compact and vacuum route
    to their executor-direct remote twins off the remote describe
    report; rollup/FTS/ANN refreshers enumerate remotely too (the index
    states are datasets under the table's key prefix)."""
    from flink_connector_lance_spark.sources.auto_maintenance import (
        MaintenancePolicy,
        run_maintenance,
    )

    local = os.path.join(fake_s3, "bucket", "wh", "db1", "mnt")
    url = "s3://bucket/wh/db1/mnt"
    s3 = S3Options(endpoint=f"fake://{fake_s3}")
    # three runt fragments -> compact is due under a tiny target
    df = spark.range(30).selectExpr("id", "id % 3 AS g")
    write_dataset(df.repartition(3), local, mode="overwrite")

    policy = MaintenancePolicy(target_rows_per_fragment=100,
                               keep_versions=1)
    dry = run_maintenance(spark, url, policy, dry_run=True, s3=s3)
    by_name = {s["step"]: s for s in dry["steps"]}
    assert by_name["compact"]["due"] is True
    assert len(FR.read_manifest_compat(
        url, storage_options=s3.to_storage_options()).fragments) == 3

    report = run_maintenance(spark, url, policy, s3=s3)
    by_name = {s["step"]: s for s in report["steps"]}
    assert "result" in by_name["compact"]
    assert "result" in by_name["vacuum"]
    mf = FR.read_manifest_compat(url,
                                 storage_options=s3.to_storage_options())
    assert len(mf.fragments) == 1 and sum(
        f.row_count for f in mf.fragments) == 30
    register_lance_datasource(spark)
    got = (spark.read.format("lance")
           .option("s3-endpoint", f"fake://{fake_s3}").load(url))
    assert got.count() == 30


def test_s3_format_writer_executor_direct_both_backends(fake_s3, spark):
    """df.write.format('lance').save('s3://…') — the spark-idiomatic
    spelling of the reference's S3 deployment — is executor-direct for
    BOTH backends: every fragment (and bloom sidecar) is PUT from a
    Spark worker process, the driver's only write is the conditional-PUT
    manifest commit, and append/overwrite/evolution contracts match the
    local format writer."""
    register_lance_datasource(spark)
    s3opt = ("s3-endpoint", f"fake://{fake_s3}")
    log = os.path.join(fake_s3, "_put_pids.log")

    # --- emulated (parquet-fragment) backend -------------------------
    url = "s3://bucket/wh/db1/fmtw"
    (spark.range(120).selectExpr("id", "id % 4 AS g").repartition(3)
     .write.format("lance").option(*s3opt)
     .option("write.bloom-columns", "id").mode("overwrite").save(url))
    puts = [ln.split() for ln in open(log).read().splitlines() if ln]
    frag_puts = [(p, k) for p, k in puts if "/fmtw/data/" in k]
    assert len(frag_puts) == 3
    assert all(int(p) != os.getpid() for p, _ in frag_puts), \
        "fragment bytes were uploaded by the driver process"
    data_dir = os.path.join(fake_s3, "bucket", "wh", "db1", "fmtw", "data")
    assert sum(n.endswith(".bloom.json") for n in os.listdir(data_dir)) == 3

    (spark.range(120, 150).selectExpr("id", "id % 4 AS g")
     .write.format("lance").option(*s3opt).mode("append").save(url))
    rd = spark.read.format("lance").option(*s3opt)
    assert rd.load(url).count() == 150
    assert rd.load(url).filter("g = 2").count() == 37  # pushdown intact
    # MVCC: the pre-append version still reads
    assert (spark.read.format("lance").option(*s3opt)
            .option("version", "0").load(url).count() == 120)
    # schema contract survives the remote path (orphans dropped on refuse)
    with pytest.raises(Exception, match="schema|column"):
        (spark.range(3).selectExpr("id AS zzz")
         .write.format("lance").option(*s3opt).mode("append").save(url))
    assert rd.load(url).count() == 150

    # --- native (binary) backend --------------------------------------
    nurl = "s3://bucket/wh/db1/fmtwn"
    (spark.range(40).selectExpr("id", "id % 3 AS g").repartition(2)
     .write.format("lance").option(*s3opt)
     .option("write.native-format", "true").mode("overwrite").save(nurl))
    from flink_connector_lance_spark.sources import lance_format as LF

    storage = S3Options(endpoint=f"fake://{fake_s3}").to_storage_options()
    assert LF.is_native_dataset(nurl, storage)
    (spark.range(40, 50).selectExpr("id", "id % 3 AS g").coalesce(1)
     .write.format("lance").option(*s3opt).mode("append").save(nurl))
    assert LF.native_count_rows(nurl, storage_options=storage) == 50
    got = spark.read.format("lance").option(*s3opt).load(nurl)
    assert sorted(r.id for r in got.collect()) == list(range(50))
    native_puts = [(p, k) for p, k in
                   (ln.split() for ln in open(log).read().splitlines() if ln)
                   if "/fmtwn/data/" in k]
    assert len(native_puts) == 3  # 2 overwrite tasks + 1 append task
    assert all(int(p) != os.getpid() for p, _ in native_puts)


def test_s3_streaming_format_writer_exactly_once(fake_s3, spark, tmp_path):
    """writeStream.format('lance') to s3://: each micro-batch appends one
    epoch-tagged manifest version (conditional PUT), fragments are PUT
    from worker processes, and a redelivered epoch commits nothing twice
    (the epoch tag rides inside the atomic manifest write)."""
    from flink_connector_lance_spark.sources.datasource import (
        FragmentCommitMessage,
        LanceDataSourceStreamWriter,
    )

    url = "s3://bucket/wh/db1/streamw"
    s3opt = ("s3-endpoint", f"fake://{fake_s3}")
    register_lance_datasource(spark)

    # real micro-batches through the streaming engine
    src = str(tmp_path / "src")
    spark.range(30).selectExpr("id", "id % 3 AS g").write.parquet(src)
    stream = (spark.readStream.schema("id long, g long").parquet(src)
              .writeStream.format("lance").option(*s3opt)
              .option("checkpointLocation", str(tmp_path / "ckpt"))
              .trigger(availableNow=True).start(url))
    stream.awaitTermination(120)
    rd = spark.read.format("lance").option(*s3opt)
    assert rd.load(url).count() == 30
    log = os.path.join(fake_s3, "_put_pids.log")
    frag_puts = [(p, k) for p, k in
                 (ln.split() for ln in open(log).read().splitlines() if ln)
                 if "/streamw/data/" in k]
    assert frag_puts and all(int(p) != os.getpid() for p, _ in frag_puts)

    # redelivery dedup: re-committing an already-committed epoch drops
    # the redelivered fragments instead of double-appending
    opts = {"path": url, "s3-endpoint": f"fake://{fake_s3}"}
    w = LanceDataSourceStreamWriter(opts)
    committed_epoch = 0  # availableNow ran batch 0
    assert w.write(iter([])).file is None  # empty task commits nothing
    # write one real fragment, then redeliver its epoch
    import pyarrow as pa

    batch = pa.record_batch({"id": pa.array([99], pa.int64()),
                             "g": pa.array([0], pa.int64())})
    m1 = w.write(iter([batch]))
    before = rd.load(url).count()
    w.commit([m1], committed_epoch)  # epoch 0 already committed -> dedup
    assert rd.load(url).count() == before  # nothing re-appended
    # and the orphaned fragment was deleted
    data_dir = os.path.join(fake_s3, "bucket", "wh", "db1", "streamw", "data")
    assert not os.path.exists(os.path.join(fake_s3, "bucket", "wh", "db1",
                                           "streamw", m1.file)) or \
        os.path.basename(m1.file) not in os.listdir(data_dir)


def test_s3_describe_dataset_both_backends(fake_s3, spark):
    """describe_dataset works on s3:// for both backends: versions, row
    and byte counts, schema, bloom coverage and clustering staleness come
    from the fs plane; ANN/FTS indexes and rollups are datasets under the
    table's key prefix, so a table without any reports [] (checked, none
    present), not None."""
    from flink_connector_lance_spark.options import DatasetOptions
    from flink_connector_lance_spark.sources.maintenance import (
        cluster_dataset,
        describe_dataset,
    )
    from flink_connector_lance_spark.sources.writer import (
        write_dataset,
        write_native_pure,
    )

    s3 = S3Options(endpoint=f"fake://{fake_s3}")
    storage = s3.to_storage_options()

    url = "s3://bucket/wh/db1/desc"
    opts = DatasetOptions(path=url, s3=s3, bloom_columns=["id"])
    write_dataset(spark.range(80).selectExpr("id", "id % 4 AS g")
                  .repartition(2), url, mode="overwrite", options=opts)
    cluster_dataset(spark, url, ["id"], 40, s3=s3)
    write_dataset(spark.range(80, 90).selectExpr("id", "id % 4 AS g")
                  .coalesce(1), url, mode="append", options=opts)
    rep = describe_dataset(url, storage_options=storage)
    assert rep["num_rows"] == 90 and rep["size_bytes"] > 0
    assert rep["versions"] == [0, 1, 2] and rep["version"] == 2
    assert rep["schema_columns"] == ["g", "id"]
    assert rep["bloom"]["columns"] == ["id"]
    # ANN/FTS/rollup states are all datasets under the table's key
    # prefix — a remote describe enumerates them ([] = checked, none)
    assert rep["indexes"] == []
    assert rep["fts"] == [] and rep["rollups"] == []
    assert rep["clustering"]["unclustered_rows"] == 10  # the tail append

    nurl = "s3://bucket/wh/db1/ndesc"
    write_native_pure(spark.range(25).selectExpr("id").coalesce(1), nurl,
                      mode="overwrite", options=DatasetOptions(path=nurl, s3=s3))
    nrep = describe_dataset(nurl, storage_options=storage)
    assert nrep["num_rows"] == 25 and nrep["num_fragments"] == 1
    assert nrep["size_bytes"] > 0 and nrep["schema_columns"] == ["id"]
    assert nrep["versions"] == [1]
    # deletion-vector debt is fs-plane derivable on remote datasets too
    from flink_connector_lance_spark.sources.maintenance import delete_rows

    delete_rows(spark, nurl, "id < 5", s3=s3, use_deletion_vectors=True)
    nrep2 = describe_dataset(nurl, storage_options=storage)
    assert nrep2["num_rows"] == 20 and nrep2["tombstoned_rows"] == 5


def test_s3_deletion_vector_delete(fake_s3, spark):
    """delete_rows(use_deletion_vectors=True) on an s3:// native dataset:
    the probe's tasks open fragments through fsspec, the driver PUTs
    only the tiny tombstone sidecars plus one conditional-PUT manifest —
    every data key byte-identical — and all remote read routes mask."""
    from flink_connector_lance_spark.options import DatasetOptions
    from flink_connector_lance_spark.sources import lance_format as LF
    from flink_connector_lance_spark.sources.maintenance import delete_rows
    from flink_connector_lance_spark.sources.writer import write_native_pure

    url = "s3://bucket/wh/db1/dv"
    s3 = S3Options(endpoint=f"fake://{fake_s3}")
    storage = s3.to_storage_options()
    write_native_pure(spark.range(300).selectExpr("id", "id % 3 AS g")
                      .repartition(2), url, mode="overwrite",
                      options=DatasetOptions(path=url, s3=s3))
    local = os.path.join(fake_s3, "bucket", "wh", "db1", "dv")
    keys_before = {n: os.path.getsize(os.path.join(local, "data", n))
                   for n in os.listdir(os.path.join(local, "data"))}

    m = delete_rows(spark, url, "id % 5 = 0", s3=s3,
                    use_deletion_vectors=True)
    assert sum(f.row_count for f in m.fragments) == 240
    # data keys untouched; tombstones PUT beside them
    assert {n: os.path.getsize(os.path.join(local, "data", n))
            for n in os.listdir(os.path.join(local, "data"))} == keys_before
    assert len(os.listdir(os.path.join(local, "_deletions"))) == 2
    assert LF.native_count_rows(url, storage_options=storage) == 240
    register_lance_datasource(spark)
    got = (spark.read.format("lance")
           .option("s3-endpoint", f"fake://{fake_s3}").load(url))
    assert got.count() == 240 and got.filter("id % 5 = 0").count() == 0
    # MVCC: the pre-delete version still reads in full
    assert (spark.read.format("lance")
            .option("s3-endpoint", f"fake://{fake_s3}")
            .option("version", "1").load(url).count() == 300)


def test_s3_append_to_pre_evolution_layout(fake_s3, spark):
    """Appending to a remote dataset whose manifest predates the
    recorded-schema convention derives the table schema from the first
    fragment's parquet footer over fsspec (previously a refusal)."""
    import json

    from flink_connector_lance_spark.options import DatasetOptions

    url = _make_remote_table(spark, fake_s3, table="prev", n=20)
    # strip the recorded schema to simulate the pre-evolution layout
    mpath = os.path.join(fake_s3, "bucket", "wh", "db1", "prev",
                         "_versions", "0.manifest.json")
    raw = json.load(open(mpath))
    raw["meta"].pop("schema", None)
    json.dump(raw, open(mpath, "w"))

    s3 = S3Options(endpoint=f"fake://{fake_s3}")
    m = write_dataset(spark.range(20, 25).selectExpr("id", "id % 4 AS g"),
                      url, mode="append",
                      options=DatasetOptions(path=url, s3=s3))
    assert m.version == 1
    register_lance_datasource(spark)
    got = (spark.read.format("lance")
           .option("s3-endpoint", f"fake://{fake_s3}").load(url))
    assert got.count() == 25
    # the footer-derived contract still refuses drift
    with pytest.raises(Exception, match="schema|column"):
        write_dataset(spark.range(3).selectExpr("id AS zz"), url,
                      mode="append", options=DatasetOptions(path=url, s3=s3))


def test_s3_ann_pq_hnsw_and_refresh(fake_s3, spark):
    """IVF_HNSW_PQ on s3://: one build_index call persists all three
    halves (IVF cells, PQ codebooks+codes, per-cell HNSW graphs) as
    engine datasets on object storage; search_dataset auto-routes the
    graph traversal; pq_search serves ADC+refine remotely; and
    refresh_index reads staleness from — and rebuilds into — the remote
    index plane."""
    from flink_connector_lance_spark.hnsw import has_hnsw_index
    from flink_connector_lance_spark.index import (
        build_index,
        refresh_index,
        search_dataset,
    )
    from flink_connector_lance_spark.options import DatasetOptions
    from flink_connector_lance_spark.pq import has_pq_index, pq_search

    rows = [(i, [float(i % 13), float((i * 7) % 11),
                 float(i % 5), float((i * 3) % 8)])
            for i in range(200)]
    df = spark.createDataFrame(rows, "id long, vec array<double>")
    local = os.path.join(fake_s3, "bucket", "wh", "db1", "annhp")
    write_dataset(df.repartition(2), local, mode="overwrite")
    url = "s3://bucket/wh/db1/annhp"
    s3 = S3Options(endpoint=f"fake://{fake_s3}")
    storage = s3.to_storage_options()
    opts = DatasetOptions(path=url, s3=s3, index_num_partitions=4,
                          index_num_sub_vectors=2, index_num_bits=4)

    res = build_index(url, "vec", "ivf_hnsw_pq", spark=spark, id_col="id",
                      options=opts)
    assert res.success, res.error
    assert has_pq_index(url, "vec", storage)
    assert has_hnsw_index(url, "vec", storage)

    q = [1.0, 2.0, 3.0, 4.0]
    exact = search_dataset(spark, url, "vec", q, k=8, use_index=False,
                           options=opts, tiebreak_cols=["id"],
                           round_digits=6)
    exact_ids = [r.id for r in exact.collect()]
    # auto-detect routes the HNSW graph; full probe + wide ef == exact
    auto = search_dataset(spark, url, "vec", q, k=8, nprobes=4, ef=200,
                          options=opts, tiebreak_cols=["id"],
                          round_digits=6)
    assert [r.id for r in auto.collect()] == exact_ids
    # the ADC+refine path serves remotely too (full probe, generous pool)
    pq_rows = pq_search(spark, url, "vec", q, k=8, refine_factor=25,
                        nprobes=4, tiebreak_cols=["id"], round_digits=6,
                        s3=s3).collect()
    assert [r.id for r in pq_rows] == exact_ids

    # staleness plane: append rows > max_uncovered_fraction and refresh
    extra = spark.createDataFrame(
        [(1000 + i, [9.0 + i, 9.0, 9.0, 9.0]) for i in range(100)],
        "id long, vec array<double>")
    write_dataset(extra.coalesce(1), local, mode="append")
    assert refresh_index(url, "vec", spark=spark, id_col="id",
                         max_uncovered_fraction=0.2,
                         options=opts) is not None
    # the rebuilt remote index covers the appended rows
    after = search_dataset(spark, url, "vec", [9.0, 9.0, 9.0, 9.0], k=3,
                           nprobes=4, ef=200, options=opts,
                           tiebreak_cols=["id"], round_digits=6).collect()
    assert all(r.id >= 1000 for r in after)


def test_s3_hnsw_search_takes_the_per_cell_route(fake_s3, spark):
    """HNSW search on s3:// runs the local plan: one MapInArrow task per
    probed cell, no cogroup; with nprobes=1 only the probed cell's graph
    and vector files are opened through the store; and the top-k equals
    that of the local build over the same rows."""
    from flink_connector_lance_spark.hnsw import build_hnsw_index, hnsw_search
    from flink_connector_lance_spark.index import (
        build_index,
        load_centroids,
        probe_cells,
    )
    from flink_connector_lance_spark.options import DatasetOptions

    rows = [(i, [float(i % 13), float((i * 7) % 11), float(i % 5)])
            for i in range(160)]
    df = spark.createDataFrame(rows, "id long, vec array<double>")
    twin = os.path.join(fake_s3, "_hnsw_twin")
    local = os.path.join(fake_s3, "bucket", "wh", "db1", "hnswroute")
    url = "s3://bucket/wh/db1/hnswroute"
    s3 = S3Options(endpoint=f"fake://{fake_s3}")
    storage = s3.to_storage_options()
    for path, opts in ((twin, DatasetOptions(path=twin, index_num_partitions=4)),
                       (url, DatasetOptions(path=url, s3=s3, index_num_partitions=4))):
        write_dataset(df.repartition(2), local if path == url else twin,
                      mode="overwrite")
        assert build_index(path, "vec", "ivf_flat", spark=spark, id_col="id",
                           options=opts).success
        build_hnsw_index(spark, path, "vec", m=4, ef_construction=16,
                         s3=opts.s3)

    q = [1.0, 2.0, 3.0]
    got = hnsw_search(spark, url, "vec", q, k=6, nprobes=2, ef=20,
                      tiebreak_cols=["id"], round_digits=6, s3=s3)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan and "FlatMapCoGroupsInPandas" not in plan, plan
    want = hnsw_search(spark, twin, "vec", q, k=6, nprobes=2, ef=20,
                       tiebreak_cols=["id"], round_digits=6)
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in want.collect()]

    cell = probe_cells(*load_centroids(url, "vec", storage), q, 1)[0]
    log = os.path.join(fake_s3, "_get_keys.log")
    open(log, "w").close()
    hnsw_search(spark, url, "vec", q, k=3, nprobes=1, s3=s3).collect()
    opened = {ln.split()[1] for ln in open(log).read().splitlines() if ln}
    cell_keys = {k for k in opened if ".parquet/cell=" in k}
    base = f"{url}/_indexes/vec/hnsw"
    assert cell_keys == {
        f"{base}/graph.parquet/cell={cell}/part-00000.parquet",
        f"{base}/vectors.parquet/cell={cell}/part-00000.parquet"}, cell_keys


def test_s3_run_maintenance_refreshes_remote_ann_index(fake_s3, spark):
    """run_maintenance on s3://: the remote describe enumerates the ANN
    index's staleness, the refresh step comes due past the unindexed
    threshold, and the rebuild lands back on the remote index plane."""
    from flink_connector_lance_spark.index import build_index, has_index
    from flink_connector_lance_spark.sources.auto_maintenance import (
        MaintenancePolicy,
        run_maintenance,
    )

    from flink_connector_lance_spark.options import DatasetOptions

    rows = [(i, [float(i % 7), float((i * 3) % 5)]) for i in range(60)]
    df = spark.createDataFrame(rows, "id long, vec array<double>")
    local = os.path.join(fake_s3, "bucket", "wh", "db1", "annmnt")
    url = "s3://bucket/wh/db1/annmnt"
    s3 = S3Options(endpoint=f"fake://{fake_s3}")
    write_dataset(df.coalesce(1), local, mode="overwrite")
    opts = DatasetOptions(path=url, s3=s3, index_num_partitions=3)
    assert build_index(url, "vec", "ivf_flat", spark=spark, id_col="id",
                       options=opts).success
    # append > threshold of the table's rows -> the index goes stale
    extra = spark.createDataFrame(
        [(100 + i, [9.0, 9.0]) for i in range(40)],
        "id long, vec array<double>")
    write_dataset(extra.coalesce(1), local, mode="append")

    policy = MaintenancePolicy(target_rows_per_fragment=1000,
                               keep_versions=None,
                               max_unindexed_fraction=0.2)
    report = run_maintenance(spark, url, policy, s3=s3)
    by_name = {s["step"]: s for s in report["steps"]}
    step = by_name["refresh_index:vec"]
    assert step["due"] is True and step["result"]["rebuilt"] is True
    # rebuilt index is fresh: zero unindexed rows on a re-describe
    from flink_connector_lance_spark.sources.maintenance import (
        describe_dataset,
    )

    rep = describe_dataset(url, storage_options=s3.to_storage_options())
    assert rep["indexes"][0]["unindexed_rows"] == 0
    assert has_index(url, "vec", s3.to_storage_options())


def test_s3_write_digests_and_verify_integrity(fake_s3, spark):
    """The executor-direct remote write stamps per-fragment sha256
    digests too, and verify_integrity hashes through the fsspec plane:
    green on untouched data, loud IntegrityError after one flipped byte
    in a remote fragment."""
    import pytest

    from flink_connector_lance_spark.options import DatasetOptions
    from flink_connector_lance_spark.sources import fragments as FR
    from flink_connector_lance_spark.sources.maintenance import (
        IntegrityError, verify_integrity)

    url = "s3://bucket/wh/db1/vi"
    s3 = S3Options(endpoint=f"fake://{fake_s3}")
    opts = DatasetOptions(path=url, s3=s3)
    storage = s3.to_storage_options()
    df = spark.range(30).selectExpr("id", "id % 4 AS g")
    m = write_dataset(df.repartition(2), url, mode="overwrite", options=opts)
    assert all((f.stats or {}).get(FR.DIGEST_STATS_KEY) for f in m.fragments)
    rep = verify_integrity(spark, url, storage_options=storage)
    assert rep["checked"] == len(m.fragments) and rep["mismatched"] == []
    # flip one byte in the backing file and re-verify (driver path)
    victim = os.path.join(fake_s3, "bucket", "wh", "db1", "vi",
                          m.fragments[0].file)
    with open(victim, "r+b") as fh:
        fh.seek(64)
        b = fh.read(1)
        fh.seek(64)
        fh.write(bytes([b[0] ^ 0x01]))
    with pytest.raises(IntegrityError, match="sha256"):
        verify_integrity(None, url, storage_options=storage)
