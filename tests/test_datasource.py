"""PySpark DataSource surface: spark.read.format("lance") /
df.write.format("lance") over the fragment dataset layer
(ref table/LanceDynamicTableFactory.java:52-237)."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from flink_connector_lance_spark.sources import fragments as FR
from flink_connector_lance_spark.sources.datasource import register_lance_datasource


@pytest.fixture()
def registered(spark):
    register_lance_datasource(spark)
    return spark


def _sample(spark):
    return spark.range(100).select(
        F.col("id"),
        (F.col("id") % 5).alias("grp"),
        F.concat(F.lit("row-"), F.col("id")).alias("name"),
    )


def test_format_write_then_read_roundtrip(registered, tmp_path):
    spark = registered
    path = str(tmp_path / "ds")
    _sample(spark).write.format("lance").mode("overwrite").save(path)
    assert FR.is_dataset(path)
    out = spark.read.format("lance").load(path)
    assert out.count() == 100
    assert set(out.columns) == {"id", "grp", "name"}
    assert out.agg(F.sum("id")).collect()[0][0] == sum(range(100))


def test_format_append_creates_new_version(registered, tmp_path):
    spark = registered
    path = str(tmp_path / "ds")
    _sample(spark).write.format("lance").mode("overwrite").save(path)
    _sample(spark).filter(F.col("grp") == 0).write.format("lance").mode("append").save(path)
    assert FR.latest_version(path) == 1
    assert spark.read.format("lance").load(path).count() == 120
    # time travel back to v0
    v0 = spark.read.format("lance").option("version", "0").load(path)
    assert v0.count() == 100


def test_format_read_filter_pushdown_prunes_rows(registered, tmp_path):
    spark = registered
    path = str(tmp_path / "ds")
    _sample(spark).repartition(4).write.format("lance").mode("overwrite").save(path)
    out = spark.read.format("lance").load(path).filter(
        (F.col("grp") == 2) & (F.col("id") >= 50)
    )
    rows = out.collect()
    assert len(rows) == 10
    assert all(r.grp == 2 and r.id >= 50 for r in rows)
    # unsupported predicates must stay residual and still be correct
    out2 = spark.read.format("lance").load(path).filter("id % 7 = 0")
    assert out2.count() == len([i for i in range(100) if i % 7 == 0])


def test_fragments_map_to_partitions(registered, tmp_path):
    spark = registered
    path = str(tmp_path / "ds")
    _sample(spark).repartition(4).write.format("lance").mode("overwrite").save(path)
    manifest = FR.read_manifest(path)
    assert len(manifest.fragments) == 4
    # one Spark task per fragment
    df = spark.read.format("lance").load(path)
    assert df.rdd.getNumPartitions() == 4


def test_empty_tasks_produce_no_fragments(registered, tmp_path):
    spark = registered
    path = str(tmp_path / "ds")
    # 8 partitions, only a few non-empty
    _sample(spark).filter(F.col("id") < 3).repartition(8).write.format(
        "lance"
    ).mode("overwrite").save(path)
    manifest = FR.read_manifest(path)
    assert sum(f.row_count for f in manifest.fragments) == 3
    assert all(f.row_count > 0 for f in manifest.fragments)
    # no orphan files beyond the manifest
    data_files = {
        os.path.join(FR.DATA_DIR, n)
        for n in os.listdir(os.path.join(path, FR.DATA_DIR))
    }
    assert {f.file for f in manifest.fragments} == data_files


def test_stream_write_format_lance(registered, tmp_path):
    """writeStream.format('lance'): one version per micro-batch,
    exactly-once via the stream_epoch commit metadata."""
    import pyspark.sql.functions as F

    spark = registered
    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    spark.range(50).select("id", (F.col("id") % 3).alias("g")).write.parquet(src)

    def run():
        q = (
            spark.readStream.schema("id bigint, g bigint").parquet(src)
            .writeStream.format("lance")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    assert FR.is_dataset(out)
    first = spark.read.format("lance").load(out)
    assert first.count() == 50
    m0 = FR.read_manifest(out)
    assert m0.meta.get("stream_epoch") == 0

    # more data arrives; the next run appends a new epoch-tagged version
    spark.range(50, 80).select("id", (F.col("id") % 3).alias("g")).write.mode(
        "append"
    ).parquet(src)
    run()
    assert spark.read.format("lance").load(out).count() == 80
    assert FR.read_manifest(out).meta.get("stream_epoch") == 1
    # no duplicate rows on either path
    assert spark.read.format("lance").load(out).select("id").distinct().count() == 80


def test_stream_writer_redelivered_epoch_is_noop(registered, tmp_path):
    from flink_connector_lance_spark.sources.datasource import (
        LanceDataSourceStreamWriter,
    )

    spark = registered
    path = str(tmp_path / "ds")
    _sample(spark).write.format("lance").mode("overwrite").save(path)
    before = FR.read_manifest(path)

    # simulate an executor having written a fragment for an already-
    # committed epoch (restart window): commit must drop it, not append
    w = LanceDataSourceStreamWriter({"path": path})
    import pyarrow as pa

    batch = pa.RecordBatch.from_pydict(
        {"id": [1, 2], "grp": [1, 2], "name": ["row-1", "row-2"]})
    msg = w.write(iter([batch]))
    w.commit([msg], batchId=0)          # first delivery: committed
    mid = FR.read_manifest(path)
    assert mid.version == before.version + 1 and mid.meta["stream_epoch"] == 0

    msg2 = w.write(iter([batch]))
    w.commit([msg2], batchId=0)         # redelivery: no-op + orphan cleanup
    after = FR.read_manifest(path)
    assert after.version == mid.version
    assert not os.path.exists(os.path.join(path, msg2.file))


def test_zone_map_prunes_fragments_at_planning_time(registered, tmp_path):
    """Manifest zone maps: range-disjoint fragments are dropped by
    partitions() before any task is scheduled, and results stay exact."""
    from flink_connector_lance_spark.sources.datasource import (
        EqualTo,
        GreaterThan,
        IsNull,
        LanceDataSourceReader,
    )

    spark = registered
    path = str(tmp_path / "ds")
    # 4 range-disjoint fragments on id: [0,25) [25,50) [50,75) [75,100)
    _sample(spark).repartitionByRange(4, "id").write.format("lance").mode(
        "overwrite"
    ).save(path)
    manifest = FR.read_manifest(path)
    assert len(manifest.fragments) == 4
    assert all(f.stats and "id" in f.stats for f in manifest.fragments)

    def planned(filters):
        r = LanceDataSourceReader({"path": path})
        r.pushFilters(list(filters))
        return r.partitions()

    assert len(planned([])) == 4
    assert len(planned([EqualTo(("id",), 30)])) == 1
    assert len(planned([GreaterThan(("id",), 74)])) == 1
    assert len(planned([EqualTo(("id",), 1000)])) == 0  # all pruned
    assert len(planned([IsNull(("id",))])) == 0  # null_count == 0 everywhere
    # string zone maps prune too (name is row-<id>, lexicographic ranges)
    assert len(planned([EqualTo(("name",), "row-99")])) < 4

    # end-to-end: pruned plans still return exact answers, incl. all-pruned
    df = spark.read.format("lance").load(path)
    assert df.filter(F.col("id") == 30).count() == 1
    assert df.filter(F.col("id") == 1000).count() == 0
    assert df.filter(F.col("id").isNull()).count() == 0


def test_zone_map_pruning_is_conservative():
    """Unit: _fragment_may_match keeps fragments whenever it cannot
    decide (missing stats, unknown column, incomparable types)."""
    from flink_connector_lance_spark.sources.datasource import (
        EqualTo,
        GreaterThanOrEqual,
        In,
        IsNotNull,
        LessThan,
        LessThanOrEqual,
        _fragment_may_match,
    )

    s = {"x": {"min": 10, "max": 20, "null_count": 0}}
    assert _fragment_may_match(None, 5, EqualTo(("x",), 1))  # no stats
    assert _fragment_may_match(s, 5, EqualTo(("y",), 1))  # untracked col
    assert _fragment_may_match(s, 5, EqualTo(("x",), "str"))  # type mismatch
    assert _fragment_may_match(s, 5, EqualTo(("a", "b"), 1))  # nested ref
    assert not _fragment_may_match(s, 5, EqualTo(("x",), 9))
    assert not _fragment_may_match(s, 5, LessThan(("x",), 10))
    assert _fragment_may_match(s, 5, LessThanOrEqual(("x",), 10))
    assert not _fragment_may_match(s, 5, GreaterThanOrEqual(("x",), 21))
    assert _fragment_may_match(s, 5, In(("x",), (1, 15)))
    assert not _fragment_may_match(s, 5, In(("x",), (1, 2)))
    assert _fragment_may_match(s, 5, IsNotNull(("x",)))
    # all-null column: IsNotNull prunes
    s2 = {"x": {"min": 1, "max": 1, "null_count": 5}}
    assert not _fragment_may_match(s2, 5, IsNotNull(("x",)))


def test_old_manifest_without_stats_still_reads(registered, tmp_path):
    """Manifests written before zone maps (no 'stats' key) load and scan."""
    import json

    spark = registered
    path = str(tmp_path / "ds")
    _sample(spark).write.format("lance").mode("overwrite").save(path)
    mpath = os.path.join(path, FR.VERSIONS_DIR, "0.manifest.json")
    with open(mpath) as fh:
        raw = json.load(fh)
    for f in raw["fragments"]:
        f.pop("stats", None)
    with open(mpath, "w") as fh:
        json.dump(raw, fh)
    df = spark.read.format("lance").load(path)
    assert df.filter(F.col("id") < 10).count() == 10  # pruning disabled, not broken


def test_stream_read_tails_appended_versions(registered, tmp_path):
    """readStream.format('lance'): version = offset; each micro-batch
    delivers exactly the fragments added since the checkpointed version,
    across query restarts."""
    spark = registered
    path = str(tmp_path / "ds")
    _sample(spark).write.format("lance").option("path", path).mode("overwrite").save()

    seen: list = []

    def fold(batch_df, epoch_id):
        seen.extend(r["id"] for r in batch_df.collect())

    def run_until(expected_total):
        # availableNow: process every committed version then stop
        # GRACEFULLY — a polling loop + q.stop() could kill the query
        # between foreachBatch and the checkpoint commit, and the
        # restart would legitimately redeliver that batch (at-least-once
        # by design); the deterministic trigger removes the race instead
        # of papering over it with a bigger timeout
        q = (
            spark.readStream.format("lance").option("path", path).load()
            .writeStream.foreachBatch(fold)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    run_until(100)
    assert sorted(seen) == list(range(100))

    # append while the stream is DOWN; the restarted query resumes from
    # the checkpointed version and delivers only the new rows
    spark.range(100, 130).selectExpr(
        "id", "id % 5 AS grp", "concat('row-', id) AS name"
    ).write.format("lance").option("path", path).mode("append").save()
    run_until(130)
    assert sorted(seen) == list(range(130))
    assert len(seen) == 130  # no re-delivery of the first version


def test_nan_rows_survive_pushed_float_filters(spark, tmp_path):
    """Spark orders NaN above every value (NaN > v, NaN = NaN, NaN != v
    are TRUE; its own parquet scan returns the NaN row under x > 3), so
    GreaterThan[OrEqual]/Not(EqualTo) on float columns and NaN literals
    must stay RESIDUAL — accepting them into pyarrow compute (where NaN
    comparisons are null) silently dropped those rows. LessThan and
    non-NaN equality agree across both systems and stay pushed."""
    import math

    from flink_connector_lance_spark.sources.datasource import (
        register_lance_datasource,
    )

    register_lance_datasource(spark)
    for fmt, root in (("emulated", str(tmp_path / "em")),
                      ("native", str(tmp_path / "na"))):
        df = spark.createDataFrame(
            [(1, 1.5), (2, float("nan")), (3, 2.5)], "id long, x double")
        if fmt == "emulated":
            df.write.format("lance").mode("append").save(root)
        else:
            from flink_connector_lance_spark.sources.writer import (
                write_native_pure,
            )

            write_native_pure(df.coalesce(1), root, mode="append")
        r = spark.read.format("lance").load(root)
        assert [x.id for x in r.filter("x > 3.0").collect()] == [2], fmt
        assert [x.id for x in r.filter("x >= 3.0").collect()] == [2], fmt
        got = sorted(x.id for x in r.filter("x != 1.5").collect())
        assert got == [2, 3], fmt
        assert [x.id for x in r.filter("x = double('NaN')").collect()] == [2], fmt
        # the agreeing shapes still push and still answer correctly
        assert sorted(x.id for x in r.filter("x < 2.0").collect()) == [1], fmt
        assert [x.id for x in r.filter("x = 2.5").collect()] == [3], fmt
        # fresh load: a zero-pushable-filter query on a REUSED DataFrame
        # would hit the upstream plan-cache defect pinned by
        # test_upstream_plan_cache_poisoning_symptom below
        fresh = spark.read.format("lance").load(root)
        total = fresh.filter("x <= double('Infinity') OR isnan(x)").count()
        assert total == 3, fmt


def test_same_dataframe_reuse_plan_cache(spark, tmp_path):
    """Upstream PySpark defect (Python data sources + filter pushdown):
    the pushdown planning worker's (readFunc, partitions) OVERWRITES the
    DataFrame leaf's cached read plan, and a later query on the SAME
    DataFrame with no pushable filters skips re-planning and reuses the
    poisoned scan — df.filter(...).collect() followed by df.count()
    returns the filtered count. Not our reader's state: the worker
    builds a fresh reader per planning (pyspark/sql/worker/
    data_source_pushdown_filters.py) and our pushFilters replaces
    rather than appends. A fresh load() per query is a zero-cost
    workaround (schema comes from one manifest read), which this test
    pins; the strict xfail below trips when upstream fixes the reuse so
    the caveat can be dropped."""
    import pytest as _pytest

    from flink_connector_lance_spark.sources.datasource import (
        register_lance_datasource,
    )

    register_lance_datasource(spark)
    root = str(tmp_path / "reuse")
    spark.range(3).selectExpr("id", "CAST(id AS DOUBLE) AS x") \
        .write.format("lance").mode("append").save(root)
    df = spark.read.format("lance").load(root)
    assert [r.id for r in df.filter("x = 2.0").collect()] == [2]
    # workaround: a fresh load is never poisoned
    assert spark.read.format("lance").load(root).count() == 3
    # upstream symptom (strict: starts failing the day Spark fixes it)
    if df.count() == 3:
        _pytest.fail(
            "upstream fixed the Python-datasource plan-cache reuse: "
            "drop the fresh-load caveat from README/datasource docstring "
            "and fold this test into the pushdown suite")


def test_read_verify_integrity_option(registered, tmp_path):
    """read.verify-integrity=true hashes every fragment against its
    write-time sha256 INSIDE the scan task before decoding: clean data
    reads normally; a flipped byte fails the scan loudly (IntegrityError
    surfaced through the task); a fragment without a stamp (foreign
    writer) skips. Composes with split packing (digests ride the pack
    alignment)."""
    import json

    path = str(tmp_path / "vds")
    _sample(spark := registered).repartition(3).write.format("lance") \
        .mode("overwrite").save(path)
    rd = (spark.read.format("lance")
          .option("read.verify-integrity", "true"))
    assert rd.load(path).count() == 100
    # packed variant: digests align with (file, *packed_files)
    assert (rd.option("read.max-rows-per-partition", "100")
            .load(path).count() == 100)

    # flip one byte -> the scan itself fails loudly
    m = FR.read_manifest(path)
    victim = os.path.join(path, m.fragments[0].file)
    with open(victim, "r+b") as fh:
        fh.seek(50)
        b = fh.read(1)
        fh.seek(50)
        fh.write(bytes([b[0] ^ 0x40]))
    with pytest.raises(Exception, match="sha256|IntegrityError"):
        rd.load(path).count()
    # restore the byte, then strip the digests from the manifest: a
    # fragment without a stamp (foreign writer) skips the check and
    # reads normally even with the option ON
    with open(victim, "r+b") as fh:
        fh.seek(50)
        b = fh.read(1)
        fh.seek(50)
        fh.write(bytes([b[0] ^ 0x40]))
    v = FR.latest_version(path)
    mp = os.path.join(path, "_versions", f"{v}.manifest.json")
    raw = json.load(open(mp))
    for f in raw["fragments"]:
        (f.get("stats") or {}).pop(FR.DIGEST_STATS_KEY, None)
    json.dump(raw, open(mp, "w"))
    assert rd.load(path).count() == 100  # no stamp -> cannot check, skips


def test_timestamp_ntz_column_reads_and_filters(registered, tmp_path):
    """A TIMESTAMP_NTZ column reads and filters through format("lance")
    exactly as ``read_dataset`` reads it."""
    import datetime as dt

    from flink_connector_lance_spark.sources.reader import read_dataset
    from flink_connector_lance_spark.sources.writer import write_dataset

    root = str(tmp_path / "ntz")
    df = registered.createDataFrame(
        [(i, dt.datetime(1995, 1, 2) + dt.timedelta(days=37 * i)) for i in range(40)],
        "id long, shipdate timestamp_ntz")
    write_dataset(df.repartition(3), root, "append")
    cutoff = F.lit("1996-06-01").cast("timestamp_ntz")

    got = registered.read.format("lance").load(root)
    assert dict(got.dtypes)["shipdate"] == "timestamp_ntz"
    want = read_dataset(registered, root)
    assert sorted(got.collect()) == sorted(want.collect())
    got_f = sorted(got.filter(F.col("shipdate") < cutoff).collect())
    want_f = sorted(want.filter(F.col("shipdate") < cutoff).collect())
    assert got_f == want_f and 0 < len(got_f) < 40
