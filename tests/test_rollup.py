"""Incremental materialized rollups (sources/rollup.py): version-delta
refresh semantics — incremental on append, full on rewrite, noop on no
change — and partial-state algebra (COUNT/SUM/MIN/MAX/AVG merge)."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from flink_connector_lance_spark.sources import fragments as FR
from flink_connector_lance_spark.sources.rollup import (
    create_rollup,
    read_rollup,
    refresh_rollup,
    rollup_status,
)
from flink_connector_lance_spark.sources.writer import write_dataset


def _base(spark, n=100, offset=0):
    return spark.range(offset, offset + n).select(
        F.col("id"),
        (F.col("id") % 3).cast("string").alias("grp"),
        (F.col("id") * 2).alias("val"),
    )


AGGS = {
    "cnt": "count",
    "sum_val": ("sum", "val"),
    "min_val": ("min", "val"),
    "max_val": ("max", "val"),
    "avg_val": ("avg", "val"),
}


def _expected(spark, df):
    return {
        r.grp: r
        for r in df.groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("val").alias("sum_val"),
            F.min("val").alias("min_val"),
            F.max("val").alias("max_val"),
            F.avg("val").alias("avg_val"),
        )
        .collect()
    }


def _got(spark, path):
    return {r.grp: r for r in read_rollup(spark, path, "by_grp").collect()}


def test_create_then_read_matches_direct_aggregate(spark, tmp_path):
    path = str(tmp_path / "t")
    df = _base(spark)
    write_dataset(df, path, mode="overwrite")
    res = create_rollup(spark, path, "by_grp", ["grp"], AGGS)
    assert res["covered_fragments"] >= 1
    exp, got = _expected(spark, df), _got(spark, path)
    assert set(got) == set(exp)
    for g in exp:
        for c in AGGS:
            assert got[g][c] == pytest.approx(exp[g][c])


def test_append_refresh_is_incremental_and_correct(spark, tmp_path):
    path = str(tmp_path / "t")
    write_dataset(_base(spark), path, mode="overwrite")
    create_rollup(spark, path, "by_grp", ["grp"], AGGS)
    write_dataset(_base(spark, n=50, offset=1000), path, mode="append")
    st = rollup_status(path, "by_grp")
    assert st["pending_rows"] == 50 and not st["needs_full"]
    res = refresh_rollup(spark, path, "by_grp")
    assert res["mode"] == "incremental"
    assert res["delta_rows"] == 50
    union = _base(spark).unionByName(_base(spark, n=50, offset=1000))
    exp, got = _expected(spark, union), _got(spark, path)
    for g in exp:
        for c in AGGS:
            assert got[g][c] == pytest.approx(exp[g][c])


def test_noop_when_nothing_changed(spark, tmp_path):
    path = str(tmp_path / "t")
    write_dataset(_base(spark), path, mode="overwrite")
    create_rollup(spark, path, "by_grp", ["grp"], AGGS)
    assert refresh_rollup(spark, path, "by_grp")["mode"] == "noop"


def test_rewrite_falls_back_to_full(spark, tmp_path):
    from flink_connector_lance_spark.sources.maintenance import delete_rows

    path = str(tmp_path / "t")
    write_dataset(_base(spark), path, mode="overwrite")
    create_rollup(spark, path, "by_grp", ["grp"], AGGS)
    delete_rows(spark, path, "id < 10")  # rewrites the covered fragment
    st = rollup_status(path, "by_grp")
    assert st["needs_full"]
    res = refresh_rollup(spark, path, "by_grp")
    assert res["mode"] == "full"
    exp = _expected(spark, _base(spark).filter("id >= 10"))
    got = _got(spark, path)
    for g in exp:
        for c in AGGS:
            assert got[g][c] == pytest.approx(exp[g][c])


def test_multiple_incremental_refreshes_compose(spark, tmp_path):
    path = str(tmp_path / "t")
    write_dataset(_base(spark), path, mode="overwrite")
    create_rollup(spark, path, "by_grp", ["grp"], AGGS)
    for i in range(3):
        write_dataset(_base(spark, n=30, offset=2000 + i * 100), path, mode="append")
        assert refresh_rollup(spark, path, "by_grp")["mode"] == "incremental"
    full = _base(spark)
    for i in range(3):
        full = full.unionByName(_base(spark, n=30, offset=2000 + i * 100))
    exp, got = _expected(spark, full), _got(spark, path)
    for g in exp:
        for c in AGGS:
            assert got[g][c] == pytest.approx(exp[g][c])


def test_count_distinct_refused(spark, tmp_path):
    path = str(tmp_path / "t")
    write_dataset(_base(spark), path, mode="overwrite")
    with pytest.raises(ValueError, match="COUNT DISTINCT|unsupported"):
        create_rollup(spark, path, "bad", ["grp"], {"d": ("count_distinct", "val")})


def test_avg_needs_source_column(spark, tmp_path):
    path = str(tmp_path / "t")
    write_dataset(_base(spark), path, mode="overwrite")
    with pytest.raises(ValueError, match="needs a source column"):
        create_rollup(spark, path, "bad", ["grp"], {"a": ("avg", None)})


def test_refresh_reads_only_delta_fragments(spark, tmp_path, monkeypatch):
    """The incremental path must read ONLY delta fragments: spy on the
    fragment-file scans the refresh issues against the SOURCE table and
    assert none of the originally covered files is touched."""
    import flink_connector_lance_spark.sources.rollup as R

    path = str(tmp_path / "t")
    write_dataset(_base(spark, n=1000), path, mode="overwrite")
    create_rollup(spark, path, "by_grp", ["grp"], AGGS)
    covered_abs = {
        f"{path}/{f.file}" for f in FR.read_manifest(path).fragments
    }
    write_dataset(_base(spark, n=10, offset=5000), path, mode="append")

    scanned: list[list[str]] = []
    real = R._file_scan

    def spy(spark_, path_, manifest, s3=None, files=None, **kw):
        names = files if files is not None else [f.file for f in manifest.fragments]
        scanned.append([f"{path_}/{f}" for f in names])
        return real(spark_, path_, manifest, s3, files=files, **kw)

    monkeypatch.setattr(R, "_file_scan", spy)
    res = refresh_rollup(spark, path, "by_grp")
    assert res["mode"] == "incremental" and res["delta_rows"] == 10
    # exactly one source-table scan, and it names ONLY the delta files
    assert len(scanned) == 1
    assert not (set(scanned[0]) & covered_abs), "refresh rescanned covered data"
    # state survives and a further noop confirms covered bookkeeping
    assert refresh_rollup(spark, path, "by_grp")["mode"] == "noop"
    assert {os.path.basename(f) for f in scanned[0]} <= {
        os.path.basename(f.file) for f in FR.read_manifest(path).fragments
    }


def test_approx_distinct_rollup_stays_incremental_and_matches_full_scan(spark, tmp_path):
    """HLL-sketch approx distinct: the partial states union losslessly,
    so N incremental refreshes give the SAME estimate as one full scan —
    and the estimate is exact at these cardinalities."""
    path = str(tmp_path / "t")
    aggs = {"cnt": "count", "d_val": ("approx_distinct", "val")}
    write_dataset(_base(spark), path, mode="overwrite")
    create_rollup(spark, path, "by_grp", ["grp"], aggs)
    for i in range(2):
        # overlapping val ranges so the distinct count is NOT the row count
        write_dataset(_base(spark, n=50, offset=i * 25), path, mode="append")
        assert refresh_rollup(spark, path, "by_grp")["mode"] == "incremental"
    full = _base(spark).unionByName(_base(spark, n=50)).unionByName(
        _base(spark, n=50, offset=25))
    exp = {r.grp: r.d for r in full.groupBy("grp")
           .agg(F.count_distinct("val").alias("d")).collect()}
    got = {r.grp: r.d_val for r in read_rollup(spark, path, "by_grp").collect()}
    assert set(got) == set(exp)
    for g in exp:  # HLL is exact far below its sketch resolution
        assert got[g] == exp[g]


def test_exact_count_distinct_still_refused_pointing_at_sketch(spark, tmp_path):
    path = str(tmp_path / "t")
    write_dataset(_base(spark), path, mode="overwrite")
    with pytest.raises(ValueError, match="approx_distinct"):
        create_rollup(spark, path, "bad", ["grp"], {"d": ("count_distinct", "val")})


def test_refresh_vacuums_rollup_state_versions(spark, tmp_path):
    """High-frequency refreshers opt into state vacuuming (the streaming
    sink and auto-maintenance pass vacuum_keep_versions=2); the default
    keeps every state version so one-off callers retain time travel."""
    from flink_connector_lance_spark.sources.rollup import rollup_path

    path = str(tmp_path / "t")
    write_dataset(_base(spark), path, mode="overwrite")
    create_rollup(spark, path, "by_grp", ["grp"], AGGS)
    rp = rollup_path(path, "by_grp")
    for i in range(2):  # default: versions accumulate (opt-in vacuum)
        write_dataset(_base(spark, n=10, offset=8000 + i * 10), path, mode="append")
        assert refresh_rollup(spark, path, "by_grp")["mode"] == "incremental"
    assert len(os.listdir(os.path.join(rp, FR.VERSIONS_DIR))) == 3
    for i in range(4):
        write_dataset(_base(spark, n=10, offset=9000 + i * 10), path, mode="append")
        assert refresh_rollup(spark, path, "by_grp",
                              vacuum_keep_versions=2)["mode"] == "incremental"
    manifests = os.listdir(os.path.join(rp, FR.VERSIONS_DIR))
    assert len(manifests) <= 2, f"rollup state versions grew unbounded: {manifests}"
    # dead state fragments are collected too: every data file is referenced
    live = {f.file for v in manifests
            for f in FR.read_manifest(rp, int(v.split(".")[0])).fragments}
    on_disk = {os.path.join(FR.DATA_DIR, n)
               for n in os.listdir(os.path.join(rp, FR.DATA_DIR))}
    assert on_disk <= {f for f in live} | {f + ".bloom" for f in live}
    # and the state still reads correctly after vacuuming
    assert refresh_rollup(spark, path, "by_grp")["mode"] == "noop"
    assert len(_got(spark, path)) == 3


def test_streaming_ingestion_keeps_rollup_fresh(spark, tmp_path):
    """Streaming materialized view: each epoch appends + incrementally
    refreshes the rollup, so the view tracks the stream exactly."""
    from flink_connector_lance_spark.streaming.sink import stream_write_dataset

    src = str(tmp_path / "incoming")
    path = str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    # seed the dataset + rollup with an initial batch (histogram rides
    # along: the per-epoch refresh merges its bins incrementally too)
    write_dataset(_base(spark, n=60), path, mode="overwrite")
    create_rollup(spark, path, "by_grp", ["grp"],
                  {**AGGS, "h": ("histogram", "val", 0, 2500, 25)})

    spark.createDataFrame(
        [(i, str(i % 3), i * 2) for i in range(1000, 1040)],
        "id long, grp string, val long",
    ).coalesce(1).write.mode("overwrite").parquet(src + "/b1")
    q = stream_write_dataset(
        spark.readStream.schema("id long, grp string, val long").parquet(src + "/*"),
        path, ckpt, trigger_available_now=True, refresh_rollups=True,
    )
    q.awaitTermination(120)

    assert rollup_status(path, "by_grp")["pending_rows"] == 0  # fresh
    streamed = spark.createDataFrame(
        [(i, str(i % 3), i * 2) for i in range(1000, 1040)],
        "id long, grp string, val long",
    )
    # _base uses grp = (id % 3) cast string, so the union is comparable
    all_rows = _base(spark, n=60).unionByName(streamed)
    exp = _expected(spark, all_rows)
    got = _got(spark, path)
    assert set(got) == set(exp)
    for g in exp:
        for c in AGGS:
            assert got[g][c] == pytest.approx(exp[g][c])
    hist_exp = {r.grp: r.vs for r in all_rows.groupBy("grp")
                .agg(F.collect_list("val").alias("vs")).collect()}
    for g, vals in hist_exp.items():
        assert list(got[g].h) == _hist_exact(vals, 0, 2500, 25), g


# --- histogram aggregate: exact fixed-bin counts, element-wise-sum merge ---

def _hist_exact(rows, lo, hi, bins):
    w = (hi - lo) / bins
    counts = [0] * bins
    for v in rows:
        counts[min(max(int((v - lo) // w), 0), bins - 1)] += 1
    return counts


def test_histogram_create_refresh_matches_full_scan(spark, tmp_path):
    """Incremental histogram state after appends equals the exact
    full-scan histogram bin for bin (counts are exact, merge lossless)."""
    path = str(tmp_path / "t")
    write_dataset(_base(spark), path, mode="overwrite")
    create_rollup(spark, path, "by_grp", ["grp"],
                  {"h": ("histogram", "val", 0, 400, 8)})
    for i in range(2):
        write_dataset(_base(spark, n=60, offset=500 + 300 * i), path, mode="append")
        assert refresh_rollup(spark, path, "by_grp")["mode"] == "incremental"
    got = {r.grp: list(r.h) for r in read_rollup(spark, path, "by_grp").collect()}
    all_rows = (_base(spark).unionByName(_base(spark, n=60, offset=500))
                .unionByName(_base(spark, n=60, offset=800)))
    for g, vals in {r.grp: r.vs for r in all_rows.groupBy("grp")
                    .agg(F.collect_list("val").alias("vs")).collect()}.items():
        # out-of-range values (val up to 1718 > hi=400) clamp to the last
        # bin, so every non-null row is accounted for
        assert got[g] == _hist_exact(vals, 0, 400, 8), g
        assert sum(got[g]) == len(vals)


def test_histogram_nulls_count_no_bin(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.range(20).select(
        F.lit("a").alias("grp"),
        F.when(F.col("id") % 4 == 0, None).otherwise(F.col("id")).alias("val"))
    write_dataset(df, path, mode="overwrite")
    create_rollup(spark, path, "by_grp", ["grp"],
                  {"h": ("histogram", "val", 0, 20, 4)})
    [row] = read_rollup(spark, path, "by_grp").collect()
    assert sum(row.h) == 15  # 5 of 20 are NULL


def test_histogram_quantile_estimate_within_bin_width(spark, tmp_path):
    from flink_connector_lance_spark.sources.rollup import quantile_from_histogram

    path = str(tmp_path / "t")
    df = spark.range(1000).select(F.lit("a").alias("grp"), F.col("id").alias("val"))
    write_dataset(df, path, mode="overwrite")
    create_rollup(spark, path, "by_grp", ["grp"],
                  {"h": ("histogram", "val", 0, 1000, 50)})
    [row] = read_rollup(spark, path, "by_grp").collect()
    for p, exact in ((0.0, 0.0), (0.5, 500.0), (0.9, 900.0), (1.0, 1000.0)):
        est = quantile_from_histogram(list(row.h), 0, 1000, p)
        assert abs(est - exact) <= 20.0 + 1, (p, est)  # one bin width
    assert quantile_from_histogram([0, 0], 0, 10, 0.5) is None
    with pytest.raises(ValueError, match="p must be"):
        quantile_from_histogram([1], 0, 10, 1.5)


def test_histogram_validation(spark, tmp_path):
    path = str(tmp_path / "t")
    write_dataset(_base(spark), path, mode="overwrite")
    with pytest.raises(ValueError, match="needs .col, lo, hi, bins."):
        create_rollup(spark, path, "h1", ["grp"], {"h": ("histogram", "val")})
    with pytest.raises(ValueError, match="lo must be < hi"):
        create_rollup(spark, path, "h2", ["grp"],
                      {"h": ("histogram", "val", 5, 5, 4)})
    with pytest.raises(ValueError, match="bins must be in"):
        create_rollup(spark, path, "h3", ["grp"],
                      {"h": ("histogram", "val", 0, 10, 100000)})
    with pytest.raises(ValueError, match="takes no extra parameters"):
        create_rollup(spark, path, "h4", ["grp"], {"h": ("sum", "val", 1)})


def test_histogram_full_rebuild_after_rewrite(spark, tmp_path):
    """A rewrite (DELETE) forces the full path and the histogram reflects
    the post-delete distribution exactly."""
    from flink_connector_lance_spark.sources.maintenance import delete_rows

    path = str(tmp_path / "t")
    write_dataset(_base(spark), path, mode="overwrite")
    create_rollup(spark, path, "by_grp", ["grp"],
                  {"h": ("histogram", "val", 0, 200, 10)})
    delete_rows(spark, path, "val >= 100")
    assert refresh_rollup(spark, path, "by_grp")["mode"] == "full"
    got = {r.grp: list(r.h) for r in read_rollup(spark, path, "by_grp").collect()}
    kept = _base(spark).filter("val < 100")
    for g, vals in {r.grp: r.vs for r in kept.groupBy("grp")
                    .agg(F.collect_list("val").alias("vs")).collect()}.items():
        assert got[g] == _hist_exact(vals, 0, 200, 10), g


# --- pre-transform rollups: the incrementally-maintained inverted index ---

def _docs(spark, n=30, offset=0):
    # each doc: 'w<id%7> w<id%5> common' — overlapping term sets
    return spark.range(offset, offset + n).selectExpr(
        "id AS doc_id",
        "concat('w', id % 7, ' w', id % 5, ' common') AS text",
    )


_TERM_XFORM = ["explode(split(text, ' ')) AS term"]


def _term_df(spark, df):
    return {
        r.term: r.df
        for r in df.selectExpr(*_TERM_XFORM).groupBy("term")
        .agg(F.count(F.lit(1)).alias("df")).collect()
    }


def test_inverted_index_rollup_refreshes_incrementally(spark, tmp_path):
    """Term-frequency state after appends equals a full recompute — the
    transform is persisted and re-applied to each delta only."""
    path = str(tmp_path / "t")
    write_dataset(_docs(spark), path, mode="overwrite")
    create_rollup(spark, path, "terms", ["term"], {"df": "count"},
                  pre_transform=_TERM_XFORM)
    for i in range(2):
        write_dataset(_docs(spark, n=20, offset=100 + 20 * i), path, mode="append")
        assert refresh_rollup(spark, path, "terms")["mode"] == "incremental"
    all_docs = (_docs(spark).unionByName(_docs(spark, n=20, offset=100))
                .unionByName(_docs(spark, n=20, offset=120)))
    exp = _term_df(spark, all_docs)
    got = {r.term: r.df for r in read_rollup(spark, path, "terms").collect()}
    assert got == exp
    assert rollup_status(path, "terms")["pre_transform"] == _TERM_XFORM


def test_inverted_index_rollup_full_rebuild_after_rewrite(spark, tmp_path):
    from flink_connector_lance_spark.sources.maintenance import delete_rows

    path = str(tmp_path / "t")
    write_dataset(_docs(spark), path, mode="overwrite")
    create_rollup(spark, path, "terms", ["term"], {"df": "count"},
                  pre_transform=_TERM_XFORM)
    delete_rows(spark, path, "doc_id % 2 = 0")
    assert refresh_rollup(spark, path, "terms")["mode"] == "full"
    exp = _term_df(spark, _docs(spark).filter("doc_id % 2 = 1"))
    got = {r.term: r.df for r in read_rollup(spark, path, "terms").collect()}
    assert got == exp


def test_pre_transform_must_produce_needed_columns(spark, tmp_path):
    path = str(tmp_path / "t")
    write_dataset(_docs(spark), path, mode="overwrite")
    with pytest.raises(ValueError, match="pre_transform must produce"):
        create_rollup(spark, path, "bad", ["term"], {"df": "count"},
                      pre_transform=["text AS body"])


def test_rollup_over_native_base_dataset(spark, tmp_path):
    """Incremental rollups work when the BASE table is a native Lance
    binary dataset: the compat manifest routes the fragment scan through
    the stdlib codec, the file-set delta keys refreshes, and the rollup
    state itself lives as an emulated sub-dataset under _rollups/ (its
    spec in that state's commit meta, as always)."""
    from flink_connector_lance_spark.sources.writer import write_native_pure

    path = str(tmp_path / "nbase")
    write_native_pure(_base(spark).repartition(2), path, mode="overwrite")
    res = create_rollup(spark, path, "by_grp", ["grp"], AGGS)
    assert res["covered_fragments"] == 2
    assert read_rollup(spark, path, "by_grp").count() == 3

    write_native_pure(_base(spark, n=50, offset=100), path, mode="append")
    r = refresh_rollup(spark, path, "by_grp")
    assert r["mode"] == "incremental" and r["delta_rows"] == 50
    got = {x.grp: (x.cnt, x.sum_val)
           for x in read_rollup(spark, path, "by_grp").collect()}
    assert got == {"0": (50, 7350), "1": (50, 7450), "2": (50, 7550)}
    st = rollup_status(path, "by_grp")
    assert st["pending_rows"] == 0 and not st["needs_full"]
