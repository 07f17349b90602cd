"""Emulated IVF_HNSW graph index: deterministic per-cell build, real
ef-driven traversal, staleness contract, vacuum pinning, and routing
(ref LanceIndexBuilder.java:140-157, config/LanceOptions.java:166-190,
224-228)."""

from __future__ import annotations

import json
import os

import pytest

from flink_connector_lance_spark.hnsw import (
    _node_level,
    build_hnsw_index,
    has_hnsw_index,
    hnsw_search,
)
from flink_connector_lance_spark.index import build_index, search_dataset
from flink_connector_lance_spark.io import load_table
from flink_connector_lance_spark.operators.knn import knn
from flink_connector_lance_spark.options import DatasetOptions
from flink_connector_lance_spark.queries.knn import QVEC
from flink_connector_lance_spark.sources.writer import write_dataset


@pytest.fixture(scope="module")
def hnsw_ds(spark, sf_dir, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("hnsw") / "emb")
    write_dataset(load_table(spark, sf_dir, "embeddings"), path, mode="overwrite")
    res = build_index(path, "embedding", index_type="ivf_hnsw_pq", spark=spark,
                      id_col="vec_id",
                      options=DatasetOptions(path=path, index_num_partitions=4,
                                             index_num_sub_vectors=8,
                                             index_num_bits=4))
    assert res.success, res.error
    return path


def _exact_ids(spark, sf_dir, k=10):
    e = load_table(spark, sf_dir, "embeddings")
    top = knn(e, "embedding", QVEC, k=k, metric="l2",
              tiebreak_cols=["vec_id"], round_digits=6)
    return [r.vec_id for r in top.select("vec_id").collect()]


def test_layout_and_meta(hnsw_ds):
    base = os.path.join(hnsw_ds, "_indexes", "embedding", "hnsw")
    assert os.path.isdir(os.path.join(base, "graph.parquet"))
    assert os.path.isdir(os.path.join(base, "vectors.parquet"))
    with open(os.path.join(base, "index_meta.json")) as fh:
        meta = json.load(fh)
    # reference defaults ride through (config/LanceOptions.java:166-190)
    assert meta["m"] == 16 and meta["ef_construction"] == 100 and meta["max_level"] == 7
    assert meta["index_type"] == "ivf_hnsw_emulated"
    # graph files are cell-partitioned: probing prunes to chosen cells
    cells = [d for d in os.listdir(os.path.join(base, "graph.parquet"))
             if d.startswith("cell=")]
    assert len(cells) > 1


def test_high_ef_recovers_exact_topk(spark, sf_dir, hnsw_ds):
    got = hnsw_search(spark, hnsw_ds, "embedding", QVEC, k=10, ef=400,
                      tiebreak_cols=["vec_id"], round_digits=6)
    assert [r.vec_id for r in got.select("vec_id").collect()] == \
        _exact_ids(spark, sf_dir)


def test_ef_is_a_real_traversal_knob(spark, hnsw_ds):
    """Smaller ef shrinks the per-cell candidate pool: the skinny
    candidate relation (pre-merge) carries at most max(ef, k) rows per
    probed cell — ef with its true HNSW meaning, not a global cap."""
    from flink_connector_lance_spark.hnsw import hnsw_candidates

    n_cells = len([
        d for d in os.listdir(
            os.path.join(hnsw_ds, "_indexes", "embedding", "hnsw", "graph.parquet"))
        if d.startswith("cell=")
    ])
    small, _ = hnsw_candidates(spark, hnsw_ds, "embedding", QVEC, k=3, ef=5)
    big, _ = hnsw_candidates(spark, hnsw_ds, "embedding", QVEC, k=3, ef=400)
    n_small, n_big = small.count(), big.count()
    assert n_small <= n_cells * 5
    assert n_small < n_big
    # the search built on the small pool still returns k ordered rows
    rows = hnsw_search(spark, hnsw_ds, "embedding", QVEC, k=3, ef=5,
                       tiebreak_cols=["vec_id"], round_digits=6).collect()
    assert len(rows) == 3
    ds = [r._distance for r in rows]
    assert ds == sorted(ds)


def test_nprobes_prunes_graph_partitions(spark, hnsw_ds):
    from flink_connector_lance_spark.hnsw import hnsw_candidates

    df = hnsw_search(spark, hnsw_ds, "embedding", QVEC, k=5, nprobes=2,
                     tiebreak_cols=["vec_id"], round_digits=6)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # local fast path: one mapInArrow task per probed cell reads its own
    # cell's slabs — no cogroup, no groupBy("cell") exchanges; pruning is
    # by construction (un-probed cell dirs never opened)
    assert "MapInArrow" in plan, plan
    assert "FlatMapCoGroupsInPandas" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert df.count() == 5

    # behavioral pruning pin: with nprobes=2, every candidate id belongs
    # to one of the 2 centroid-nearest cells' assignments
    import pyspark.sql.functions as F

    from flink_connector_lance_spark.functions import vector as V
    idx = os.path.join(hnsw_ds, "_indexes", "embedding", "ivf")
    cents = spark.read.parquet(os.path.join(idx, "centroids.parquet"))
    chosen = [r.cell for r in
              cents.select("cell", V.l2_distance("centroid", QVEC).alias("cd"))
              .orderBy("cd", "cell").limit(2).collect()]
    assigns = spark.read.parquet(os.path.join(idx, "assignments.parquet"))
    allowed = {r.vec_id for r in
               assigns.filter(F.col("cell").isin(chosen)).collect()}
    cand, _ = hnsw_candidates(spark, hnsw_ds, "embedding", QVEC, k=5, nprobes=2)
    got = {r.id for r in cand.collect()}
    assert got and got <= allowed


def test_search_dataset_routes_to_graph(spark, sf_dir, hnsw_ds):
    out = search_dataset(spark, hnsw_ds, "embedding", QVEC, k=10, metric="l2",
                         ef=400, tiebreak_cols=["vec_id"], round_digits=6)
    assert [r.vec_id for r in out.select("vec_id").collect()] == \
        _exact_ids(spark, sf_dir)
    # the routed plan runs the graph traversal (mapInArrow over the hnsw
    # cell slabs), not the PQ ADC scan over the codes relation
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan and "/pq/" not in plan
    with pytest.raises(ValueError, match="metric"):
        search_dataset(spark, hnsw_ds, "embedding", QVEC, k=5, metric="cosine")


def test_deterministic_build(spark, sf_dir, tmp_path):
    """Same corpus -> byte-identical graph content (hash of sorted rows):
    levels come from id hashes, insertion order is ascending id."""
    path = str(tmp_path / "ds")
    write_dataset(load_table(spark, sf_dir, "embeddings"), path, mode="overwrite")

    def graph_fingerprint() -> list:
        df = spark.read.parquet(
            os.path.join(path, "_indexes", "embedding", "hnsw", "graph.parquet")
        )
        return sorted(
            (r.cell, r.id, r.layer, tuple(r.neighbors)) for r in df.collect()
        )

    build_hnsw_index(spark, path, "embedding", id_col="vec_id", m=8,
                     ef_construction=32, replace=True)
    f1 = graph_fingerprint()
    build_hnsw_index(spark, path, "embedding", id_col="vec_id", m=8,
                     ef_construction=32, replace=True)
    assert graph_fingerprint() == f1
    assert len(f1) > 0


def test_single_cell_without_ivf(spark, sf_dir, tmp_path):
    """No IVF index -> one global graph (cell 0); search still works and
    nprobes is refused (nothing to probe)."""
    path = str(tmp_path / "ds")
    write_dataset(load_table(spark, sf_dir, "embeddings"), path, mode="overwrite")
    build_hnsw_index(spark, path, "embedding", id_col="vec_id", m=8,
                     ef_construction=64)
    got = hnsw_search(spark, path, "embedding", QVEC, k=5, ef=400,
                      tiebreak_cols=["vec_id"], round_digits=6)
    assert [r.vec_id for r in got.select("vec_id").collect()] == \
        _exact_ids(spark, sf_dir, k=5)
    with pytest.raises(FileNotFoundError, match="no IVF index"):
        hnsw_search(spark, path, "embedding", QVEC, k=5, nprobes=2).collect()


def test_append_after_build_is_searchable(spark, sf_dir, tmp_path):
    """Staleness contract: rows appended after the graph build are
    exact-scored (unindexed tail) and can win the top-k."""
    import pyspark.sql.functions as F

    path = str(tmp_path / "ds")
    e = load_table(spark, sf_dir, "embeddings")
    write_dataset(e, path, mode="overwrite")
    build_hnsw_index(spark, path, "embedding", id_col="vec_id", m=8,
                     ef_construction=64)
    # append one row that IS the query vector (distance 0, must rank first)
    from flink_connector_lance_spark.functions.vector import vec_literal

    probe = e.limit(1).select(
        F.lit(999_999).cast("long").alias("vec_id"),
        vec_literal(QVEC).cast(e.schema["embedding"].dataType).alias("embedding"),
        *[F.col(c) for c in e.columns if c not in ("vec_id", "embedding")],
    ).select(*e.columns)
    write_dataset(probe, path, mode="append")
    got = hnsw_search(spark, path, "embedding", QVEC, k=3, ef=200,
                      tiebreak_cols=["vec_id"], round_digits=6).collect()
    assert got[0].vec_id == 999_999 and got[0]._distance == 0.0


def test_vacuum_pins_hnsw_build_manifest(spark, sf_dir, tmp_path):
    """vacuum keeps the manifest version the HNSW graph was built against
    (same pinning contract as IVF/PQ)."""
    from flink_connector_lance_spark.sources.maintenance import vacuum_dataset

    path = str(tmp_path / "ds")
    e = load_table(spark, sf_dir, "embeddings")
    write_dataset(e, path, mode="overwrite")  # v0
    build_hnsw_index(spark, path, "embedding", id_col="vec_id", m=8,
                     ef_construction=32)
    write_dataset(e.limit(5), path, mode="append")  # v1
    write_dataset(e.limit(5), path, mode="append")  # v2
    rep = vacuum_dataset(path, keep_versions=1)
    assert 0 in rep["kept_versions"], rep  # pinned by the index


def test_param_validation_and_replace(spark, sf_dir, tmp_path):
    path = str(tmp_path / "ds")
    write_dataset(load_table(spark, sf_dir, "embeddings"), path, mode="overwrite")
    with pytest.raises(ValueError, match="index.m"):
        build_hnsw_index(spark, path, "embedding", id_col="vec_id", m=1)
    build_hnsw_index(spark, path, "embedding", id_col="vec_id", m=4,
                     ef_construction=16)
    with pytest.raises(ValueError, match="replace=True"):
        build_hnsw_index(spark, path, "embedding", id_col="vec_id", m=4)
    with pytest.raises(ValueError, match="ef must be positive"):
        hnsw_search(spark, path, "embedding", QVEC, k=3, ef=0)
    with pytest.raises(ValueError, match="query dim"):
        hnsw_search(spark, path, "embedding", [1.0, 2.0], k=3)
    assert has_hnsw_index(path, "embedding")


def test_node_levels_are_geometric_and_deterministic():
    lv = [_node_level(i, m=16, max_level=7) for i in range(5000)]
    assert lv == [_node_level(i, m=16, max_level=7) for i in range(5000)]
    assert max(lv) <= 7 and min(lv) == 0
    frac0 = sum(1 for x in lv if x == 0) / len(lv)
    # P(level 0) = 1 - 1/m = 0.9375 at m=16
    assert 0.90 < frac0 < 0.97
    assert any(x >= 1 for x in lv)


def test_local_cell_candidates_path_schemes(spark, hnsw_ds):
    """The per-cell path takes a bare path or file:// (same candidates)
    and rejects any other scheme with a clear error."""
    from flink_connector_lance_spark.hnsw import cell_candidates

    idx_dir = os.path.join(hnsw_ds, "_indexes", "embedding", "hnsw")
    with open(os.path.join(idx_dir, "index_meta.json")) as fh:
        cells = json.load(fh)["cells"]
    q = [float(v) for v in QVEC]

    def cands(d):
        return sorted(cell_candidates(spark, d, cells, q, 10, 10, "l2").collect())

    plain = cands(idx_dir)
    assert plain and cands("file://" + idx_dir) == plain
    with pytest.raises(ValueError, match="unsupported scheme"):
        cell_candidates(spark, "hdfs://nn" + idx_dir, cells, q, 10, 10, "l2")
