"""Sampled IVF/PQ training (index.training_sample / index.lloyd): the
build's job count, equality with a plain numpy Lloyd when every row
trains, a fixed sample when the table outgrows the cap, the
iterations=0 k-means assignment against its relational definition, and
the driver-side probe-cell order against the Spark SQL order it
replaced."""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest
from pyspark.sql import Window

from flink_connector_lance_spark import index as IX
from flink_connector_lance_spark.functions import vector as V
from flink_connector_lance_spark.operators.semantic import kmeans_assign
from flink_connector_lance_spark.options import DatasetOptions
from flink_connector_lance_spark.sources.writer import write_dataset

DIM = 8


def _write(spark, path, x, files=3):
    df = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(x)],
        "id long, vec array<double>")
    write_dataset(df.repartition(files), path, mode="overwrite")


def _build(spark, path, partitions, sub_vectors, bits):
    res = IX.build_index(path, "vec", "ivf_pq", spark=spark, id_col="id", replace=True,
                         options=DatasetOptions(path=path, index_num_partitions=partitions,
                                                index_num_sub_vectors=sub_vectors,
                                                index_num_bits=bits))
    assert res.success, res.error


def _read(path):
    return pq.read_table(path).to_pylist()


def _meta(path, kind):
    with open(os.path.join(path, "_indexes", "vec", kind, "index_meta.json")) as fh:
        return json.load(fh)


def _l2sq_loop(a, b):
    acc = 0.0
    for x, y in zip(a, b):
        acc += (x - y) * (x - y)
    return acc


def _argmin_loop(v, cells, cents, sqrt):
    """Brute force: the lowest cell among those at the least distance."""
    best = None
    for c, cen in zip(cells, cents):
        d = _l2sq_loop(v, cen)
        d = float(np.sqrt(d)) if sqrt else d
        if best is None or d < best[0]:
            best = (d, c)
    return best[1]


def _lloyd_reference(x, k, iterations, sqrt):
    """Plain Lloyd: k lowest-id seeds, loop argmin, per-cell mean, empty
    cells dropped."""
    cells, cents = list(range(min(k, len(x)))), [x[i] for i in range(min(k, len(x)))]
    for _ in range(iterations):
        a = np.array([_argmin_loop(v, cells, cents, sqrt) for v in x])
        kept = [c for c in cells if (a == c).any()]
        cents = [x[a == c].mean(axis=0) for c in kept]
        cells = kept
    return cells, [np.asarray(c) for c in cents]


def test_ivf_pq_build_runs_a_bounded_number_of_jobs(spark, tmp_path):
    path = str(tmp_path / "ds")
    _write(spark, path, np.random.default_rng(1).normal(size=(120, DIM)))
    sc = spark.sparkContext
    sc.setJobGroup("ivf-pq-build", "ivf-pq-build")
    try:
        _build(spark, path, partitions=4, sub_vectors=2, bits=3)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("ivf-pq-build")
    assert 0 < len(jobs) <= 6, len(jobs)


def test_small_build_equals_numpy_reference(spark, tmp_path):
    """n <= cap: every row trains, so the centroids and codebooks are
    plain Lloyd over the whole table, and each stored cell and code is
    the brute-force argmin."""
    x = np.random.default_rng(2).normal(size=(90, DIM))
    x[40] = x[0]  # a duplicate of a seed: ties on distance 0
    path = str(tmp_path / "ds")
    _write(spark, path, x)
    _build(spark, path, partitions=5, sub_vectors=2, bits=2)
    ivf, pqd = (os.path.join(path, "_indexes", "vec", k) for k in ("ivf", "pq"))
    assert _meta(path, "ivf")["training_rows"] == 90
    assert _meta(path, "pq")["training_rows"] == 90

    cells, cents = _lloyd_reference(x, 5, 4, sqrt=True)
    got = _read(os.path.join(ivf, "centroids.parquet"))
    assert [r["cell"] for r in got] == cells
    assert [r["centroid"] for r in got] == [c.tolist() for c in cents]
    assigned = {r["id"]: r["cell"] for r in _read(os.path.join(ivf, "assignments.parquet"))}
    assert assigned == {i: _argmin_loop(v, cells, cents, sqrt=True) for i, v in enumerate(x)}

    books = _read(os.path.join(pqd, "codebooks.parquet"))
    codes = {r["id"]: r["codes"] for r in _read(os.path.join(pqd, "codes.parquet"))}
    for s in range(2):
        xs = x[:, s * 4:(s + 1) * 4]
        ref_codes, ref_cents = _lloyd_reference(xs, 4, 4, sqrt=False)
        mine = [r for r in books if r["sub"] == s]
        assert [r["code"] for r in mine] == ref_codes
        assert [r["centroid"] for r in mine] == [c.tolist() for c in ref_cents]
        assert all(codes[i][s] == _argmin_loop(v, ref_codes, ref_cents, sqrt=False)
                   for i, v in enumerate(xs))


def test_large_build_trains_on_a_fixed_capped_sample(spark, tmp_path):
    """n > cap: the build trains on exactly SAMPLE_RATE * k rows, and the
    same rows each time."""
    k = 2
    n = IX.SAMPLE_RATE * k + 100
    path = str(tmp_path / "ds")
    _write(spark, path, np.random.default_rng(3).normal(size=(n, DIM)))
    built = []
    for _ in range(2):
        _build(spark, path, partitions=k, sub_vectors=2, bits=1)
        built.append((
            _read(os.path.join(path, "_indexes", "vec", "ivf", "centroids.parquet")),
            _read(os.path.join(path, "_indexes", "vec", "pq", "codebooks.parquet")),
        ))
        assert _meta(path, "ivf")["training_rows"] == IX.SAMPLE_RATE * k
        assert _meta(path, "pq")["training_rows"] == IX.SAMPLE_RATE * 2
    assert built[0] == built[1]
    assigned = spark.read.parquet(
        os.path.join(path, "_indexes", "vec", "ivf", "assignments.parquet"))
    assert assigned.count() == n


def test_kmeans_assign_iterations0_matches_relational_definition(spark):
    """iterations=0: the centroids are the k lowest-id vectors and each
    row goes to the nearest by L2, ties to the lowest cell. Rows 5 and 6
    sit at exactly the same distance from seeds 0 and 1."""
    rows = [(0, [0.0, 0.0]), (1, [2.0, 0.0]), (2, [9.0, 9.0]), (3, [0.3, 0.1]),
            (4, [8.0, 7.5]), (5, [1.0, 0.0]), (6, [1.0, 3.0]), (7, [1.9, 0.2])]
    df = spark.createDataFrame(rows, "id long, v array<double>")
    got = {r.rid: r.cell for r in kmeans_assign(df, "id", "v", 3, iterations=0).collect()}
    seeds = df.orderBy("id").limit(3).select(
        (F.row_number().over(Window.orderBy("id")) - 1).alias("cell"), F.col("v").alias("c"))
    d = F.sqrt(F.expr(" + ".join(
        f"(element_at(v, {i}) - element_at(c, {i})) * (element_at(v, {i}) - element_at(c, {i}))"
        for i in (1, 2))))
    want = {r.id: r.cell for r in df.crossJoin(seeds).groupBy("id").agg(
        F.min(F.struct(d.alias("d"), "cell")).alias("best")
    ).select("id", "best.cell").collect()}
    assert got == want
    assert got[5] == 0 and got[6] == 0


def test_probe_cells_keeps_the_sql_order_with_a_planted_tie(spark):
    """probe_cells ranks cells exactly as the Spark SQL probe did: the
    same L2 doubles, ordered by (distance, cell). Cells 3 and 1 are at
    exactly the same distance from q."""
    rng = np.random.default_rng(4)
    cells = np.array([0, 1, 3, 4, 7], dtype=np.int32)
    cents = rng.normal(size=(5, DIM))
    q = rng.normal(size=DIM)
    cents[2] = cents[1].copy()
    cents[2][[0, 1]] = cents[1][[1, 0]]
    q[0] = q[1]
    assert IX.sq_l2(q[None, :], cents[[1]])[0, 0] == IX.sq_l2(q[None, :], cents[[2]])[0, 0]
    table = spark.createDataFrame(
        [(int(c), [float(v) for v in cen]) for c, cen in zip(cells, cents)],
        "cell int, centroid array<double>")
    for query in [q] + [rng.normal(size=DIM) for _ in range(5)]:
        qv = [float(v) for v in query]
        old = table.select("cell", V.l2_distance("centroid", qv).alias("cd")) \
            .orderBy("cd", "cell").collect()
        assert IX.probe_cells(cells, cents, qv, 5) == [r.cell for r in old]
        assert IX.probe_cells(cells, cents, qv, 2) == [r.cell for r in old][:2]
        # and the doubles themselves match the SQL chain's
        by_cell = dict(zip(cells.tolist(), np.sqrt(IX.sq_l2(np.asarray([qv]), cents)[0])))
        assert all(by_cell[r.cell] == r.cd for r in old)
    tied = IX.probe_cells(cells, cents, q.tolist(), 5)
    assert tied.index(1) + 1 == tied.index(3)


@pytest.mark.parametrize("bad", [[[1.0, 2.0], None], [[1.0, 2.0], [1.0]]])
def test_vector_matrix_refuses_null_and_ragged_vectors(bad):
    import pyarrow as pa

    with pytest.raises(ValueError):
        IX.vector_matrix(pa.array(bad, pa.list_(pa.float64())))
