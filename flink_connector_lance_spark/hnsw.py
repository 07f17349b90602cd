"""Emulated IVF_HNSW graph index: the last reference index type
(ref LanceIndexBuilder.java:140-157) re-expressed for Spark.

Lance's IVF_HNSW_PQ partitions the corpus into IVF cells and builds one
HNSW graph per cell (parameters ``index.m`` / ``index.ef-construction`` /
``index.max-level``, ref config/LanceOptions.java:166-190); search probes
``vector.nprobes`` cells and runs an ``vector.ef``-bounded graph traversal
in each (ref LanceVectorSearch.java:146-163). The emulation keeps exactly
that decomposition, mapped onto Spark's execution model:

- **build**: the emulated IVF assignments (index.py) give every row a
  cell; ``applyInPandas`` grouped by cell builds one HNSW graph PER CELL
  — each cell is one task, so graph construction parallelizes across the
  cluster even though HNSW insertion is inherently sequential *within* a
  graph. Layer assignment is a deterministic hash of the row id (no RNG
  state), insertion order is ascending id — the same corpus always builds
  the same graph, which is what lets a DuckDB oracle gate the search.
  Each build task writes its cell's two files through the store and
  returns (cell, rows); the built cell ids go into the meta.
- **layout** (one for local and s3://, index.py): under
  ``_indexes/<col>/hnsw/``, per built cell, ``graph.parquet/cell=<c>/
  part-00000.parquet`` (one row per (node, layer): neighbor id list) and
  ``vectors.parquet/cell=<c>/part-00000.parquet`` (the cell's vector slab
  the traversal scores against), then ``index_meta.json`` last. Probing
  opens ONLY the chosen cells' files — the un-probed ~99% of the index is
  never read.
- **search**: driver picks the ``nprobes`` nearest centroids (tiny
  table, read through the store), then one ``mapInArrow`` task per
  probed cell opens that cell's two files through the store and runs the
  standard best-first descent (greedy on layers > 0, ``ef``-bounded
  dynamic candidate list on layer 0 — ``vector.ef`` with its REAL HNSW
  meaning, not a pool cap) and emits its local top candidates; a
  TakeOrdered merge + exact re-rank on the fetched rows finishes
  (index.candidate_rows), with the unindexed tail (files added since the
  build) exact-scored and unioned — the same staleness contract as
  pq_search/ivf_index_knn.

Scale notes: per-task memory is one cell's vectors + adjacency (the IVF
partition count controls cell size, ref guidance sqrt(n)); traversal cost
is O(ef * m * log n) distance evaluations per cell, vectorized over numpy
per neighbor expansion. Honest delta vs Lance: Lance traverses over
PQ-compressed distances and refines; this emulation traverses over raw
vectors (exact distances), so its refine stage is a no-op re-rank — at
fixture scale that is strictly more accurate, and the plumbing (probe →
per-cell traversal → merge → fetch) is the part that must survive 100 TB.
"""

from __future__ import annotations

import hashlib
import math
import os
from collections.abc import Sequence

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .index import (
    _index_dir,
    _storage,
    begin_build,
    candidate_rows,
    has_index,
    load_centroids,
    load_relation,
    probe_cells,
    read_meta,
    read_table,
    write_meta,
)
from .sources import fragments as FR


def _hnsw_dir(path: str, column: str) -> str:
    return _index_dir(path, column, "hnsw")


def has_hnsw_index(path: str, column: str,
                   storage: dict | None = None) -> bool:
    return has_index(path, column, storage, "hnsw")


def _cell_dir(idx_dir: str, part: str, cell: int) -> str:
    return os.path.join(idx_dir, f"{part}.parquet", f"cell={int(cell)}")


def load_cell(idx_dir: str, cell: int, storage: dict | None = None):
    """ONE cell's searcher state ``(ids (n,), mat (n, dim), levels (n,),
    adj {(id, layer): [ids]})`` from that cell's two files, opened through
    the store — the per-cell loader of both the distributed search and
    the UDTF."""
    from .index import vector_matrix

    vt = read_table(_cell_dir(idx_dir, "vectors", cell), storage)
    gt = read_table(_cell_dir(idx_dir, "graph", cell), storage)
    ids = vt.column("id").to_numpy(zero_copy_only=False).astype(np.int64)
    gid = gt.column("id").to_pylist()
    lvl_by_id = dict(zip(gid, gt.column("node_level").to_pylist()))
    levels = np.array([lvl_by_id.get(int(i), 0) for i in ids], dtype=np.int64)
    adj = {
        (int(i), int(layer)): neigh
        for i, layer, neigh in zip(gid, gt.column("layer").to_pylist(),
                                   gt.column("neighbors").to_pylist())
    }
    return ids, vector_matrix(vt.column("vec")), levels, adj


def _node_level(node_id: int, m: int, max_level: int) -> int:
    """Deterministic HNSW layer draw: id -> uniform(0,1) via md5, then the
    standard geometric level ``floor(-ln(u) * 1/ln(m))`` capped at
    ``max_level`` (ref defaults m=16, max-level=7,
    config/LanceOptions.java:166-181)."""
    h = hashlib.md5(str(int(node_id)).encode()).digest()
    u = (int.from_bytes(h[:8], "big") + 1) / float(1 << 64)  # (0, 1]
    ml = 1.0 / math.log(max(m, 2))
    return min(int(-math.log(u) * ml), max_level)


def _pair_dist(mat: np.ndarray, idx: np.ndarray, q: np.ndarray, metric: str) -> np.ndarray:
    """Distances from ``q`` to the rows ``mat[idx]`` — one vectorized op
    per neighbor expansion. Squared L2 for 'l2' (order-equivalent, no
    sqrt in the hot loop)."""
    sub = mat[idx]
    if metric == "l2":
        d = sub - q
        return (d * d).sum(axis=1)
    if metric == "cosine":
        qn = q / (np.linalg.norm(q) or 1.0)
        n = np.linalg.norm(sub, axis=1)
        n[n == 0] = 1.0
        return 1.0 - (sub @ qn) / n
    if metric == "dot":
        return -(sub @ q)
    raise ValueError(f"unknown metric {metric!r}")


def _search_layer(mat: np.ndarray, adj: dict, layer: int, q: np.ndarray,
                  entry: np.ndarray, ef: int, metric: str) -> np.ndarray:
    """Best-first search on one layer: returns the ``ef`` nearest node
    positions found (ascending distance, position tiebreak). ``entry`` is
    an array of starting positions. The dynamic candidate list is bounded
    by ``ef`` — THE knob (``vector.ef``) that trades recall for work."""
    import heapq

    entry = np.unique(entry)
    d0 = _pair_dist(mat, entry, q, metric)
    visited = set(entry.tolist())
    # candidates: min-heap by distance; results: max-heap (negated)
    cand = [(float(d), int(p)) for d, p in zip(d0, entry)]
    heapq.heapify(cand)
    res = [(-float(d), int(p)) for d, p in zip(d0, entry)]
    heapq.heapify(res)
    while len(res) > ef:
        heapq.heappop(res)
    while cand:
        d, p = heapq.heappop(cand)
        if res and d > -res[0][0] and len(res) >= ef:
            break
        neigh = adj.get((p, layer))
        if neigh is None or len(neigh) == 0:
            continue
        new = np.array([x for x in neigh if x not in visited], dtype=np.int64)
        if new.size == 0:
            continue
        visited.update(new.tolist())
        nd = _pair_dist(mat, new, q, metric)
        worst = -res[0][0] if res else np.inf
        for dd, pp in zip(nd, new):
            dd = float(dd)
            if len(res) < ef or dd < worst:
                heapq.heappush(cand, (dd, int(pp)))
                heapq.heappush(res, (-dd, int(pp)))
                if len(res) > ef:
                    heapq.heappop(res)
                worst = -res[0][0]
    out = sorted((-nd, p) for nd, p in res)
    return np.array([p for _, p in out], dtype=np.int64)


def _greedy_descend(mat: np.ndarray, adj: dict, q: np.ndarray, entry: int,
                    from_layer: int, to_layer: int, metric: str) -> int:
    """ef=1 greedy walk from ``from_layer`` down to ``to_layer``
    (exclusive): at each layer move to the closest neighbor until a local
    minimum, then drop a layer — the upper-layer express lanes."""
    cur = int(entry)
    cur_d = float(_pair_dist(mat, np.array([cur]), q, metric)[0])
    for layer in range(from_layer, to_layer, -1):
        improved = True
        while improved:
            improved = False
            neigh = adj.get((cur, layer))
            if neigh is None or len(neigh) == 0:
                continue
            nd = _pair_dist(mat, np.asarray(neigh, dtype=np.int64), q, metric)
            j = int(np.argmin(nd))
            if float(nd[j]) < cur_d:
                cur, cur_d = int(neigh[j]), float(nd[j])
                improved = True
    return cur


def _build_cell_graph(ids: np.ndarray, mat: np.ndarray, m: int,
                      ef_construction: int, max_level: int, metric: str):
    """Construct one cell's HNSW graph (insertion in ascending id order,
    deterministic levels). Yields (id, node_level, layer, neighbor_ids)
    rows. ``m`` neighbors per node on layers >= 1, ``2m`` on layer 0
    (the standard M / M_max0 split)."""
    order = np.argsort(ids, kind="stable")
    ids, mat = ids[order], mat[order]
    n = len(ids)
    levels = np.array([_node_level(int(i), m, max_level) for i in ids], dtype=np.int64)
    adj: dict = {}  # (pos, layer) -> list[pos]
    cap0 = 2 * m

    def _connect(pos: int, layer: int, cand_pos: np.ndarray) -> None:
        cd = _pair_dist(mat, cand_pos, q=mat[pos], metric=metric)
        sel = cand_pos[np.lexsort((cand_pos, cd))][:m]
        adj[(pos, layer)] = sel.tolist()
        cap = m if layer > 0 else cap0
        for nb in sel.tolist():
            lst = adj.setdefault((nb, layer), [])
            lst.append(pos)
            if len(lst) > cap:
                nd = _pair_dist(mat, np.asarray(lst, dtype=np.int64), mat[nb], metric)
                keep = np.asarray(lst, dtype=np.int64)[np.lexsort((lst, nd))][:cap]
                adj[(nb, layer)] = keep.tolist()

    entry, entry_level = 0, int(levels[0]) if n else 0
    for pos in range(1, n):
        lvl = int(levels[pos])
        q = mat[pos]
        cur = _greedy_descend(mat, adj, q, entry, entry_level, lvl, metric)
        eps = np.array([cur], dtype=np.int64)
        for layer in range(min(lvl, entry_level), -1, -1):
            found = _search_layer(mat, adj, layer, q, eps, ef_construction, metric)
            # exclude self if present (it can't be: pos not yet linked)
            _connect(pos, layer, found)
            eps = found
        if lvl > entry_level:
            entry, entry_level = pos, lvl
    for (pos, layer), neigh in adj.items():
        yield int(ids[pos]), int(levels[pos]), int(layer), [int(ids[x]) for x in neigh]
    # isolated nodes (first insert, or pruned empty) still need their
    # layer rows so the searcher knows their levels
    seen = {p for (p, _l) in adj}
    for pos in range(n):
        if pos not in seen:
            yield int(ids[pos]), int(levels[pos]), 0, []


def build_hnsw_index(
    spark: SparkSession,
    path: str,
    column: str,
    id_col: str = "id",
    m: int = 16,
    ef_construction: int = 100,
    max_level: int = 7,
    metric: str = "l2",
    replace: bool = False,
    s3=None,
) -> dict:
    """Build per-cell HNSW graphs over the dataset (requires the emulated
    IVF index for the cell assignment — build_index(IVF_*) first; a
    dataset without one gets a single cell). Returns the index metadata.

    Reference parameter surface: ``index.m`` / ``index.ef-construction`` /
    ``index.max-level`` (ref config/LanceOptions.java:166-190)."""
    from .sources.maintenance import _file_scan

    storage = _storage(s3)
    if has_hnsw_index(path, column, storage) and not replace:
        raise ValueError(f"HNSW index on {column!r} already exists; pass replace=True")
    if m < 2:
        raise ValueError("index.m must be >= 2")
    if ef_construction < 1 or max_level < 0:
        raise ValueError("index.ef-construction must be >= 1 and index.max-level >= 0")
    df = _file_scan(spark, path, FR.read_manifest_compat(path, storage_options=storage), s3)
    if column not in df.columns:
        raise ValueError(f"index column {column!r} not in dataset schema {df.columns}")
    vecs = df.select(F.col(id_col).alias("__hid"),
                     F.col(column).cast("array<double>").alias("__hvd"))
    first = vecs.select("__hvd").first()
    if first is None:
        raise ValueError("cannot index an empty dataset")
    dim = len(first[0])

    if has_index(path, column, storage):
        assigns = load_relation(spark, _index_dir(path, column), "assignments", s3)
        ivf_id = [c for c in assigns.columns if c != "cell"][0]
        cells = vecs.join(
            assigns.select(F.col(ivf_id).alias("__hid"), "cell"), on="__hid"
        )
    else:
        cells = vecs.withColumn("cell", F.lit(0))

    idx_dir = _hnsw_dir(path, column)
    mm, efc, ml, met = int(m), int(ef_construction), int(max_level), metric.lower()

    def build_cell(pdf):
        import pandas as pd
        import pyarrow as pa

        from flink_connector_lance_spark.hnsw import _build_cell_graph, _cell_dir
        from flink_connector_lance_spark.index import write_table

        cell = int(pdf["cell"].iloc[0])
        ids = pdf["__hid"].to_numpy(dtype=np.int64)
        mat = np.asarray(pdf["__hvd"].tolist(), dtype=np.float64)
        rows = list(_build_cell_graph(ids, mat, mm, efc, ml, met))
        write_table(pa.table({
            "id": pa.array([r[0] for r in rows], pa.int64()),
            "node_level": pa.array([r[1] for r in rows], pa.int32()),
            "layer": pa.array([r[2] for r in rows], pa.int32()),
            "neighbors": pa.array([r[3] for r in rows], pa.list_(pa.int64())),
        }), _cell_dir(idx_dir, "graph", cell), storage)
        write_table(pa.table({
            "id": pa.array(ids, pa.int64()),
            "vec": pa.array(list(mat), pa.list_(pa.float64())),
        }), _cell_dir(idx_dir, "vectors", cell), storage)
        return pd.DataFrame({"cell": [cell], "rows": [len(ids)]})

    begin_build(idx_dir, storage)
    built = cells.groupBy("cell").applyInPandas(
        build_cell, schema="cell int, rows long").collect()
    meta = {
        "index_type": "ivf_hnsw_emulated",
        "column": column,
        "id_col": id_col,
        "metric": met,
        "m": mm,
        "ef_construction": efc,
        "max_level": ml,
        "dim": dim,
        "dataset_version": FR.latest_version(path, storage),
        "cells": sorted(r.cell for r in built),
    }
    write_meta(idx_dir, meta, storage)
    return meta


def _traverse_cell(ids: np.ndarray, levels: np.ndarray, adj_by_id: dict,
                   mat: np.ndarray, q: np.ndarray, pool: int, ef: int,
                   metric: str) -> list[tuple[int, float]]:
    """One probed cell's traversal: entry = highest-level node (lowest id
    tiebreak), greedy descent through the upper layers, ef-bounded layer-0
    search; returns the top ``pool`` (id, exact_distance) pairs."""
    n = len(ids)
    if n == 0:
        return []
    pos_of = {int(i): p for p, i in enumerate(ids)}
    adj = {
        (pos_of[i], layer): [pos_of[x] for x in neigh if x in pos_of]
        for (i, layer), neigh in adj_by_id.items()
        if i in pos_of
    }
    top = int(levels.max())
    entry_cands = np.flatnonzero(levels == top)
    entry = int(entry_cands[np.argmin(ids[entry_cands])])
    cur = _greedy_descend(mat, adj, q, entry, top, 0, metric)
    found = _search_layer(mat, adj, 0, q, np.array([cur]), max(ef, pool), metric)
    d = _pair_dist(mat, found, q, metric)
    if metric == "l2":
        d = np.sqrt(d)
    order = np.lexsort((ids[found], d))[:pool]
    return [(int(ids[found[j]]), float(d[j])) for j in order]


def hnsw_candidates(
    spark: SparkSession,
    path: str,
    column: str,
    query: Sequence[float],
    k: int = 10,
    nprobes: int | None = None,
    ef: int | None = None,
    s3=None,
    _metas: dict | None = None,
) -> tuple[DataFrame, dict]:
    """The skinny per-cell candidate relation (id, _hnsw_d) an
    ef-bounded traversal emits for ``query`` — at most ``max(ef, k)``
    rows per probed cell. Exposed separately so the ef/nprobes knobs
    have a directly observable effect; ``hnsw_search`` consumes it."""
    from .functions import vector as V

    storage = _storage(s3)
    # _metas: search_dataset's pre-fetched per-kind metadata — skips the
    # meta re-fetch (and the IVF presence check)
    meta = _metas.get("hnsw") if _metas is not None else read_meta(
        path, column, "hnsw", storage)
    if meta is None:
        raise FileNotFoundError(f"no HNSW index on {path}:{column}; build_hnsw_index first")
    q = V.validate_query_vector(query)
    if len(q) != meta["dim"]:
        raise ValueError(f"query dim {len(q)} != indexed dim {meta['dim']}")
    eff = int(ef) if ef is not None else 100
    if eff <= 0:
        raise ValueError("ef must be positive")

    cells = meta["cells"]
    if nprobes is not None:
        if nprobes <= 0:
            raise ValueError("nprobes must be positive")
        have_ivf = ("ivf" in _metas) if _metas is not None \
            else has_index(path, column, storage)
        if not have_ivf:
            raise FileNotFoundError(
                f"nprobes given but no IVF index on {path}:{column}; build_index first"
            )
        # a probed cell the build never saw (a Lloyd centroid with no
        # rows) contributes nothing
        chosen = set(probe_cells(*load_centroids(path, column, storage), q, nprobes))
        cells = [c for c in cells if c in chosen]
    cand = cell_candidates(spark, _hnsw_dir(path, column), cells,
                           [float(v) for v in q], max(eff, k), eff,
                           meta.get("metric", "l2"), storage)
    return cand, meta


def cell_candidates(spark, idx_dir: str, cells: "list[int]", qv: list,
                    pool: int, ef: int, metric: str,
                    storage: dict | None = None) -> DataFrame:
    """About one ``mapInArrow`` task per cell of ``cells``: a task opens
    its cell's graph and vector files through the store (``load_cell``)
    and runs the traversal, so an un-probed cell is never opened, and
    neither a cogroup nor a ``groupBy("cell")`` exchange moves the
    corpus-sized slabs through the JVM. ``idx_dir`` is a local path,
    ``file://`` or s3 url; any other scheme is refused here, at planning
    time (``fs.store_for``)."""
    import pandas as pd

    from .sources.fs import store_for

    store_for(idx_dir, storage)
    if not cells:
        return spark.createDataFrame([], "id long, _hnsw_d double")

    def scan(iterator):
        import pyarrow as pa

        from flink_connector_lance_spark.hnsw import _traverse_cell, load_cell

        q = np.asarray(qv, dtype=np.float64)
        for batch in iterator:
            for cell in batch.column("cell").to_pylist():
                ids, mat, levels, adj = load_cell(idx_dir, cell, storage)
                out = _traverse_cell(ids, levels, adj, mat, q, pool, ef, metric)
                yield pa.RecordBatch.from_arrays(
                    [pa.array([i for i, _ in out], pa.int64()),
                     pa.array([d for _, d in out], pa.float64())],
                    names=["id", "_hnsw_d"])

    # keyless repartition: len(cells) rows round-robin into len(cells)
    # partitions = about one cell per task (round-robin over a
    # multi-partition seed can pair two cells and leave a task empty;
    # hashing `cell` into so few partitions would collide more, guide §2.5)
    seed = spark.createDataFrame(
        pd.DataFrame({"cell": cells})).repartition(len(cells))
    return seed.mapInArrow(scan, schema="id long, _hnsw_d double")


def hnsw_search(
    spark: SparkSession,
    path: str,
    column: str,
    query: Sequence[float],
    k: int = 10,
    nprobes: int | None = None,
    ef: int | None = None,
    tiebreak_cols: Sequence[str] = (),
    round_digits: int | None = None,
    filter=None,
    s3=None,
    _metas: dict | None = None,
) -> DataFrame:
    """Graph-ANN search: probe ``nprobes`` cells, traverse each cell's
    HNSW graph with an ``ef``-bounded candidate list (ref
    config/LanceOptions.java:224-228 — here ef drives REAL traversal
    dynamics), merge, fetch + exact re-rank, union the unindexed tail.

    Plan shape, local and s3:// alike: the centroid probe is driver-side
    on a tiny table; one ``mapInArrow`` task per probed cell reads that
    cell's files only; candidates are skinny (id, distance) rows; only
    the winning ids' rows are fetched (semi-join) for the final k."""
    from .functions import vector as V
    from .operators.knn import knn

    cand, meta = hnsw_candidates(spark, path, column, query, k=k,
                                 nprobes=nprobes, ef=ef, s3=s3,
                                 _metas=_metas)
    q = V.validate_query_vector(query)
    id_col = meta["id_col"]
    pool = max(int(ef) if ef is not None else 100, k)
    # global merge: TakeOrdered over the skinny candidate rows
    winners = cand.orderBy(F.asc("_hnsw_d"), F.asc("id")).limit(pool) \
                  .select(F.col("id").alias(id_col))
    survivors = candidate_rows(spark, path, meta, winners, s3)
    return knn(survivors, column, q, k=k, metric=meta.get("metric", "l2"),
               filter=filter, tiebreak_cols=tiebreak_cols, round_digits=round_digits)
