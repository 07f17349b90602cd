"""``vector_search`` SQL table function (UDTF).

Parity with the reference's ``LanceVectorSearchFunction``
(ref table/LanceVectorSearchFunction.java:71-357):
``SELECT * FROM vector_search(path, column, ARRAY[...], k, metric)``.

Improvements over the reference (SURVEY.md §7.0.4):
- output schema is the *actual* dataset schema + ``_distance`` (derived in
  ``analyze()`` from the parquet footer), not a hard-coded 4-column row
  (ref :68-70, :344-356);
- the searcher cache is keyed on (path, column) like the reference
  (ref :113-136) but LRU-bounded (``_CACHE_MAX``) — the reference's
  per-process map grows without bound;
- optional trailing ``nprobes`` / ``ef`` / ``refine_factor`` arguments —
  the search-time knobs of ref config/LanceOptions.java:215-237 that the
  reference threads into every native query
  (ref LanceVectorSearch.java:146-163).

Scale posture — two routes, chosen per (path, column) exactly like the
reference picks indexed vs flat search:

All three routes read local datasets; the index files are those of the
one index layout (index.py).

- **indexed** (fragment dataset with an on-disk PQ index, matching
  metric): the worker holds ONLY the PQ state — codes (num_sub_vectors
  bytes/row), ids, codebook LUT slabs — never the vectors. Search is
  numpy ADC over the codes, top k*refine candidates, then an exact
  re-rank that reads JUST the candidate rows from the fragment files
  via a pushed id-IN filter (parquet row-group pruning). Rows appended
  after the index build (the unindexed tail, see
  index.split_by_index_coverage) are exact-scored from the tail files
  only — same staleness contract as pq_search. Per-row worker memory is
  the 16x-compressed code, so a corpus whose vectors would OOM the
  worker still searches.
- **hnsw** (graph index present, no PQ codes): in-process twin of
  hnsw.hnsw_search — probe cells, ef-bounded best-first traversal per
  cell, exact re-rank of the winners, unindexed tail exact-scored. The
  worker reads ONLY the probed cells' graph/vector files, through the
  same per-cell loader as the distributed search (hnsw.load_cell, under
  a per-cell LRU, ``_load_hnsw_cell``) — worker memory is O(probed
  cells), never the whole index. PQ still outranks it here because codes are ~16 B/row
  while traversal holds the probed cells' raw vectors; the distributed
  search_dataset makes the opposite call (graph first) since executors
  share the slabs.
- **flat** (plain parquet, no index, or metric mismatch): the original
  in-process scan — a float64 matrix of ONLY the vector column decoded
  zero-copy from Arrow, rows materialized solely via ``table.take`` of
  the k winners. This is the reference's own JNI-searcher shape and the
  correct small-input fallback.
"""

from __future__ import annotations

import json
import os
from collections import OrderedDict
from typing import Iterator

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import SparkSession
from pyspark.sql.functions import udtf
from pyspark.sql.types import DoubleType, StructType

from .index import vector_matrix
from .operators.ann import make_planes

# LRU over per-(path, column, kind) searcher state. 4 keeps the common
# one-or-two-datasets worker hot while bounding the flat route's Arrow
# tables (the unbounded map was the one reachable scale-killer here).
_CACHE_MAX = 4
_CACHE: "OrderedDict[tuple, tuple]" = OrderedDict()


def _cache_put(key: tuple, value: tuple) -> None:
    _CACHE[key] = value
    _CACHE.move_to_end(key)
    while len(_CACHE) > _CACHE_MAX:
        _CACHE.popitem(last=False)


def _cache_get(key: tuple):
    if key in _CACHE:
        _CACHE.move_to_end(key)
        return _CACHE[key]
    return None


def _is_fragment_dataset(path: str) -> bool:
    from .sources import fragments as FR

    return os.path.isdir(os.path.join(path, FR.VERSIONS_DIR))


def _is_native_lance(path: str) -> bool:
    """True for a REAL Lance dataset (binary ``N.manifest``, ``.lance``
    data files) — e.g. the reference's committed fixtures
    (ref test-data/lance-vector-search/_versions/1.manifest). These route
    through the stdlib decoder in sources/lance_format.py instead of the
    parquet readers. Our parquet-side ANN indexes (``_indexes/``) can be
    built OVER a native dataset too — the route choosers key on index
    presence, so an indexed native dataset takes the PQ/HNSW route and
    only the winner-row fetch decodes ``.lance`` bytes."""
    if not _is_fragment_dataset(path):
        return False
    from .sources import fragments as FR

    vdir = os.path.join(path, FR.VERSIONS_DIR)
    return not any(n.endswith(".manifest.json") for n in os.listdir(vdir))


def _dataset_files(path: str) -> list[str]:
    """Parquet files behind ``path``: manifest fragments for a versioned
    dataset, the part files for a directory-style parquet table (what
    ``df.write.parquet`` produces), the path itself for a single file."""
    if _is_fragment_dataset(path):
        from .sources import fragments as FR

        # compat: a REAL Lance dataset lists its .lance fragments here;
        # _read_filtered decodes them through the stdlib codec
        m = FR.read_manifest_compat(path)
        return [os.path.join(path, f.file) for f in m.fragments]
    if os.path.isdir(path):
        files = sorted(
            os.path.join(path, n) for n in os.listdir(path)
            if n.endswith(".parquet")
        )
        if not files:
            raise FileNotFoundError(
                f"{path} is a directory with no .parquet part files "
                "(hive-partitioned layouts are not supported here — "
                "point at the partition directory or a fragment dataset)")
        return files
    return [path]


def _read_schema(path: str):
    """The dataset's Arrow schema. For a fragment dataset this is the
    MANIFEST schema (schema_evolution.dataset_schema), not files[0]'s
    footer: on an evolved dataset whose oldest fragment predates an
    ``add_column``, the footer would miss the new column — both the UDTF's
    declared output schema and its row reads must see the evolved shape
    (old fragments null-fill, same as the distributed reader)."""
    if _is_native_lance(path):
        from .sources import lance_format as LF

        return LF.arrow_schema_of(LF.read_native_manifest(path).fields)
    if _is_fragment_dataset(path):
        import pyarrow as pa

        from .sources.schema_evolution import dataset_schema
        from .types import UnsupportedTypeError, spark_type_to_arrow

        try:
            # plain list types (not FixedSizeList): the fragment files store
            # what Spark's parquet writer produced, and an explicit dataset
            # schema must match it for the null-fill read path
            return pa.schema([
                pa.field(f.name, spark_type_to_arrow(f.dataType), f.nullable)
                for f in dataset_schema(path).fields
            ])
        except UnsupportedTypeError:
            pass  # fall through to the footer for exotic physical types
    files = _dataset_files(path)
    if not files:
        raise FileNotFoundError(f"dataset {path} has no fragments")
    return pq.read_schema(files[0])


def _read_filtered(files: list[str], columns: list[str] | None, id_col: str,
                   ids: np.ndarray | None, schema=None):
    """Read ``columns`` of the rows whose ``id_col`` is in ``ids`` (or all
    rows when ids is None) — parquet row-group statistics prune non-matching
    groups, so the read is O(matching groups), not O(dataset). ``schema``
    (the manifest schema for fragment datasets) makes evolved columns
    visible: fragments written before an ``add_column`` null-fill it.
    ``.lance`` fragments (an index built over a REAL Lance dataset)
    decode through the stdlib codec with the id filter applied over the
    decoded batch — the decoder prunes per-column, not per-row."""
    import pyarrow as pa
    import pyarrow.dataset as pads

    native = [f for f in files if f.endswith(".lance")]
    parquet = [f for f in files if not f.endswith(".lance")]
    parts = []
    if parquet:
        ds = pads.dataset(parquet, format="parquet", schema=schema)
        flt = pads.field(id_col).isin(ids.tolist()) if ids is not None else None
        parts.append(ds.to_table(columns=columns, filter=flt))
    if native:
        import pyarrow.compute as pc

        from .sources import lance_format as LF

        for f in native:
            t = LF.read_native_file(f, columns=columns)
            if ids is not None:
                t = t.filter(pc.is_in(t.column(id_col),
                                      value_set=pa.array(ids.tolist())))
            parts.append(t)
    return pa.concat_tables(parts) if len(parts) != 1 else parts[0]


def _dataset_state_token(path: str):
    """Cheap staleness token for the flat-scan cache: the manifest
    version for fragment datasets (both formats — one directory
    listing), the path mtime otherwise (directory mtime changes when
    part files are added/removed). Without it, a search after an append
    served the cached pre-append corpus — the same gap the PQ/IVF/HNSW
    caches already close with their index-meta mtime keys."""
    if _is_fragment_dataset(path):
        from .sources import fragments as FR

        return FR.latest_version(path)
    try:
        return os.stat(path).st_mtime_ns
    except OSError:
        return None


def _load_flat(path: str, column: str):
    key = (path, column, "flat", _dataset_state_token(path))
    hit = _cache_get(key)
    if hit is None:
        if _is_native_lance(path):
            from .sources import lance_format as LF

            table = LF.read_native_dataset(path)
        else:
            import pyarrow.dataset as pads

            files = _dataset_files(path)
            schema = _read_schema(path) if _is_fragment_dataset(path) else None
            table = pads.dataset(files, format="parquet", schema=schema).to_table()
        mat = vector_matrix(table.column(column))
        planes = make_planes(num_planes=8, dim=mat.shape[1] if mat.size else 0)
        sigs = _row_signatures(mat, planes)
        hit = (table, mat, planes, sigs)
        _cache_put(key, hit)
    return hit


def _load_pq(path: str, column: str):
    """PQ searcher state: (meta, ids (n,), codes (n, m) uint8, lut_base
    (m, max_code+1, subdim) float64 centroid slabs). ~(m + 8) bytes/row —
    the 16x compression that keeps a worker alive at corpus scale.

    The cache key includes the index metadata mtime, so a rebuilt index
    (new codes/codebooks on disk) invalidates the cached state; dataset
    appends don't touch the index files and keep the entry valid (the
    unindexed tail is re-derived per search in _eval_indexed)."""
    from .pq import _pq_dir

    idx = _pq_dir(path, column)
    meta_path = os.path.join(idx, "index_meta.json")
    key = (path, column, "pq", os.stat(meta_path).st_mtime_ns)
    hit = _cache_get(key)
    if hit is None:
        with open(meta_path) as fh:
            meta = json.load(fh)
        m = meta["num_sub_vectors"]
        subdim = meta["dim"] // m
        books = pq.read_table(os.path.join(idx, "codebooks.parquet")).to_pylist()
        max_code = max(r["code"] for r in books)
        # centroid slab indexed by ACTUAL code value; gap rows (codes
        # dropped by Lloyd updates) stay NaN -> ADC inf -> never win
        cents = np.full((m, max_code + 1, subdim), np.nan, dtype=np.float64)
        for r in books:
            cents[r["sub"], r["code"], :] = r["centroid"]
        ct = pq.read_table(os.path.join(idx, "codes.parquet"))
        ids = ct.column(meta["id_col"]).to_numpy(zero_copy_only=False).astype(np.int64)
        carr = ct.column("codes").combine_chunks()
        codes = carr.flatten().to_numpy(zero_copy_only=False).reshape(len(ids), m).astype(np.uint8)
        hit = (meta, ids, codes, cents)
        _cache_put(key, hit)
    return hit


def _load_ivf(path: str, column: str, id_col: str):
    """IVF probe state: (centroid matrix, cell ids, assignment ids,
    assignment cells) — cached with the same LRU/mtime contract as the PQ
    state. Without this, every eval() call (one per UDTF input row)
    re-reads the O(rows) assignments table from disk."""
    from .index import _index_dir, load_centroids

    idx = _index_dir(path, column)
    meta_path = os.path.join(idx, "index_meta.json")
    key = (path, column, "ivf", os.stat(meta_path).st_mtime_ns)
    hit = _cache_get(key)
    if hit is None:
        cells, cmat = load_centroids(path, column)
        at = pq.read_table(os.path.join(idx, "assignments.parquet"))
        a_ids = at.column(id_col).to_numpy(zero_copy_only=False).astype(np.int64)
        a_cell = at.column("cell").to_numpy(zero_copy_only=False)
        hit = (cmat, cells, a_ids, a_cell)
        _cache_put(key, hit)
    return hit


def _row_signatures(mat: np.ndarray, planes) -> np.ndarray:
    """8-bit LSH signature per row (same hyperplanes as operators.ann)."""
    if mat.size == 0:
        return np.zeros(0, dtype=np.int64)
    pm = np.asarray(planes, dtype=np.float64)  # (P, dim)
    bits = (mat @ pm.T) > 0  # (n, P)
    weights = (1 << np.arange(pm.shape[0])).astype(np.int64)
    return bits @ weights


def _distances(mat: np.ndarray, q: np.ndarray, metric: str) -> np.ndarray:
    m = metric.lower()
    if m == "l2":
        return np.sqrt(((mat - q) ** 2).sum(axis=1))
    if m == "cosine":
        qn = q / np.linalg.norm(q)
        mn = np.linalg.norm(mat, axis=1)
        return 1.0 - (mat @ qn) / mn
    if m == "dot":
        return -(mat @ q)
    raise ValueError(f"unknown metric {metric!r}")


def _integer_id_index(idx_dir: str, file: str, id_col: str) -> bool:
    """The in-process index searchers key candidates through int64
    numpy arrays; an index built over a string-id corpus (which the
    DISTRIBUTED search handles fine — DataFrame joins are
    dtype-agnostic) must route to the flat exact scan instead of
    crashing on the coercion. One footer read, no data IO."""
    import pyarrow.dataset as pads
    import pyarrow.types as pat

    try:
        schema = pads.dataset(os.path.join(idx_dir, file), format="parquet",
                              partitioning="hive").schema
        f = schema.field(id_col)
    except (FileNotFoundError, KeyError, OSError):
        return False
    return pat.is_integer(f.type)


def uses_indexed_route(path: str, column: str, metric: str = "l2") -> bool:
    """True when eval() will search through the on-disk PQ index instead
    of materializing the table in the worker."""
    from .pq import has_pq_index

    if not (_is_fragment_dataset(path) and has_pq_index(path, column)):
        return False
    from .pq import _pq_dir

    with open(os.path.join(_pq_dir(path, column), "index_meta.json")) as fh:
        meta = json.load(fh)
    if not _integer_id_index(_pq_dir(path, column), "codes.parquet",
                             meta["id_col"]):
        return False
    return meta.get("metric", "l2") == metric.lower()


def uses_hnsw_route(path: str, column: str, metric: str = "l2") -> bool:
    """True when eval() will traverse the on-disk HNSW graph. The UDTF
    picks the most memory-frugal index first — PQ codes (~16 B/row) beat
    graph traversal (probed cells' raw vectors in worker memory) — so
    this route fires only when a graph exists and PQ codes don't; the
    distributed ``search_dataset`` makes the opposite call (graph first)
    because executors share the vector slabs."""
    from .hnsw import _hnsw_dir, has_hnsw_index

    if uses_indexed_route(path, column, metric):
        return False
    if not (_is_fragment_dataset(path) and has_hnsw_index(path, column)):
        return False
    with open(os.path.join(_hnsw_dir(path, column), "index_meta.json")) as fh:
        meta = json.load(fh)
    # the graph store renames id_col to 'id'; string-id graphs route flat
    if not _integer_id_index(_hnsw_dir(path, column), "vectors.parquet", "id"):
        return False
    return meta.get("metric", "l2") == metric.lower()


# per-cell HNSW states are slab-sized (one cell's vectors + graph), so
# they get their own, larger LRU: sharing the 4-slot table cache would
# thrash it on every multi-cell probe (the whole point of per-cell
# loading is holding ONLY the probed cells, not the whole index)
_CELL_CACHE_MAX = 32
_CELL_CACHE: "OrderedDict[tuple, tuple]" = OrderedDict()


def _cell_cache_get_or(key: tuple, load):
    if key in _CELL_CACHE:
        _CELL_CACHE.move_to_end(key)
        return _CELL_CACHE[key]
    value = load()
    _CELL_CACHE[key] = value
    while len(_CELL_CACHE) > _CELL_CACHE_MAX:
        _CELL_CACHE.popitem(last=False)
    return value


def _load_hnsw_meta(path: str, column: str):
    """(meta dict, built cell ids, index mtime): the build records its
    cell ids in the meta, so no directory is listed."""
    from .hnsw import _hnsw_dir

    meta_path = os.path.join(_hnsw_dir(path, column), "index_meta.json")
    mtime = os.stat(meta_path).st_mtime_ns
    key = (path, column, "hnsw-meta", mtime)
    hit = _cache_get(key)
    if hit is None:
        with open(meta_path) as fh:
            meta = json.load(fh)
        hit = (meta, meta["cells"], mtime)
        _cache_put(key, hit)
    return hit


def _load_hnsw_cell(path: str, column: str, cell: int, mtime: int):
    """ONE cell's searcher state (hnsw.load_cell), read from that cell's
    files ONLY — an un-probed cell's graph/vector files are never opened
    (pinned by tests/test_udtf_indexed.py), so worker memory and IO are
    O(probed cells), not O(index)."""
    from .hnsw import _hnsw_dir, load_cell

    return _cell_cache_get_or((path, column, "hnsw-cell", cell, mtime),
                              lambda: load_cell(_hnsw_dir(path, column), cell))


def _coverage(path: str, meta: dict) -> tuple[list[str], list[str]]:
    """index.split_by_index_coverage, as local file paths."""
    from .index import split_by_index_coverage

    covered, uncovered = split_by_index_coverage(path, meta.get("dataset_version", 0))
    return ([os.path.join(path, f) for f in covered],
            [os.path.join(path, f) for f in uncovered])


def _load_hnsw_cell_means(path: str, column: str, mtime: int):
    """Per-cell mean vectors ``(cells (k,), means (k, dim))`` — the probe
    fallback when NO coarse IVF centroid table exists. This is the one
    path that must look at every cell's vectors (there is no other
    structure to probe by); it runs once per index build and caches only
    the k x dim means, never the slabs."""
    from .hnsw import _hnsw_dir

    key = (path, column, "hnsw-means", mtime)
    hit = _cache_get(key)
    if hit is None:
        vt = pq.read_table(os.path.join(_hnsw_dir(path, column), "vectors.parquet"),
                           columns=["cell", "vec"])
        v_cell = vt.column("cell").to_numpy(zero_copy_only=False).astype(np.int64)
        v_mat = vector_matrix(vt.column("vec"))
        cells = np.unique(v_cell)
        means = np.stack([v_mat[v_cell == c].mean(axis=0) for c in cells])
        hit = (cells, means)
        _cache_put(key, hit)
    return hit


def _eval_hnsw(path: str, column: str, q: np.ndarray, k: int, metric: str,
               nprobes: int | None, ef: int | None) -> Iterator[tuple]:
    """In-process twin of hnsw.hnsw_search: probe cells, load and traverse
    ONLY the probed cells' graphs (partition-directory reads), merge,
    fetch ONLY the winner rows (pushed id filter), exact-score the
    unindexed tail."""
    from .hnsw import _traverse_cell

    meta, avail, mtime = _load_hnsw_meta(path, column)
    if q.shape[0] != meta["dim"]:
        raise ValueError(f"query dim {q.shape[0]} != indexed dim {meta['dim']}")
    id_col = meta["id_col"]
    eff = int(ef) if ef is not None else 100
    pool = max(eff, k)

    chosen = list(avail)
    if nprobes is not None and len(chosen) > int(nprobes):
        # probe the nprobes nearest cells by IVF centroid when the coarse
        # index exists (metadata-sized read); else by cached per-cell mean
        from .index import has_index, load_centroids, probe_cells

        if has_index(path, column):
            cc, cmat = load_centroids(path, column)
        else:
            cc, cmat = _load_hnsw_cell_means(path, column, mtime)
        avail_set = set(avail)
        chosen = sorted(c for c in probe_cells(cc, cmat, q, nprobes) if c in avail_set)

    dschema = _read_schema(path) if _is_fragment_dataset(path) else None
    merged: list[tuple[int, float]] = []
    for c in chosen:
        ids, mat, levels, adj = _load_hnsw_cell(path, column, c, mtime)
        merged.extend(_traverse_cell(ids, levels, adj, mat, q, pool, eff, metric))
    merged.sort(key=lambda t: (t[1], t[0]))
    win_ids = np.array([i for i, _ in merged[:pool]], dtype=np.int64)

    covered, uncovered = _coverage(path, meta)
    parts = []
    if covered:
        parts.append(_read_filtered(covered, None, id_col, win_ids, schema=dschema))
        if uncovered:
            parts.append(_read_filtered(uncovered, None, id_col, None, schema=dschema))
    else:
        parts.append(_read_filtered(_dataset_files(path), None, id_col, None,
                                    schema=dschema))
    import pyarrow as pa

    rows_tbl = pa.concat_tables(parts)
    row_d = _round_half_up6(_distances(vector_matrix(rows_tbl.column(column)), q, metric))
    rows = rows_tbl.to_pylist()
    row_ids = rows_tbl.column(id_col).to_numpy(zero_copy_only=False).astype(np.int64)
    final = np.lexsort((row_ids, row_d))[:k]
    for j in final.tolist():
        yield tuple(rows[j].values()) + (float(row_d[j]),)


def candidate_indices(path: str, column: str, query, nprobes: int | None = None,
                      ef: int | None = None) -> np.ndarray:
    """Row indices the flat-route search will score — the observable effect
    of the search-time knobs. ``nprobes`` caps probed LSH buckets (exact
    bucket first, then hamming-1 neighbors in plane order); ``ef`` bounds
    the candidate pool (HNSW's dynamic-list analog, floor at nothing here —
    callers pass max(ef, k)). No knobs -> every row."""
    table, mat, planes, sigs = _load_flat(path, column)
    if nprobes is None and ef is None:
        return np.arange(mat.shape[0])
    q = np.asarray([float(v) for v in query], dtype=np.float64)
    from .operators.ann import probe_signatures

    probes = probe_signatures(q, planes, multiprobe=True, nprobes=nprobes)
    cand = np.flatnonzero(np.isin(sigs, probes))
    if ef is not None:
        cand = cand[:ef]
    return cand


def _eval_indexed(path: str, column: str, q: np.ndarray, k: int, metric: str,
                  nprobes: int | None, ef: int | None,
                  refine_factor: int | None) -> Iterator[tuple]:
    """ADC over the PQ codes + exact refine reading ONLY candidate rows.
    Mirrors pq.pq_search's plan in-process (ref refine-factor,
    config/LanceOptions.java:232-237)."""
    meta, ids, codes, cents = _load_pq(path, column)
    # coverage re-derived per search (metadata-only): appends since the
    # index build land in `uncovered` and are exact-scored below
    covered, uncovered = _coverage(path, meta)
    m = meta["num_sub_vectors"]
    subdim = meta["dim"] // m
    id_col = meta["id_col"]
    if q.shape[0] != meta["dim"]:
        raise ValueError(f"query dim {q.shape[0]} != indexed dim {meta['dim']}")

    # lut[s, c] = ||q_s - centroid(s, c)||^2; NaN gap rows -> inf
    qs = q.reshape(m, subdim)
    lut = ((cents - qs[:, None, :]) ** 2).sum(axis=2)
    lut = np.where(np.isnan(lut), np.inf, lut)
    adc = np.sqrt(lut[np.arange(m)[None, :], codes].sum(axis=1))

    cand_pool_ids, cand_pool_adc = ids, adc
    if nprobes is not None:
        # IVF composition: restrict the ADC scan to the nprobes cells
        # nearest the query. HARD prune (drop unprobed rows), matching
        # pq_search's left-semi join — a soft inf-mask would let unprobed
        # rows backfill the candidate pool when the probed cells hold
        # fewer than r rows, so nprobes would no longer bound the set.
        from .index import has_index, probe_cells

        if has_index(path, column):
            cmat, cells, a_ids, a_cell = _load_ivf(path, column, id_col)
            chosen = probe_cells(cells, cmat, q, nprobes)
            probe_ids = a_ids[np.isin(a_cell, chosen)]
            sel = np.isin(ids, probe_ids)
            cand_pool_ids, cand_pool_adc = ids[sel], adc[sel]

    rf = int(refine_factor) if refine_factor is not None else 10
    r = max(k * max(rf, 1), k)
    if ef is not None:
        r = max(min(r, int(ef)), k)
    order = np.lexsort((cand_pool_ids, cand_pool_adc))[:r]
    cand_ids = cand_pool_ids[order]

    dschema = _read_schema(path) if _is_fragment_dataset(path) else None
    parts_ids, parts_d = [], []
    if covered:
        cand_tbl = _read_filtered(covered, [id_col, column], id_col, cand_ids,
                                  schema=dschema)
        parts_ids.append(cand_tbl.column(id_col).to_numpy(zero_copy_only=False).astype(np.int64))
        parts_d.append(_distances(vector_matrix(cand_tbl.column(column)), q, metric))
        if uncovered:
            # unindexed tail: exact-scored in full (appends are searchable
            # immediately; the index just covers less until refreshed)
            tail = _read_filtered(uncovered, [id_col, column], id_col, None,
                                  schema=dschema)
            parts_ids.append(tail.column(id_col).to_numpy(zero_copy_only=False).astype(np.int64))
            parts_d.append(_distances(vector_matrix(tail.column(column)), q, metric))
    else:
        # stale beyond recognition (no build-time file survives): exact
        # brute force over the whole dataset, same contract as pq_search
        full = _read_filtered(_dataset_files(path), [id_col, column], id_col, None,
                              schema=dschema)
        parts_ids.append(full.column(id_col).to_numpy(zero_copy_only=False).astype(np.int64))
        parts_d.append(_distances(vector_matrix(full.column(column)), q, metric))
    all_ids = np.concatenate(parts_ids)
    all_d = _round_half_up6(np.concatenate(parts_d))
    top = np.lexsort((all_ids, all_d))[:k]
    win_ids = all_ids[top]

    # fetch the winner rows and re-score each fetched ROW from its own
    # vector: pairing distances through an id->row dict would collapse
    # duplicate id values and attach one vector's distance to the other's
    # row (id uniqueness is never enforced for plain datasets)
    rows_tbl = _read_filtered(_dataset_files(path), None, id_col, win_ids,
                              schema=dschema)
    row_d = _round_half_up6(_distances(vector_matrix(rows_tbl.column(column)), q, metric))
    rows = rows_tbl.to_pylist()
    row_ids = rows_tbl.column(id_col).to_numpy(zero_copy_only=False).astype(np.int64)
    final = np.lexsort((row_ids, row_d))[:k]
    for j in final.tolist():
        yield tuple(rows[j].values()) + (float(row_d[j]),)


class VectorSearchUDTF:
    """Yields the dataset rows nearest to the query vector + _distance."""

    @staticmethod
    def analyze(path, column, query, k, metric, nprobes=None, ef=None, refine_factor=None):
        from pyspark.sql.functions import AnalyzeResult
        from pyspark.sql.pandas.types import from_arrow_schema

        schema = from_arrow_schema(_read_schema(path.value))
        out = StructType(schema.fields).add("_distance", DoubleType())
        return AnalyzeResult(schema=out)

    def eval(self, path: str, column: str, query: list, k: int, metric: str,
             nprobes: int | None = None, ef: int | None = None,
             refine_factor: int | None = None) -> Iterator[tuple]:
        q = np.asarray([float(v) for v in query], dtype=np.float64)
        if q.size == 0 or not np.all(np.isfinite(q)):
            raise ValueError("query vector must be non-empty and finite")
        k = int(k)
        # same knob validation as every DataFrame search path (options.
        # validate): silently accepting ef=0 here would make the SQL route
        # diverge from pq_search/lsh_knn's hard error
        for knob, v in (("nprobes", nprobes), ("ef", ef),
                        ("refine-factor", refine_factor)):
            if v is not None and int(v) <= 0:
                raise ValueError(f"vector.{knob} must be positive")
        if uses_indexed_route(path, column, metric):
            yield from _eval_indexed(path, column, q, k, metric,
                                     nprobes, ef, refine_factor)
            return
        if uses_hnsw_route(path, column, metric):
            yield from _eval_hnsw(path, column, q, k, metric, nprobes, ef)
            return
        table, mat, planes, sigs = _load_flat(path, column)
        eff_ef = None if ef is None else max(int(ef), k)
        cand = candidate_indices(path, column, q, nprobes, eff_ef)
        d = _round_half_up6(_distances(mat[cand], q, metric))
        if refine_factor is not None and int(refine_factor) > 1:
            # coarse select k*rf on a 2-decimal distance, exact re-rank
            coarse = np.round(d, 2)
            keep = np.lexsort((cand, coarse))[: k * int(refine_factor)]
            cand, d = cand[keep], d[keep]
        order = np.lexsort((cand, d))[:k]
        top_idx = cand[order]
        top_d = d[order]
        rows = table.take(top_idx).to_pylist()  # k rows only
        for row, dist in zip(rows, top_d):
            yield tuple(row.values()) + (float(dist),)


def register_vector_search(spark: SparkSession, name: str = "vector_search") -> None:
    """Session-scope registration (the reference's catalog refuses to store
    functions — ref table/LanceCatalog.java:648-678)."""
    spark.udtf.register(name, udtf(VectorSearchUDTF))


# --- full-text search UDTF ---------------------------------------------------

def _fts_prune_fragments(m, idx_path: str, terms: list[str]):
    """Manifest-stats fragment pruning for a term lookup — delegates to
    the SAME conservative predicates the datasource planner uses
    (_fragment_may_match zone maps + _bloom_may_match sidecars), so the
    in-process route cannot drift from the distributed one."""
    from .sources.fts import _prune_postings_files

    return _prune_postings_files(m, idx_path, terms)


_FTS_UDTF_MAX_POSTINGS = 5_000_000


def _round_half_up6(arr: "np.ndarray") -> "np.ndarray":
    """Round to 6 decimals with HALF_UP — the rounding Spark's
    ``F.round`` applies (BigDecimal.valueOf(double).setScale(6,
    HALF_UP), i.e. decided on the double's SHORTEST DECIMAL repr) — so
    the in-process scores keep bit-parity with the distributed
    ``fts_search`` at exact half-ulp boundaries, where numpy's default
    half-to-even would flip the last digit.

    Vectorized fast path (floor(x*1e6 + 0.5)); elements whose scaled
    fraction lands within 1e-6 of the .5 boundary — where float product
    error could cross it — are re-rounded exactly through Decimal on
    the repr string, which is the same shortest-repr contract
    java.lang.Double.toString uses."""
    scaled = arr * 1e6
    out = np.floor(scaled + 0.5) / 1e6
    frac = np.abs(scaled - np.floor(scaled) - 0.5)
    amb = frac < 1e-6
    if amb.any():
        from decimal import ROUND_HALF_UP, Decimal

        q = Decimal(1).scaleb(-6)
        for i in np.nonzero(amb)[0]:
            out[i] = float(Decimal(repr(float(arr[i])))
                           .quantize(q, rounding=ROUND_HALF_UP))
    return out


def _eval_fts(path: str, text_col: str, query: str, k: int):
    """BM25 over the FTS postings index, in-process: zone-map + bloom
    fragment pruning, pyarrow row-group-pruned posting reads, the same
    left-to-right query-order float sum as sources.fts.fts_search. The
    query is tokenized with the INDEX's analyzer (meta), mirroring
    fts_search. Returns (id_col, analyzer, terms, top_ids, top_scores)."""
    import pyarrow.dataset as pads

    from .operators.text import BM25_B, BM25_K1
    from .sources.fts import analyze_query

    from .sources import fragments as _FR

    idx_path = os.path.join(path, "_indexes", text_col, "fts")
    try:
        m0 = _FR.read_manifest(idx_path)
    except FileNotFoundError:
        raise ValueError(f"no fts index for {text_col!r} at {path} — "
                         "create_fts_index first")
    info = m0.meta.get("fts")
    if not info:
        raise ValueError(f"{idx_path} is not an fts index")
    terms = list(dict.fromkeys(
        analyze_query(query, info.get("analyzer", "whitespace"))))
    if not terms:
        raise ValueError("empty query")
    files = _fts_prune_fragments(m0, idx_path, terms)
    n = float(info["n_docs"])
    avgdl = info["sum_dl"] / max(info["n_docs"], 1)
    id_col = info["id_col"]
    analyzer = info.get("analyzer", "whitespace")
    if not files:
        return id_col, analyzer, terms, np.empty(0, np.int64), np.empty(0)
    ds = pads.dataset(files, format="parquet")
    tbl = ds.to_table(columns=["term", "id", "tf", "dl"],
                      filter=pads.field("term").isin(terms))
    # the UDTF scores in ONE python worker — right for interactive k-row
    # lookups, wrong for stop-word-sized posting lists. The distributed
    # fts_search shards the same computation; refuse instead of OOMing.
    if tbl.num_rows > _FTS_UDTF_MAX_POSTINGS:
        raise ValueError(
            f"query terms match {tbl.num_rows} postings (> "
            f"{_FTS_UDTF_MAX_POSTINGS}) — too large for the in-process "
            "SQL route; use sources.fts.fts_search (distributed) instead")
    t_arr = tbl.column("term").to_pylist()
    # ids keep the posting column's NATIVE dtype (int64 corpus -> int64
    # array, string/UUID corpus -> object array of str) — np.unique
    # sorts either, and downstream keys/filters stay type-faithful, so
    # a string-id corpus works through the SQL route
    ids = tbl.column("id").to_numpy(zero_copy_only=False)
    tf = tbl.column("tf").to_numpy(zero_copy_only=False).astype(np.float64)
    dl = tbl.column("dl").to_numpy(zero_copy_only=False).astype(np.float64)
    uniq, inv = np.unique(ids, return_inverse=True)
    total = np.zeros(uniq.shape[0], np.float64)
    denom_norm = (1.0 - BM25_B) + BM25_B * dl / float(avgdl)
    t_np = np.asarray(t_arr)
    # per-term accumulation in QUERY order — the same fixed operator tree
    # as fts_search / bm25_score_of, so scores match bit-for-bit
    for t in terms:
        sel = t_np == t
        if not sel.any():
            continue
        df = float(sel.sum())
        idf = np.log(1.0 + ((n - df) + 0.5) / (df + 0.5))
        contrib = idf * (tf[sel] * (BM25_K1 + 1.0)) / (
            tf[sel] + BM25_K1 * denom_norm[sel])
        part = np.zeros_like(total)
        part[inv[sel]] = contrib
        total = total + part
    total = _round_half_up6(total)
    # np.unique returned uniq ASCENDING, so a stable sort on -total
    # breaks score ties by ascending id — same order as fts_search's
    # ORDER BY bm25 DESC, id ASC, and it works for string ids too
    # (lexsort rejects object dtypes)
    top = np.argsort(-total, kind="stable")[:k]
    return id_col, analyzer, terms, uniq[top], total[top]


def _snippet(text: str, terms: list[str], window: int = 40,
             analyzer: str = "whitespace") -> str:
    """±window chars around the first query-term hit (token-boundary
    match under the INDEX's analyzer — a raw token like 'Vector,'
    matches term 'vector' on a simple-analyzer index), ellipsized; the
    document head when nothing matches."""
    import re

    def _hits(raw: str) -> bool:
        if analyzer == "simple":
            return any(p in terms for p in re.findall(r"[a-z0-9]+", raw.lower()))
        return raw in terms

    toks = text.split(" ")
    pos = 0
    for t in toks:
        if _hits(t):
            start = max(0, pos - window)
            end = min(len(text), pos + len(t) + window)
            return (("…" if start > 0 else "") + text[start:end]
                    + ("…" if end < len(text) else ""))
        pos += len(t) + 1
    return text[: 2 * window] + ("…" if len(text) > 2 * window else "")


class TextSearchUDTF:
    """Yields the top-k documents for a free-text query by BM25, served
    from the FTS inverted index (sources/fts.py): full document row plus
    the ``bm25`` score and a ``snippet`` (±40 chars around the first
    hit). SQL twin of ``fts_search`` — identical scores (same float
    operator tree), candidate set = documents containing at least one
    query term."""

    @staticmethod
    def analyze(path, text_col, query, k):
        from pyspark.sql.functions import AnalyzeResult
        from pyspark.sql.pandas.types import from_arrow_schema
        from pyspark.sql.types import StringType

        schema = from_arrow_schema(_read_schema(path.value))
        out = (StructType(schema.fields).add("bm25", DoubleType())
               .add("snippet", StringType()))
        return AnalyzeResult(schema=out)

    def eval(self, path: str, text_col: str, query: str, k: int) -> Iterator[tuple]:
        k = int(k)
        if k < 0:
            raise ValueError("k must be >= 0")
        id_col, analyzer, terms, top_ids, top_scores = _eval_fts(
            path, text_col, str(query), k)
        if top_ids.size == 0:
            return
        dschema = _read_schema(path) if _is_fragment_dataset(path) else None
        rows_tbl = _read_filtered(_dataset_files(path), None, id_col, top_ids,
                                  schema=dschema)
        # keys stay the id column's native python type (int or str) —
        # int() here crashed string-id corpora through the SQL route
        rows = {r[id_col]: r for r in rows_tbl.to_pylist()}
        for i, s in zip(top_ids.tolist(), top_scores.tolist()):
            row = rows.get(i)
            if row is None:
                # stale index (covered fragment rewritten, refresh pending):
                # the posting ranks a doc the table no longer has — skip it
                # rather than crash; refresh_fts_index reconciles
                continue
            snip = _snippet(str(row.get(text_col) or ""), terms,
                            analyzer=analyzer)
            yield tuple(row.values()) + (float(s), snip)


def register_text_search(spark: SparkSession, name: str = "text_search") -> None:
    """Session-scope registration, mirroring ``register_vector_search``."""
    spark.udtf.register(name, udtf(TextSearchUDTF))
