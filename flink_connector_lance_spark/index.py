"""ANN index builder (ref LanceIndexBuilder.java).

Two backends behind one ``build_index`` surface, mirroring the dataset
layer's design:

- **native** (import-gated): ``lance.dataset(...).create_index`` for
  IVF_PQ / IVF_HNSW_PQ / IVF_FLAT with the reference's parameter set and
  validation (ref :125-179, defaults ref config/LanceOptions.java:123-190).
- **emulated** (always available): a real IVF index over the
  parquet-fragment backend. As lance-core's ``create_index`` does, the
  build trains in-process on a bounded sample: one TakeOrdered job
  brings at most ``SAMPLE_RATE`` x ``index.num-partitions`` rows to the
  driver, numpy Lloyd k-means fits the centroids, and one mapInArrow pass
  assigns every row to its cell, persisted columnar. ``ivf_index_knn``
  answers queries by probing the ``nprobes`` nearest cells only
  (centroid select is driver-side on the tiny centroid table; candidate
  fetch is a scan with the cell filter pushed down + a semi-join).
  This is the same prune-then-exact-score shape Lance's IVF uses,
  expressed as DataFrame plans.

Both return ``IndexBuildResult{success, duration, error}`` (ref :380-435).

Index layout (emulated), one for local and s3:// datasets:
``<dataset>/_indexes/<column>/<kind>/`` holds ``index_meta.json``, written
last — its presence means the index exists — beside the kind's files.
Every file but the two relations Spark scans is written and read through
``sources/fs.store_for``:

- ``ivf/``: ``centroids.parquet/part-00000.parquet`` and the
  ``assignments`` relation (id, cell);
- ``pq/``: ``codebooks.parquet/part-00000.parquet`` and the ``codes``
  relation (id, codes) (pq.py);
- ``hnsw/``: ``graph.parquet/cell=<c>/part-00000.parquet`` and
  ``vectors.parquet/cell=<c>/part-00000.parquet`` per built cell, the
  built cell ids in the meta (hnsw.py).

Centroids and codebooks are driver-built and pyarrow-read on the driver,
no Spark job. The two relations Spark scans are the one location branch
(``store_relation``): locally ``<name>.parquet`` directories, on s3
engine datasets ``<name>`` read through the ``format("lance")`` reader.
The exact re-rank of every indexed search reads its rows through
``candidate_rows``.
"""

from __future__ import annotations

import dataclasses
import json
import os
import time
from dataclasses import dataclass

import numpy as np
import pyspark.sql.functions as F

from .options import DatasetOptions, DistanceMetric, IndexType
from .io import read_parquet_memo
from .sources import fragments as FR
from .sources import fs

INDEXES_DIR = "_indexes"
META_FILE = "index_meta.json"
PART_FILE = "part-00000.parquet"
# the index kinds, in the order search_dataset routes and refresh_index
# takes the primary meta
KINDS = ("hnsw", "pq", "ivf")


def _storage(s3) -> "dict | None":
    return s3.to_storage_options() if s3 is not None else None


def _index_dir(path: str, column: str, kind: str = "ivf") -> str:
    """``<dataset>/_indexes/<column>/<kind>``, absolute: tasks open it."""
    return os.path.join(fs.absolute(path), INDEXES_DIR, column, kind)


def read_meta(path: str, column: str, kind: str,
              storage: dict | None = None) -> dict | None:
    """The ``index_meta.json`` of one index kind on ``column``, or None
    when there is none. The meta is written last, so its presence means
    the index is whole."""
    key = os.path.join(_index_dir(path, column, kind), META_FILE)
    try:
        with fs.store_for(path, storage).open(key) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return None


def _kind_metas(path: str, column: str,
                storage: dict | None = None) -> dict[str, dict]:
    """The meta of every index kind present on ``column``, by kind."""
    metas = {kind: read_meta(path, column, kind, storage) for kind in KINDS}
    return {kind: m for kind, m in metas.items() if m is not None}


def has_index(path: str, column: str, storage: dict | None = None,
              kind: str = "ivf") -> bool:
    return fs.store_for(path, storage).exists(
        os.path.join(_index_dir(path, column, kind), META_FILE))


def begin_build(idx_dir: str, storage: dict | None) -> None:
    """Remove whatever a previous build left under ``idx_dir``: its meta
    goes first with it, so a build that dies midway leaves no index."""
    store = fs.store_for(idx_dir, storage)
    if store.exists(idx_dir):
        store.rm(idx_dir, recursive=True)


def write_meta(idx_dir: str, meta: dict, storage: dict | None) -> None:
    """Write an index's meta, the last file of its build, in one
    all-or-nothing store write."""
    with fs.store_for(idx_dir, storage).writing(os.path.join(idx_dir, META_FILE)) as tmp:
        with open(tmp, "w") as fh:
            json.dump(meta, fh)


def write_table(table, dir_key: str, storage: dict | None = None) -> None:
    """Write a small Arrow table as ``<dir_key>/part-00000.parquet``
    through the store."""
    import pyarrow.parquet as pq

    with fs.store_for(dir_key, storage).writing(os.path.join(dir_key, PART_FILE)) as tmp:
        pq.write_table(table, tmp)


def read_table(dir_key: str, storage: dict | None = None):
    """The Arrow table ``write_table`` wrote at ``dir_key``: one store
    ``open``, no Spark job."""
    import pyarrow.parquet as pq

    with fs.store_for(dir_key, storage).open(os.path.join(dir_key, PART_FILE)) as fh:
        return pq.read_table(fh)


def store_relation(df, idx_dir: str, name: str, s3=None,
                   partition_by: str | None = None) -> None:
    """Persist one index relation Spark scans at search time (the IVF
    ``assignments``, the PQ ``codes``) — the one location branch of the
    index plane. Locally a parquet directory ``<name>.parquet``,
    ``partition_by`` a hive partition column, so a probe's filter on it
    reads only the probed partitions. On an object store an engine
    dataset ``<name>``, clustered and bloomed on ``partition_by``, so the
    same filter prunes whole fragments by zone map; Spark has no s3
    parquet filesystem here, the ``format("lance")`` reader reads it."""
    cols = [partition_by] if partition_by else []
    if fs.is_remote(idx_dir):
        from .sources.writer import write_dataset

        key = os.path.join(idx_dir, name)
        write_dataset(df, key, mode="overwrite", options=DatasetOptions(
            path=key, s3=s3, sort_columns=cols, cluster_on_write=bool(cols),
            bloom_columns=cols))
    else:
        w = df.write.mode("overwrite")
        if cols:
            w = w.partitionBy(*cols)
        w.parquet(os.path.join(idx_dir, name + ".parquet"))


def load_relation(spark, idx_dir: str, name: str, s3=None):
    """The relation ``store_relation`` persisted."""
    if fs.is_remote(idx_dir):
        from .sources.reader import read_dataset

        key = os.path.join(idx_dir, name)
        return read_dataset(spark, key, options=DatasetOptions(path=key, s3=s3))
    return read_parquet_memo(spark, os.path.join(idx_dir, name + ".parquet"))


@dataclass
class IndexBuildResult:
    """ref LanceIndexBuilder.java:380-435."""

    success: bool
    duration_seconds: float
    error: str | None = None
    index_type: IndexType | None = None
    column: str | None = None


def validate_index_params(opts: DatasetOptions, column: str, schema_names: list[str]) -> None:
    """Column existence (ref LanceIndexBuilder.java:210-218) on top of the
    option-range validation done by DatasetOptions."""
    if column not in schema_names:
        raise ValueError(f"index column {column!r} not in dataset schema {schema_names}")


# Training rows per centroid, lance-core's default IVF/PQ ``sample_rate``:
# a k-centroid model trains on at most SAMPLE_RATE * k rows, so training
# is bounded by k, not by the table, and a table of at most that many rows
# trains on every row.
SAMPLE_RATE = 256


def training_sample(vecs, k: int) -> np.ndarray:
    """The rows a k-centroid model trains on: (n, dim) float64, ascending id.

    ``vecs`` is a (rid, vd) relation. One TakeOrdered job keeps the
    SAMPLE_RATE * k rows lowest in (xxhash64(rid), rid), a fixed pseudo-
    random subset, so two builds over the same rows train on the same
    sample."""
    rows = vecs.orderBy(F.xxhash64("rid"), "rid").limit(SAMPLE_RATE * k).toArrow()
    order = np.argsort(rows.column("rid").to_numpy(), kind="stable")
    return vector_matrix(rows.column("vd"))[order]


def vector_matrix(col) -> np.ndarray:
    """(n, dim) float64 matrix of an Arrow list<double> column; a NULL
    vector or vectors of unequal length raise ValueError."""
    import pyarrow as pa
    import pyarrow.compute as pc

    arr = col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col
    if arr.null_count:
        raise ValueError("NULL vector in the input")
    lengths = pc.min_max(pc.list_value_length(arr))
    if lengths["min"].as_py() != lengths["max"].as_py():
        raise ValueError("vectors differ in length")
    flat = arr.flatten().to_numpy(zero_copy_only=False).astype(np.float64, copy=False)
    return flat.reshape(len(arr), lengths["max"].as_py() or 0)


def sq_l2(x: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Squared L2 from each row of ``x`` (n, d) to each row of ``c``
    (k, d), as an (n, k) matrix. The terms ``(x_i - c_i)**2`` are summed
    left to right, the order of Spark's unrolled SQL chain and of
    DuckDB's ``list_sum``, so the doubles are the ones they compute."""
    acc = np.zeros((x.shape[0], c.shape[0]))
    for i in range(x.shape[1]):
        t = x[:, i, None] - c[None, :, i]
        acc += t * t
    return acc


def nearest(x: np.ndarray, cents: np.ndarray, sqrt: bool) -> np.ndarray:
    """Position of each row's nearest centroid; a tie goes to the lowest
    position. ``sqrt`` ranks by L2 rather than squared L2: the square root
    can round two distances to one double, and the tie then breaks the
    way a SQL ``ORDER BY sqrt(..), cell`` does."""
    d = sq_l2(x, cents)
    return (np.sqrt(d) if sqrt else d).argmin(axis=1)


def lloyd(x: np.ndarray, k: int, iterations: int,
          sqrt: bool) -> tuple[np.ndarray, np.ndarray]:
    """Lloyd k-means over the training rows ``x`` (ascending id order):
    returns (cell ids, centroids), ascending by cell. Seeds are the k
    lowest-id rows (cells 0..k-1); each iteration assigns every row to its
    nearest centroid and replaces each centroid by its rows' mean. A cell
    that gets no rows is dropped, so cell ids may have gaps."""
    cells, cents = np.arange(min(k, len(x))), x[:k]
    for _ in range(iterations):
        a = nearest(x, cents, sqrt)
        order = np.argsort(a, kind="stable")
        keep, starts = np.unique(a[order], return_index=True)
        cents = np.stack([g.mean(axis=0) for g in np.split(x[order], starts[1:])])
        cells = cells[keep]
    return cells, cents


def probe_cells(cells: np.ndarray, cents: np.ndarray, q, nprobes: int) -> list[int]:
    """The ``nprobes`` cells whose centroids are nearest ``q`` by L2,
    ordered by (distance, cell)."""
    d = np.sqrt(sq_l2(np.asarray([q], dtype=np.float64), cents)[0])
    return [int(cells[j]) for j in np.lexsort((cells, d))[:int(nprobes)]]


def load_centroids(path: str, column: str, storage: dict | None = None):
    """(cell ids, centroid matrix) of the IVF index on ``column``, read
    on the driver through the store."""
    rows = read_table(os.path.join(_index_dir(path, column), "centroids.parquet"), storage)
    return rows.column("cell").to_numpy(), vector_matrix(rows.column("centroid"))


def assign_cells(vecs, cells: np.ndarray, cents: np.ndarray):
    """(rid, cell) of every row of a (rid, vd) relation: its nearest
    centroid by L2, a tie going to the lowest cell. One mapInArrow pass,
    no join and no shuffle."""
    from pyspark.sql.types import IntegerType, StructField, StructType

    def encode(batches):
        import pyarrow as pa

        for b in batches:
            pos = nearest(vector_matrix(b.column("vd")), cents, sqrt=True)
            yield pa.RecordBatch.from_arrays(
                [b.column("rid"), pa.array(cells[pos], pa.int32())], ["rid", "cell"])

    schema = StructType([vecs.schema["rid"], StructField("cell", IntegerType())])
    return vecs.mapInArrow(encode, schema)


def _emulated_ivf_build(spark, path: str, column: str, id_col: str,
                        opts: DatasetOptions, metric: DistanceMetric,
                        replace: bool, iterations: int = 4) -> None:
    import pyarrow as pa

    from .sources.maintenance import _file_scan

    storage = _storage(opts.s3)
    idx_dir = _index_dir(path, column)
    if has_index(path, column, storage) and not replace:
        # ref LanceIndexBuilder.java:173-179 replace flag semantics
        raise ValueError(f"index on {column!r} already exists; pass replace=True")
    df = _file_scan(spark, path, FR.read_manifest_compat(path, storage_options=storage),
                    opts.s3)
    validate_index_params(opts, column, df.columns)
    vecs = df.select(
        F.col(id_col).alias("rid"),
        F.col(column).cast("array<double>").alias("vd"),
    )
    x = training_sample(vecs, opts.index_num_partitions)
    if not len(x):
        raise ValueError("cannot index an empty dataset")
    cells, cents = lloyd(x, opts.index_num_partitions, iterations, sqrt=True)
    meta = {
        "index_type": "ivf_flat_emulated",
        "column": column,
        "id_col": id_col,
        "metric": metric.value,
        "num_partitions": min(opts.index_num_partitions, len(x)),
        "dim": x.shape[1],
        "training_rows": len(x),
        "dataset_version": FR.latest_version(path, storage),
    }
    assigns = assign_cells(vecs, cells, cents).withColumnRenamed("rid", id_col)
    if len(x) < SAMPLE_RATE * opts.index_num_partitions:
        # every row trained, so the rows fit one task: one file per cell
        assigns = assigns.coalesce(1)
    cent_table = pa.table({"cell": pa.array(cells, pa.int32()),
                           "centroid": pa.array(list(cents), pa.list_(pa.float64()))})
    begin_build(idx_dir, storage)
    write_table(cent_table, os.path.join(idx_dir, "centroids.parquet"), storage)
    # partitioned by cell: probing nprobes cells reads ONLY those cells'
    # assignments — at scale the un-probed ~99% of the assignment index is
    # never touched, mirroring how Lance's IVF only opens the probed
    # partitions' row-id lists
    store_relation(assigns, idx_dir, "assignments", opts.s3, partition_by="cell")
    write_meta(idx_dir, meta, storage)


def build_index(
    path: str,
    column: str,
    index_type: "str | IndexType" = IndexType.IVF_PQ,
    metric: "str | DistanceMetric" = DistanceMetric.L2,
    replace: bool = False,
    options: DatasetOptions | None = None,
    spark=None,
    id_col: str = "id",
) -> IndexBuildResult:
    """Build an ANN index. Native lance when present; otherwise the
    emulated IVF build (requires ``spark`` + ``id_col``)."""
    opts = options or DatasetOptions(path=path)
    itype = IndexType.parse(index_type)
    metric = DistanceMetric.parse(metric)
    start = time.perf_counter()
    try:
        if FR.HAVE_LANCE:  # native path (exercised via the fake lance in tests)
            import lance

            ds = lance.dataset(path)
            validate_index_params(opts, column, ds.schema.names)
            kwargs = {
                "num_partitions": opts.index_num_partitions,
                "replace": replace,
                "metric": metric.value,
            }
            if itype in (IndexType.IVF_PQ, IndexType.IVF_HNSW_PQ):
                kwargs["num_sub_vectors"] = opts.index_num_sub_vectors or 16
                kwargs["num_bits"] = opts.index_num_bits
            if itype is IndexType.IVF_HNSW_PQ:
                kwargs["m"] = opts.index_m
                kwargs["ef_construction"] = opts.index_ef_construction
            ds.create_index(column, index_type=itype.value.upper(), **kwargs)
            return IndexBuildResult(True, time.perf_counter() - start, None, itype, column)
        if spark is None:
            raise FR.LanceUnavailableError(
                "native ANN index building (pass spark= for the emulated IVF build)"
            )
        _emulated_ivf_build(spark, path, column, id_col, opts, metric, replace)
        if itype is IndexType.IVF_HNSW_PQ:
            # real per-cell HNSW graphs over the IVF cells just built
            # (ref LanceIndexBuilder.java:140-157, params
            # config/LanceOptions.java:166-190). Honest delta vs Lance:
            # traversal scores raw vectors, not PQ codes (hnsw.py docstring).
            from .hnsw import build_hnsw_index

            build_hnsw_index(
                spark, path, column, id_col=id_col,
                m=opts.index_m, ef_construction=opts.index_ef_construction,
                max_level=opts.index_max_level, metric=metric.value,
                replace=replace, s3=opts.s3,
            )
        if itype in (IndexType.IVF_PQ, IndexType.IVF_HNSW_PQ):
            # the PQ half of IVF_PQ: per-sub-space codebooks + compact codes
            # (pq.py)
            from .pq import build_pq_index

            build_pq_index(
                spark, path, column, id_col=id_col,
                num_sub_vectors=opts.index_num_sub_vectors or 16,
                num_bits=min(opts.index_num_bits, 8),
                metric=metric.value, replace=replace, s3=opts.s3,
            )
        return IndexBuildResult(True, time.perf_counter() - start, None, itype, column)
    except Exception as e:  # noqa: BLE001 - result object carries the error (ref :380-435)
        return IndexBuildResult(False, time.perf_counter() - start, str(e), itype, column)


def split_by_index_coverage(path: str, indexed_version: int,
                            storage: dict | None = None) -> tuple[list[str], list[str]]:
    """Partition the CURRENT manifest's fragment files (root-relative
    names) into (covered, uncovered) by an index built at
    ``indexed_version``.

    A fragment file present in both manifests is fully covered (fragments
    are immutable); a file added since — appends, compaction output,
    delete/merge survivors — holds rows the index has never seen. Indexed
    search must brute-force exactly the uncovered tail and union it with
    the indexed candidates (Lance's unindexed-fraction contract: an index
    never goes silently stale, it just covers less until rebuilt).
    Deleted rows need no handling: their ids simply match nothing.

    If the indexed version's manifest was vacuumed, every current file is
    conservatively uncovered — the search degrades to exact brute force,
    trading speed for correctness."""
    current = FR.read_manifest_compat(path, storage_options=storage)
    try:
        at_build = {f.file for f in FR.read_manifest_compat(
            path, indexed_version, storage_options=storage).fragments}
    except FileNotFoundError:
        at_build = set()
    covered = [f.file for f in current.fragments if f.file in at_build]
    uncovered = [f.file for f in current.fragments if f.file not in at_build]
    return covered, uncovered


def candidate_rows(spark, path: str, meta: dict, ids, s3=None):
    """The rows an indexed search re-ranks exactly: those of the files the
    index covers whose id is in ``ids`` (a one-column relation of the
    index's id column), plus every row of the files added since the build
    (``split_by_index_coverage``); every row when no build-time file
    survives. ``ids`` is joined without a broadcast hint: probed ids can
    be a few % of the dataset, and AQE broadcasts them when they are
    small."""
    from .sources.maintenance import _file_scan

    storage = _storage(s3)
    covered, uncovered = split_by_index_coverage(
        path, meta.get("dataset_version", 0), storage)
    manifest = FR.read_manifest_compat(path, storage_options=storage)
    if not covered:
        return _file_scan(spark, path, manifest, s3)
    # files=None: every fragment is covered, scanned in manifest order
    rows = _file_scan(spark, path, manifest, s3, files=covered if uncovered else None)
    rows = rows.join(ids, on=meta["id_col"], how="left_semi")
    if uncovered:
        rows = rows.unionByName(_file_scan(spark, path, manifest, s3, files=uncovered))
    return rows


def ivf_index_knn(
    spark,
    path: str,
    column: str,
    query,
    k: int = 10,
    nprobes: int | None = None,
    ef: int | None = None,
    options: DatasetOptions | None = None,
    tiebreak_cols=(),
    round_digits: int | None = None,
    filter=None,
    _meta: dict | None = None,
):
    """Indexed ANN search over the emulated IVF index: pick the nprobes
    nearest centroids (driver-side on a k_cells-row relation), fetch ONLY
    rows assigned to probed cells (cell filter pushed into the
    assignments parquet scan, broadcast semi-join into the dataset),
    exact top-k on the survivors — the reference's search shape
    (ref LanceVectorSearch.java:146-201) without the native library.
    ``ef`` bounds the scored candidate pool to the max(ef, k)
    coarse-nearest probed rows (``vector.ef``, the same contract as
    lsh_candidate_pool / pq_search). s3:// datasets run the same plan
    over the same index layout."""
    from .functions import vector as V
    from .operators.knn import knn

    opts = options or DatasetOptions(path=path)
    storage = _storage(opts.s3)
    # _meta: pre-fetched index metadata (search_dataset's single
    # _kind_metas pass) — skips the meta re-fetch
    meta = _meta if _meta is not None else read_meta(path, column, "ivf", storage)
    if meta is None:
        raise FileNotFoundError(f"no IVF index on {path}:{column}; build_index first")
    nprobes = nprobes if nprobes is not None else opts.vector_nprobes
    q = V.validate_query_vector(query)

    # centroid selection is driver-side over the num_partitions centroids
    # (ref: Lance scans the centroid table in-process too); the chosen
    # cell ids are a handful of ints, so the probe becomes a partition
    # filter on the cell-partitioned assignments — only the probed cells'
    # files are ever read
    chosen = probe_cells(*load_centroids(path, column, storage), q, nprobes)
    probe_ids = load_relation(spark, _index_dir(path, column), "assignments", opts.s3) \
        .filter(F.col("cell").isin(chosen))
    candidates = candidate_rows(spark, path, meta, probe_ids.select(meta["id_col"]), opts.s3)
    eff = ef if ef is not None else (options.vector_ef if options is not None else None)
    if eff is not None:
        if eff <= 0:
            raise ValueError("ef must be positive")
        # candidate-pool bound: keep the max(ef, k) coarse-nearest probed
        # rows (2-decimal distance) before the exact top-k
        candidates = knn(candidates, column, q, k=max(int(eff), k),
                         metric=meta.get("metric", "l2"), filter=filter,
                         tiebreak_cols=tiebreak_cols, round_digits=2,
                         distance_col="_coarse").drop("_coarse")
        filter = None  # already applied inside the pool selection
    # filtered ANN (ref LanceVectorSearch.java:166-201): the predicate
    # narrows the probed candidate set before the exact top-k
    return knn(candidates, column, q, k=k, metric=meta.get("metric", "l2"),
               filter=filter, tiebreak_cols=tiebreak_cols, round_digits=round_digits)


def refresh_index(
    path: str,
    column: str,
    spark=None,
    id_col: str = "id",
    max_uncovered_fraction: float = 0.2,
    options: DatasetOptions | None = None,
) -> "IndexBuildResult | None":
    """Rebuild the index when the unindexed tail has grown past
    ``max_uncovered_fraction`` of the table's rows — the maintenance
    counterpart of the staleness-aware search: the tail is always
    CORRECT (exact-scanned), this bounds how much of every query pays
    the brute-force price. Returns None when the index is fresh enough.
    An s3:// index rebuilds with ``options.s3``.

    The rebuild rehydrates the index geometry (num_partitions / m /
    ef_construction / num_sub_vectors / num_bits) from the STORED metas —
    a maintenance-triggered refresh must reproduce what was built, not
    silently reshape the index to whatever the caller's option defaults
    happen to be."""
    storage = _storage(options.s3 if options is not None else None)
    # gather EVERY kind's meta — a compound IVF_HNSW_PQ index spreads its
    # params across the hnsw/pq/ivf metas; the first found is primary
    metas = _kind_metas(path, column, storage)
    if not metas:
        raise FileNotFoundError(f"no index on {path}:{column}")
    meta = next(metas[k] for k in KINDS if k in metas)
    _, uncovered = split_by_index_coverage(path, meta.get("dataset_version", 0), storage)
    rows_by_file = {f.file: f.row_count for f in
                    FR.read_manifest_compat(path, storage_options=storage).fragments}
    total = sum(rows_by_file.values()) or 1
    stale = sum(rows_by_file[f] for f in uncovered)
    if stale / total <= max_uncovered_fraction:
        return None
    built = meta.get("index_type", "")
    if built.startswith("ivf_hnsw"):
        itype = IndexType.IVF_HNSW_PQ
    elif built.startswith("ivf_pq"):
        itype = IndexType.IVF_PQ
    else:
        itype = IndexType.IVF_FLAT
    # rehydrate stored geometry over the caller's option defaults
    overrides: dict = {}
    ivf_m = metas.get("ivf") or {}
    if ivf_m.get("num_partitions"):
        overrides["index_num_partitions"] = ivf_m["num_partitions"]
    pq_m = metas.get("pq") or {}
    if pq_m.get("num_sub_vectors"):
        overrides["index_num_sub_vectors"] = pq_m["num_sub_vectors"]
    if pq_m.get("num_bits"):
        overrides["index_num_bits"] = pq_m["num_bits"]
    hnsw_m = metas.get("hnsw") or {}
    if hnsw_m.get("m"):
        overrides["index_m"] = hnsw_m["m"]
    if hnsw_m.get("ef_construction"):
        overrides["index_ef_construction"] = hnsw_m["ef_construction"]
    if hnsw_m.get("max_level"):
        overrides["index_max_level"] = hnsw_m["max_level"]
    base_opts = options if options is not None else DatasetOptions(path=path)
    opts = dataclasses.replace(base_opts, **overrides) if overrides else base_opts
    return build_index(path, column, index_type=itype,
                       metric=meta.get("metric", "l2"), replace=True,
                       options=opts, spark=spark, id_col=meta.get("id_col", id_col))


def search_dataset(
    spark,
    path: str,
    column: str,
    query,
    k: int = 10,
    metric: str = "l2",
    filter=None,
    nprobes: int | None = None,
    ef: int | None = None,
    use_index: bool | None = None,
    options: DatasetOptions | None = None,
    tiebreak_cols=(),
    round_digits: int | None = None,
):
    """Unified dataset vector search: the reference's ``useIndex``
    contract (ref LanceVectorSearch.java:146-163 — Lance takes the ANN
    index when one exists, else scans brute force).

    ``use_index=None`` auto-detects; ``False`` forces the exact
    distributed scan (the recall baseline); ``True`` requires an index
    and raises if absent. The indexed path reads the metric from the
    index metadata — a caller-supplied ``metric`` that disagrees raises
    rather than silently returning distances in the wrong space.

    Routing mirrors Lance: the index type that was BUILT determines the
    search path — an HNSW graph present → ef-driven graph traversal in
    the probed cells (hnsw.hnsw_search); else PQ codes present → ADC +
    refine (pq.pq_search, composing IVF cell pruning when the coarse
    index coexists); IVF only → exact search in probed cells; no index →
    brute force. s3:// datasets route identically (``options.s3``
    credentials); an index-less dataset serves the exact distributed
    scan through ``read_dataset``, on either location."""
    from .hnsw import hnsw_search
    from .operators.knn import knn
    from .pq import pq_search
    from .sources.reader import read_dataset

    s3 = options.s3 if options is not None else None
    # ONE metadata pass: at most three meta reads, reused by the route
    metas = _kind_metas(path, column, _storage(s3))
    use = bool(metas) if use_index is None else use_index
    if use and "hnsw" in metas:
        h_meta = metas["hnsw"]
        if metric and h_meta.get("metric", metric) != metric:
            raise ValueError(
                f"HNSW index on {path}:{column} was built for metric "
                f"{h_meta['metric']!r}, not {metric!r} — rebuild or search brute-force"
            )
        np_ = nprobes if "ivf" in metas else None
        eff = ef if ef is not None else (options.vector_ef if options is not None else None)
        return hnsw_search(spark, path, column, query, k=k, nprobes=np_, ef=eff,
                           tiebreak_cols=tiebreak_cols, round_digits=round_digits,
                           filter=filter, s3=s3, _metas=metas)
    if use and "pq" in metas:
        pq_meta = metas["pq"]
        if metric and pq_meta.get("metric", metric) != metric:
            raise ValueError(
                f"PQ index on {path}:{column} was built for metric "
                f"{pq_meta['metric']!r}, not {metric!r} — rebuild or search brute-force"
            )
        np_ = nprobes if "ivf" in metas else None
        refine = (options.vector_refine_factor if options is not None
                  and options.vector_refine_factor else 10)
        # vector.ef bounds the ADC candidate pool on the DataFrame path
        # too (ref config/LanceOptions.java:224-228)
        eff = ef if ef is not None else (options.vector_ef if options is not None else None)
        return pq_search(spark, path, column, query, k=k, refine_factor=refine,
                         nprobes=np_, ef=eff, tiebreak_cols=tiebreak_cols,
                         round_digits=round_digits, filter=filter, s3=s3,
                         _metas=metas)
    if use:
        meta = metas.get("ivf")
        if meta is None:
            raise FileNotFoundError(
                f"use_index=True but no ANN index on {path}:{column}; "
                "build_index first")
        if metric and meta.get("metric", metric) != metric:
            raise ValueError(
                f"index on {path}:{column} was built for metric "
                f"{meta['metric']!r}, not {metric!r} — rebuild or search brute-force"
            )
        return ivf_index_knn(spark, path, column, query, k=k, nprobes=nprobes,
                             ef=ef, options=options, tiebreak_cols=tiebreak_cols,
                             round_digits=round_digits, filter=filter,
                             _meta=meta)
    base = read_dataset(spark, path, options=DatasetOptions(path=path, s3=s3))
    return knn(base, column, query, k=k, metric=metric,
               filter=filter, tiebreak_cols=tiebreak_cols, round_digits=round_digits)
