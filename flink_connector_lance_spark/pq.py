"""Emulated product-quantization (PQ) index: the IVF_PQ scale path.

The reference's default index type is IVF_PQ (ref config/LanceOptions.java
:123-163 — ``index.num-sub-vectors`` 16, ``index.num-bits`` 8) built natively
by Lance (ref LanceIndexBuilder.java:125-138). Without the native library we
re-express both halves as DataFrame plans over the fragment-backed dataset:

- **codebooks** (train): the vector is split into ``num_sub_vectors``
  contiguous sub-vectors; each sub-space gets its own ``2**num_bits``-entry
  codebook. As in lance-core, training runs in-process on a bounded
  sample: one TakeOrdered job brings at most ``SAMPLE_RATE * 2**num_bits``
  rows to the driver and a numpy Lloyd k-means fits each sub-space's
  codebook (index.lloyd). Iteration count is fixed, seeds are the
  lowest-id rows and the sample is a fixed hash of the ids —
  deterministic given the data.
- **codes** (encode): one mapInArrow pass gives every row
  ``num_sub_vectors`` uint8-sized codes — 16 bytes/vector at the reference defaults vs 256 bytes for a
  float64[64] — the 16x memory compression that lets a 100 TB embedding
  corpus's index fit in cluster RAM.
- **ADC search**: the query is split the same way; a lookup table
  ``lut[sub][code] = ||q_sub - centroid||^2`` (m * k floats) is computed
  driver-side and embedded as literal arrays, so the approximate distance
  of a row is ``sqrt(sum_s lut_s[codes[s]])`` — m array lookups inside
  whole-stage codegen, NO vector arithmetic per row. Top
  ``k * refine_factor`` by ADC distance (TakeOrderedAndProject over the
  skinny codes relation), then an exact re-rank on the fetched vectors —
  Lance's refine stage (ref config/LanceOptions.java:232-237).
- **IVF coarse pruning** composes: when the dataset also carries the
  emulated IVF index (index.py), ``nprobes`` restricts the ADC scan to the
  probed cells' codes before scoring (static partition pruning on the
  cell-partitioned assignments).

Layout (index.py, one for local and s3://): ``<dataset>/_indexes/<column>/
pq/`` with ``codebooks.parquet/part-00000.parquet`` (sub, code, centroid),
the ``codes`` relation (id, codes array) and ``index_meta.json``.
"""

from __future__ import annotations

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
    store_relation,
    write_meta,
    write_table,
)
from .functions import vector as V


def _pq_dir(path: str, column: str) -> str:
    return _index_dir(path, column, "pq")


def has_pq_index(path: str, column: str, storage: dict | None = None) -> bool:
    return has_index(path, column, storage, "pq")


def build_pq_index(
    spark: SparkSession,
    path: str,
    column: str,
    id_col: str = "id",
    num_sub_vectors: int = 8,
    num_bits: int = 4,
    metric: str = "l2",
    iterations: int = 4,
    replace: bool = False,
    s3=None,
) -> dict:
    """Train per-sub-space codebooks and encode every row; returns the
    index metadata dict. Reference parameter surface:
    ``index.num-sub-vectors`` / ``index.num-bits``
    (ref config/LanceOptions.java:150-163).

    Training follows lance-core: one TakeOrdered job samples at most
    ``SAMPLE_RATE`` x 2**num_bits rows to the driver (index.training_sample)
    and each sub-space's codebook is a numpy Lloyd k-means over the
    sample's slice (index.lloyd: seeds are the lowest-id rows, ties go to
    the lowest code, empty codes are dropped). One mapInArrow pass then
    encodes every row."""
    import pyarrow as pa
    from pyspark.sql.types import ArrayType, IntegerType, StructField, StructType

    from .index import SAMPLE_RATE, lloyd, nearest, training_sample, vector_matrix
    from .sources import fragments as FR
    from .sources.maintenance import _file_scan

    storage = _storage(s3)
    if has_pq_index(path, column, storage) and not replace:
        raise ValueError(f"PQ index on {column!r} already exists; pass replace=True")
    if num_bits < 1 or num_bits > 8:
        raise ValueError("num_bits must be in [1, 8]")
    df = _file_scan(spark, path, FR.read_manifest_compat(path, storage_options=storage), s3)
    if column not in df.columns:
        raise ValueError(f"index column {column!r} not in dataset schema {df.columns}")
    vecs = df.select(
        F.col(id_col).alias("rid"), F.col(column).cast("array<double>").alias("vd")
    )
    x = training_sample(vecs, 1 << num_bits)
    if not len(x):
        raise ValueError("cannot index an empty dataset")
    dim = x.shape[1]
    if dim % num_sub_vectors != 0:
        raise ValueError(
            f"dim {dim} not divisible by num_sub_vectors {num_sub_vectors}"
        )
    subdim = dim // num_sub_vectors
    subs = [slice(s * subdim, (s + 1) * subdim) for s in range(num_sub_vectors)]
    books = [lloyd(x[:, sl], 1 << num_bits, iterations, sqrt=False) for sl in subs]

    def encode(batches):
        for b in batches:
            mat = vector_matrix(b.column("vd"))
            codes = np.empty((len(mat), num_sub_vectors), dtype=np.int32)
            for s, (sl, (code_ids, cents)) in enumerate(zip(subs, books)):
                codes[:, s] = code_ids[nearest(mat[:, sl], cents, sqrt=False)]
            offsets = np.arange(0, codes.size + 1, num_sub_vectors, dtype=np.int32)
            yield pa.RecordBatch.from_arrays(
                [b.column("rid"), pa.ListArray.from_arrays(offsets, pa.array(codes.ravel()))],
                [id_col, "codes"])

    codes_rel = vecs.mapInArrow(encode, StructType([
        StructField(id_col, vecs.schema["rid"].dataType),
        StructField("codes", ArrayType(IntegerType())),
    ]))
    if len(x) < SAMPLE_RATE << num_bits:
        # every row trained, so the rows fit one task: one codes file
        codes_rel = codes_rel.coalesce(1)
    books_table = pa.table({
        "sub": pa.array([s for s, (ids, _) in enumerate(books) for _ in ids], pa.int32()),
        "code": pa.array(np.concatenate([ids for ids, _ in books]), pa.int32()),
        "centroid": pa.array([c for _, cents in books for c in cents],
                             pa.list_(pa.float64())),
    })
    idx_dir = _pq_dir(path, column)
    meta = {
        "index_type": "ivf_pq_emulated",
        "column": column,
        "id_col": id_col,
        "metric": metric,
        "num_sub_vectors": num_sub_vectors,
        "num_bits": num_bits,
        "dim": dim,
        "training_rows": len(x),
        "dataset_version": FR.latest_version(path, storage),
    }
    begin_build(idx_dir, storage)
    write_table(books_table, os.path.join(idx_dir, "codebooks.parquet"), storage)
    # codes are the skinny full-scan ADC relation — no partitioning, the
    # whole point is scanning every row's m small ints
    store_relation(codes_rel, idx_dir, "codes", s3)
    write_meta(idx_dir, meta, storage)
    return meta


# element_at(<LUT literal>, code+1) must stay in-bounds and positionally
# correct even when Lloyd updates drop empty clusters (code ids then have
# gaps): the LUT is indexed by ACTUAL code value, gaps filled with a
# never-wins sentinel. Finite (not inf) so the repr embeds as a plain SQL
# double literal; any sum containing it still sorts after every real code.
_LUT_GAP = 1.7976931348623157e308


def _adc_lut(books: list, q: list[float], m: int, subdim: int) -> list[list[float]]:
    """Driver-side asymmetric-distance lookup table:
    lut[sub][code] = squared L2 between the query's sub-vector and the
    codebook centroid, indexed by code VALUE (length max_code+1 per sub,
    gaps from dropped empty clusters filled with ``_LUT_GAP``). m*k floats
    — microseconds to build, embedded as literals so the per-row cost is
    m array lookups."""
    lut: dict[int, dict[int, float]] = {}
    for row in books:  # plain dicts (pyarrow to_pylist / Row.asDict)
        sub, code, centroid = row["sub"], row["code"], row["centroid"]
        qs = q[sub * subdim:(sub + 1) * subdim]
        d = 0.0
        for x, y in zip(qs, centroid):
            d += (x - y) * (x - y)
        lut.setdefault(sub, {})[code] = d
    return [
        [lut[s].get(c, _LUT_GAP) for c in range(max(lut[s]) + 1)]
        for s in sorted(lut)
    ]


def pq_search(
    spark: SparkSession,
    path: str,
    column: str,
    query: Sequence[float],
    k: int = 10,
    refine_factor: int = 10,
    nprobes: int | None = None,
    ef: int | None = None,
    tiebreak_cols: Sequence[str] = (),
    round_digits: int | None = None,
    filter=None,
    s3=None,
    _metas: dict | None = None,
) -> DataFrame:
    """ADC search over the PQ codes + exact refine (ref refine-factor,
    config/LanceOptions.java:232-237).

    Plan shape: the codes relation is skinny (id + m small ints); ADC
    distance is a codegen sum of m literal-array lookups; candidate
    selection is TakeOrderedAndProject (per-partition top-R, driver merges
    P*R); ONLY the R = k*refine_factor candidate rows are fetched from the
    dataset (semi-join) for the exact re-rank — ``ef`` bounds R from above
    (``vector.ef`` as the candidate-pool cap, ref
    config/LanceOptions.java:224-228). With ``nprobes`` and a co-existing
    IVF index, the ADC scan first prunes to the probed cells (IVF_PQ
    composition)."""
    from .operators.knn import knn

    storage = _storage(s3)
    # _metas: search_dataset's pre-fetched per-kind metadata — skips the
    # meta re-fetch (and the IVF presence check)
    meta = _metas.get("pq") if _metas is not None else read_meta(path, column, "pq", storage)
    if meta is None:
        raise FileNotFoundError(f"no PQ index on {path}:{column}; build_pq_index first")
    idx_dir = _pq_dir(path, column)
    q = V.validate_query_vector(query)
    if len(q) != meta["dim"]:
        raise ValueError(f"query dim {len(q)} != indexed dim {meta['dim']}")
    m = meta["num_sub_vectors"]
    subdim = meta["dim"] // m
    id_col = meta["id_col"]

    # codebooks are m*k rows of index metadata: a pyarrow read through
    # the store is ~5ms where spark.read+collect is ~150ms AND a
    # driver-blocking Spark job per search (guide §5 — keep jobs off the
    # metadata path)
    books = read_table(os.path.join(idx_dir, "codebooks.parquet"), storage).to_pylist()
    codes = load_relation(spark, idx_dir, "codes", s3)
    lut = _adc_lut(books, q, m, subdim)

    if nprobes is not None:
        # IVF_PQ composition: restrict the ADC scan to probed cells
        have_ivf = ("ivf" in _metas) if _metas is not None \
            else has_index(path, column, storage)
        if not have_ivf:
            raise FileNotFoundError(
                f"nprobes given but no IVF index on {path}:{column}; build_index first"
            )
        assigns = load_relation(spark, _index_dir(path, column), "assignments", s3)
        chosen = probe_cells(*load_centroids(path, column, storage), q, nprobes)
        probe_ids = assigns.filter(F.col("cell").isin(chosen)).select(id_col)
        codes = codes.join(probe_ids, on=id_col, how="left_semi")

    # ONE SQL parse for the whole ADC sum (building literals node-by-node
    # costs a py4j round-trip each), and each sub-space's k-entry LUT rides
    # in as a from_json('[...]') STRING literal rather than an inline
    # array(v1..vk): Catalyst analysis walks every literal node, so the
    # m*k inline form cost ~300ms of driver time PER ACTION at 16x256;
    # from_json is 1 node per sub-space and ConstantFolding collapses it
    # to the identical ArrayData literal before codegen (verified: no
    # from_json in the optimized plan, per-row code unchanged, sums
    # bit-identical — json repr round-trips doubles exactly).
    import json as _json

    adc_sql = " + ".join(
        "element_at(from_json('{js}', 'array<double>'), "
        "element_at(`codes`, {idx}) + 1)".format(
            # allow_nan=False: a non-finite codebook distance would emit a
            # bare NaN/Infinity token (invalid JSON) that PERMISSIVE
            # from_json folds to NULL — silently-NULL ADC distances where
            # the old inline-literal form failed loudly at parse. Raise
            # here instead (finite _LUT_GAP keeps gap sentinels valid).
            js=_json.dumps(lut[s], allow_nan=False), idx=s + 1
        )
        for s in range(m)
    )
    approx = codes.select(F.col(id_col), F.sqrt(F.expr(adc_sql)).alias("_adc"))
    r = max(k * refine_factor, k)
    if ef is not None:
        if ef <= 0:
            raise ValueError("ef must be positive")
        r = max(min(r, int(ef)), k)
    cand = approx.orderBy(F.asc("_adc"), F.asc(id_col)).limit(r)

    # the exact re-rank reads only the R candidate rows (an id rewritten
    # into a file added since the build is read once, from that file)
    survivors = candidate_rows(spark, path, meta, cand.select(id_col), s3)
    return knn(survivors, column, q, k=k, metric=meta.get("metric", "l2"),
               filter=filter, tiebreak_cols=tiebreak_cols, round_digits=round_digits)
