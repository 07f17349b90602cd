"""Semantic deduplication: k-means cluster embeddings, then prune
near-identical pairs *within* each cluster (SemDeDup — Abbas et al.
2023, arXiv:2303.09540, public).

Where MinHash/SimHash catch lexical near-duplicates and hyperplane-LSH
catches high-cosine pairs bucket-probabilistically, SemDeDup removes
*semantic* duplicates: paraphrases and templated rewrites whose
embeddings are nearly identical. The quadratic all-pairs problem is
bounded by clustering first — pairs are only scored inside a k-means
cell, so the candidate count is Σ|cell|² (controlled by ``num_clusters``:
pick k ≈ n / target_cell_size; the paper uses ~100 rows/cell at web
scale).

Scale shape (100 TB):
- k-means reuses the engine's IVF trainer (index.training_sample /
  index.lloyd): a bounded sample of at most SAMPLE_RATE rows per
  cluster trains on the driver, then one mapInArrow pass assigns every
  row to its nearest centroid — no join and no all-pairs anywhere.
- cost model: assignment is n·k distance evaluations per iteration,
  within-cell pairs are ~n·(n/k); total is minimized near k = sqrt(n)
  (O(n^1.5) overall). Holding cell size constant (k = n/cell) makes the
  pair stage linear but the assignment stage n²/cell — at extreme
  scale, either accept O(n^1.5) with k ≈ sqrt(n), or assign against the
  centroid set approximately (coarse-quantize the centroids with the
  engine's IVF machinery) to restore near-linearity, as the published
  SemDeDup pipeline does with ANN-assisted clustering.
- candidate generation is an equi-join on the cell id carrying ONLY
  (id, cell); vectors and hoisted norms attach post-candidates by id
  (the skinny-candidate shape proven in dedup.embedding_cosine_pairs).
- hot-cell guard (``max_cell_size``): one degenerate k-means cell would
  make the pair stage quadratic; cells above the threshold split into
  deterministic hash sub-cells (candidates bounded, split logged,
  cross-sub-cell recall traded away — the ``max_doc_freq`` contract).
- the drop rule is greedy-by-id: a row is dropped iff SOME lower-id row
  in the same cell has cosine >= eps. Deterministic, one aggregate over
  the pair set — no iterative connected components (SemDeDup keeps one
  representative per *pair* neighborhood, not per transitive component;
  transitive clustering is ``dedup.duplicate_components``'s job).

The reference has no semantic-dedup surface; this extends the engine's
training-data-pipeline family (SURVEY.md §2 extension table).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _as_vecs(df: DataFrame, id_col: str, vector_col: str) -> DataFrame:
    return df.select(
        F.col(id_col).alias("rid"),
        F.col(vector_col).cast("array<double>").alias("vd"),
    )


def _first_dim(vecs: DataFrame) -> int:
    """Vector dimensionality from the first row, failing loudly on an
    empty relation or a NULL vector (len(None) is not a plan error —
    it's a TypeError three stack frames later)."""
    row = vecs.select("vd").first()
    if row is None or row.vd is None:
        raise ValueError("cannot cluster an empty DataFrame / NULL vectors")
    return len(row.vd)


def kmeans_assign(
    df: DataFrame,
    id_col: str,
    vector_col: str,
    num_clusters: int,
    iterations: int = 4,
    dim: "int | None" = None,
) -> DataFrame:
    """k-means over a DataFrame: returns ``(rid, cell)`` assignments.
    Deterministic: one job samples the training rows
    (index.training_sample), centroids seed from their ``num_clusters``
    lowest-id vectors (the lowest-id rows overall whenever every row
    trains), and the argmin's ties break on the lowest cell id — the
    SAME trainer and assignment kernel the IVF index build uses
    (index.lloyd, index.assign_cells), so the two can never diverge.
    The assignment itself is lazy. ``dim``, when given, is checked
    against the data."""
    from ..index import assign_cells, lloyd, training_sample

    if int(num_clusters) <= 0:
        raise ValueError("num_clusters must be positive")
    vecs = _as_vecs(df, id_col, vector_col)
    x = training_sample(vecs, int(num_clusters))
    if not len(x):
        raise ValueError("cannot cluster an empty DataFrame / NULL vectors")
    if dim is not None and x.shape[1] != dim:
        raise ValueError(f"vectors have dim {x.shape[1]}, not {dim}")
    return assign_cells(vecs, *lloyd(x, int(num_clusters), int(iterations), sqrt=True))


def _pair_cosine(dim: int) -> Column:
    """cos(va, vb) from pre-hoisted norms na/nb — unrolled codegen chain
    (see dedup._dot_chain); zero-norm rows score 0 (never 'similar')."""
    from .dedup import _dot_chain

    return F.when(
        (F.col("na") > 0) & (F.col("nb") > 0),
        F.round(_dot_chain("va", "vb", dim) / (F.col("na") * F.col("nb")), 6),
    ).otherwise(F.lit(0.0))


def semantic_duplicate_pairs(
    df: DataFrame,
    id_col: str,
    vector_col: str,
    num_clusters: int,
    eps: float = 0.95,
    iterations: int = 4,
    assignments: "DataFrame | None" = None,
    max_cell_size: "int | None" = 4096,
    dim: "int | None" = None,
) -> DataFrame:
    """Within-cluster pairs with cosine >= eps:
    ``(id_a, id_b, cell, cosine)`` with id_a < id_b.

    ``assignments`` (rid, cell) can be supplied to reuse a clustering
    across eps sweeps (the expensive half is k-means, not the pairs).

    ``max_cell_size`` is the hot-cell guard: the pair stage is Σ|cell|²,
    and ONE degenerate k-means cell (a near-duplicate-flooded corpus
    collapses Lloyd's clusters) makes it quadratic. Cells above the
    threshold are split into ``ceil(n/max_cell_size)`` deterministic
    hash sub-cells and pairs are scored within sub-cells only — bounding
    candidates at the documented cost of cross-sub-cell recall in the
    split cells (the same bounded-candidates-over-recall contract as
    ``ngram_jaccard_pairs``'s ``max_doc_freq``). Splits are logged;
    ``None`` disables the guard."""
    import logging
    import math

    import pyarrow as pa

    from .dedup import _dot_chain

    vecs = _as_vecs(df, id_col, vector_col)
    if dim is None:
        dim = _first_dim(vecs)
    if assignments is None:
        assignments = kmeans_assign(df, id_col, vector_col, num_clusters,
                                    iterations, dim=dim)
    # checkpoint the skinny (rid, cell) relation unconditionally: BOTH
    # pair-join sides (and the guard's size probe) reuse ONE assignment
    # computation — without it the mapInArrow assignment pass would run
    # once per side. Lazy: blocks materialize inside the
    # caller's action (or the guard's collect) instead of a blocking
    # driver job at plan-construction time.
    assignments = assignments.localCheckpoint(eager=False)
    sub = F.lit(0)
    if max_cell_size is not None:
        if int(max_cell_size) < 2:
            raise ValueError("max_cell_size must be >= 2 (or None to disable)")
        hot = (
            assignments.groupBy("cell").agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > int(max_cell_size)).collect()
        )  # metadata-sized: at most num_clusters rows ever aggregate here
        if hot:
            logging.getLogger(__name__).warning(
                "semantic_duplicate_pairs: %d cell(s) exceed max_cell_size=%d "
                "(largest: %d rows) — split into hash sub-cells; "
                "cross-sub-cell pairs inside them are not scored",
                len(hot), int(max_cell_size), max(r["n"] for r in hot),
            )
            # Arrow-built: a LocalTableScan, no Python-worker pass to unpickle it
            splits = assignments.sparkSession.createDataFrame(pa.table({
                "cell": pa.array([int(r["cell"]) for r in hot], pa.int32()),
                "__nsplit": pa.array(
                    [int(math.ceil(r["n"] / int(max_cell_size))) for r in hot], pa.int32()),
            }))
            assignments = assignments.join(F.broadcast(splits), on="cell",
                                           how="left")
            sub = F.when(
                F.col("__nsplit").isNotNull(),
                F.pmod(F.xxhash64(F.col("rid")), F.col("__nsplit")),
            ).otherwise(F.lit(0))
    assignments = assignments.select("rid", "cell", sub.alias("__sub"))
    # skinny candidates: (id, cell) only — the equi-join on cell never
    # carries a vector; pairs materialize as two ids
    a = assignments.select(F.col("rid").alias("id_a"), "cell", "__sub")
    b = assignments.select(F.col("rid").alias("id_b"), "cell", "__sub")
    cand = (a.join(b, on=["cell", "__sub"]).drop("__sub")
            .filter(F.col("id_a") < F.col("id_b")))
    # vectors + norms attach post-candidates by id (uniform key, no cell
    # skew); norms hoist to one evaluation per ROW, not per pair
    withnorm = vecs.select(
        F.col("rid").alias("__vid"), F.col("vd"),
        F.sqrt(_dot_chain("vd", "vd", dim)).alias("nrm"),
    )
    pairs = (
        cand.join(withnorm.select("__vid", F.col("vd").alias("va"),
                                  F.col("nrm").alias("na")),
                  cand.id_a == F.col("__vid")).drop("__vid")
        .join(withnorm.select("__vid", F.col("vd").alias("vb"),
                              F.col("nrm").alias("nb")),
              F.col("id_b") == F.col("__vid")).drop("__vid")
    )
    return (
        pairs.select("id_a", "id_b", "cell", _pair_cosine(dim).alias("cosine"))
        .filter(F.col("cosine") >= float(eps))
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vector_col: str,
    num_clusters: int,
    eps: float = 0.95,
    iterations: int = 4,
    assignments: "DataFrame | None" = None,
    max_cell_size: "int | None" = 4096,
) -> DataFrame:
    """Drop semantic near-duplicates: a row survives unless some
    LOWER-id row in its k-means cell is cosine-similar >= eps.

    Returns the surviving subset of ``df`` (all original columns).
    Greedy-by-id keeps the minimum id of every similar pair — the
    deterministic one-pass analog of SemDeDup's keep-one-per-group."""
    dup_ids = (
        semantic_duplicate_pairs(df, id_col, vector_col, num_clusters, eps,
                                 iterations, assignments, max_cell_size)
        .select(F.col("id_b").alias(id_col)).distinct()
    )
    return df.join(dup_ids, on=id_col, how="left_anti")
