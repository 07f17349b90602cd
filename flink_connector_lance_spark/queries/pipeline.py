"""Training-data pipeline queries: dedup family, text analysis, multimodal
plumbing — each a first-class oracle-checked operator (SURVEY.md §7.1 M10).

All signatures/hashes are md5-hex based so DuckDB reproduces them exactly;
indexed lambdas are 1-based on the DuckDB side and (i+1) on the Spark side.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from ..io import load_table, spread
from ..operators import dedup as D
from ..operators import multimodal as M
from ..operators import sampling as S
from ..operators import text as T
from ..registry import register

# --- shared DuckDB fragments -------------------------------------------------

_WS = "string_split(text, ' ')"
_SHINGLES = (
    "list_distinct(list_transform(generate_series(1, len(ws)-2), "
    "i -> ws[i]||' '||ws[i+1]||' '||ws[i+2]))"
)
_H32 = "('0x'||substr(md5({x}),1,8))::BIGINT"
_H60 = "('0x'||substr(md5({x}),1,15))::BIGINT"

_NUM_HASHES, _BANDS = 16, 4
# radius 3 on 32 bits: 4 pigeonhole chunks of 8 bits. Radius 6 flagged 13%
# of ALL random pairs on this corpus (16k pairs at sf0.01) — useless as a
# near-dup signal and quadratic-ish in candidates; radius 3 keeps banding
# selective (256-value chunks) and the pair set meaningfully "near".
_SIMHASH_BITS, _MAX_HAMMING = 32, 3


def _minhash_sig_sql() -> str:
    """Signature CTE mirroring operators.dedup exactly: one md5-derived
    31-bit base hash per shingle, then the (a,b) affine family from
    minhash_coeffs — coefficients imported, not copied, so the two
    engines cannot drift."""
    p = D.MINHASH_P
    exprs = ", ".join(
        f"list_aggregate(list_transform(hv, v -> (v*{a}+{b}) % {p}), 'min') AS mh{h}"
        for h, (a, b) in enumerate(D.minhash_coeffs(_NUM_HASHES))
    )
    return (
        f"WITH sh AS (SELECT doc_id, {_SHINGLES} AS s FROM "
        f"(SELECT doc_id, {_WS} AS ws FROM documents)),\n"
        f"hvt AS (SELECT doc_id, list_transform(s, x -> {_H32.format(x='x')} % {p}) AS hv FROM sh),\n"
        f"sig AS (SELECT doc_id, {exprs} FROM hvt)"
    )


def _bands_sql() -> str:
    """Band-key CTE body: md5 over '~'-joined signature ints — matches
    Spark's concat_ws('~', mh...) byte-for-byte."""
    return " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, md5({parts}) AS key FROM sig".format(
            b=b,
            parts="||'~'||".join(f"mh{4 * b + i}::VARCHAR" for i in range(4)),
        )
        for b in range(_BANDS)
    )


def _simhash_sql() -> str:
    bit_terms = " + ".join(
        f"(CASE WHEN list_sum(list_transform(hs, h -> CASE WHEN (h >> {j}) & 1 = 1 "
        f"THEN 1 ELSE -1 END)) > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(_SIMHASH_BITS)
    )
    return (
        f"WITH tok AS (SELECT doc_id, list_transform({_WS}, "
        f"w -> {_H60.format(x='w')}) AS hs FROM documents),\n"
        f"sig AS (SELECT doc_id, CAST({bit_terms} AS BIGINT) AS sig FROM tok)"
    )


# --- dedup family ------------------------------------------------------------

_VOCAB_TOP_K = 20


@register(
    "dedup_exact",
    oracle=f"""
    SELECT 'dedup' AS kind, md5(text) AS content_hash,
           min(doc_id) AS keep_id, count(*) AS dup_count
    FROM (SELECT * FROM documents UNION ALL SELECT * FROM documents)
    GROUP BY 2
    UNION ALL
    SELECT 'vocab' AS kind, token AS content_hash,
           CAST(rank AS BIGINT) AS keep_id, cnt AS dup_count
    FROM (
        SELECT token, cnt, row_number() OVER (ORDER BY cnt DESC, token) AS rank
        FROM (SELECT token, count(*) AS cnt
              FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
              GROUP BY token)
        ORDER BY cnt DESC, token LIMIT {_VOCAB_TOP_K})
    """,
    doc="Two content-frequency branches: 'dedup' — exact dedup by content "
        "digest over a corpus with duplicates (doubled input), "
        "keep-lowest-id policy, one digest shuffle, map-side combinable; "
        "'vocab' — corpus vocabulary heavy hitters (operators.text."
        "top_tokens): top-20 tokens with counts and deterministic rank "
        "(count desc, token asc tiebreak) — explode + partial+final count "
        "aggregate + TakeOrdered, the shape that absorbs token-frequency "
        "skew ('the') as one partial count per map partition.",
)
def dedup_exact(spark, sf_dir):
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    dedup = D.exact_dedup(d.unionByName(d), "text", "doc_id").select(
        F.lit("dedup").alias("kind"), "content_hash", "keep_id", "dup_count"
    )
    top = T.top_tokens(d, "text", k=_VOCAB_TOP_K)
    # rank window runs AFTER the top-k limit: 20 rows, driver-trivial
    vocab = top.withColumn(
        "rank", F.row_number().over(Window.orderBy(F.desc("cnt"), F.asc("token")))
    ).select(
        F.lit("vocab").alias("kind"),
        F.col("token").alias("content_hash"),
        F.col("rank").cast("long").alias("keep_id"),
        F.col("cnt").alias("dup_count"),
    )
    return dedup.unionByName(vocab)


@register(
    "dedup_minhash_lsh",
    oracle=_minhash_sig_sql() + f""",
    bands AS ({_bands_sql()})
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    """,
    doc="MinHash(16) + LSH(4 bands x 4 rows) candidate pairs via equi-join "
        "on band keys — the O(candidates) near-dup path for 100 TB corpora.",
)
def dedup_minhash_lsh(spark, sf_dir):
    # repartition before the signature stage: md5 minhashing is CPU-dense
    # and the corpus arrives in few file partitions locally; on a cluster
    # this spreads signature work across all cores before the band join
    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    return D.minhash_lsh_pairs(d, "text", "doc_id", _NUM_HASHES, _BANDS)


_MAX_SHINGLE_DF = 100


# benchmark-decontamination branch of dedup_ngram_jaccard: the eval set is
# a deterministic slice of the corpus truncated to its first 30 words (an
# "eval item extracted from a training doc"), so every source doc contains
# ~100% of its item's shingles — true contamination by construction
_DECON_EVAL_MOD = 41
_DECON_EVAL_WORDS = 30
_DECON_THRESHOLD = 0.5


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH sh AS (SELECT doc_id, {_SHINGLES} AS s FROM
                (SELECT doc_id, {_WS} AS ws FROM documents)),
    ex AS (SELECT doc_id, len(s) AS n_sh, unnest(s) AS sh FROM sh),
    hot AS (SELECT sh FROM ex GROUP BY sh HAVING count(*) > {_MAX_SHINGLE_DF}),
    exf AS (SELECT * FROM ex WHERE sh NOT IN (SELECT sh FROM hot)),
    pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n_sh AS na, b.n_sh AS nb,
               count(*) AS inter
        FROM exf a JOIN exf b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2, 3, 4),
    ev AS (SELECT doc_id, array_to_string(ws[1:{_DECON_EVAL_WORDS}], ' ') AS text
           FROM (SELECT doc_id, {_WS} AS ws FROM documents)
           WHERE doc_id % {_DECON_EVAL_MOD} = 0),
    esh AS (SELECT doc_id, {_SHINGLES} AS s FROM
            (SELECT doc_id, {_WS} AS ws FROM ev)),
    ee AS (SELECT doc_id AS eval_id, len(s) AS n_eval, unnest(s) AS sh FROM esh),
    te AS (SELECT doc_id AS train_id, unnest(s) AS sh FROM sh),
    contam AS (
        SELECT train_id, eval_id, round(count(*) / n_eval, 6) AS overlap
        FROM te JOIN ee USING (sh)
        GROUP BY train_id, eval_id, n_eval
        HAVING round(count(*) / n_eval, 6) >= {_DECON_THRESHOLD})
    SELECT 'pair' AS kind, id_a, id_b,
           round(inter / (na + nb - inter), 6) AS jaccard
    FROM pairs WHERE round(inter / (na + nb - inter), 6) >= 0.2
    UNION ALL
    SELECT 'contam' AS kind, train_id AS id_a, eval_id AS id_b,
           overlap AS jaccard FROM contam
    UNION ALL
    SELECT 'decon_kept' AS kind,
           (SELECT count(*) FROM documents)
           - (SELECT count(DISTINCT train_id) FROM contam) AS id_a,
           CAST(-1 AS BIGINT) AS id_b, 0.0 AS jaccard
    """,
    doc="Word-3-gram Jaccard >= 0.2 over inverted-index candidate pairs "
        "(equi-join on shingle, never a cross product), with a "
        f"document-frequency cap ({_MAX_SHINGLE_DF}) dropping hot shingles "
        "before the self-join — the skew guard that keeps a stopword "
        "shingle from exploding the join at corpus scale. PLUS benchmark "
        "decontamination ('contam' rows): asymmetric containment of an "
        "eval set (truncated doc prefixes) in the training corpus via "
        "cross_corpus_overlap (eval side broadcast, train postings "
        "map-side), and a 'decon_kept' row with the post-decontaminate "
        "corpus size (anti-join against flagged train ids).",
)
def dedup_ngram_jaccard(spark, sf_dir):
    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    pairs = D.ngram_jaccard_pairs(d, "text", "doc_id", shingle_k=3, threshold=0.2,
                                  max_doc_freq=_MAX_SHINGLE_DF)
    ev = (
        d.filter(F.col("doc_id") % _DECON_EVAL_MOD == 0)
        .select("doc_id",
                F.array_join(F.slice(T.tokens("text"), 1, _DECON_EVAL_WORDS), " ")
                .alias("text"))
    )
    # reuse the overlap: it feeds BOTH the 'contam' rows and the
    # 'decon_kept' count — without materialization the postings join over
    # the whole train corpus (the expensive stage) executes twice when the
    # union is collected. localCheckpoint(eager=False) instead of persist():
    # still lazy (EXPLAIN / plan-shape tests run zero jobs), but the blocks
    # belong to the RDD, not the session cache manager, so the
    # ContextCleaner frees them when this DataFrame is GC'd — no cached
    # relation leaks per invocation in a long-lived session.
    contam = D.cross_corpus_overlap(d, ev, "text", "doc_id", shingle_k=3,
                                    threshold=_DECON_THRESHOLD).localCheckpoint(eager=False)
    # decon_kept = total - flagged train docs: algebraically identical to
    # decontaminate(d, ev, overlap=contam).count() (anti-join against the
    # flagged ids) but stays a lazy one-row aggregate instead of an eager
    # count job at query-construction time
    decon_row = (
        d.agg(F.count(F.lit(1)).alias("__n"))
        .crossJoin(contam.agg(F.count_distinct("train_id").alias("__c")))
        .select(
            F.lit("decon_kept").alias("kind"),
            (F.col("__n") - F.col("__c")).cast("long").alias("id_a"),
            F.lit(-1).cast("long").alias("id_b"),
            F.lit(0.0).alias("jaccard"),
        )
    )
    return (
        pairs.select(F.lit("pair").alias("kind"), "id_a", "id_b", "jaccard")
        .unionByName(contam.select(
            F.lit("contam").alias("kind"),
            F.col("train_id").alias("id_a"),
            F.col("eval_id").alias("id_b"),
            F.col("overlap").alias("jaccard")))
        .unionByName(decon_row)
    )


@register(
    "dedup_simhash",
    oracle=_simhash_sql() + f"""
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sig, b.sig)) <= {_MAX_HAMMING}
    """,
    doc="SimHash(32-bit) near-dup pairs within hamming distance 3 via "
        "pigeonhole banding (4 chunk equi-join, lossless for the radius) — "
        "the oracle keeps the exact all-pairs definition because banded "
        "results are identical; signatures computed shuffle-free in codegen.",
)
def dedup_simhash(spark, sf_dir):
    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    out = D.simhash_pairs(d, "text", "doc_id", _SIMHASH_BITS, _MAX_HAMMING)
    return out.select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))


from ..operators import ann as _A  # noqa: E402  (planes shared with the oracle)

# The oracle embeds plane literals for the CORRECTNESS corpus (sf0.01,
# 500 vectors): auto_num_planes(500) == 8. The Spark side auto-sizes from
# the actual corpus so bench/stress runs at larger sf keep bucket
# occupancy (and thus candidate volume per row) constant — the 100 TB
# contract. tests/test_dedup_operators.py pins the 500->8 equality so a
# formula change can't silently desync the oracle.
_COS_DIM = 64
_COS_PLANES = _A.make_planes(num_planes=_A.auto_num_planes(500), dim=_COS_DIM)


def _cos_planes_sql() -> str:
    return ", ".join(
        "[" + ", ".join(repr(v) for v in plane) + "]::DOUBLE[] AS p" + str(p)
        for p, plane in enumerate(_COS_PLANES)
    )


def _cos_sig_sql(tbl: str) -> str:
    return " + ".join(
        f"(CASE WHEN list_sum(list_transform({tbl}.embedding::DOUBLE[], (x,i) -> x * p{p}[i])) > 0 "
        f"THEN {1 << p} ELSE 0 END)"
        for p in range(len(_COS_PLANES))
    )


# semantic branch constants: within-cell pair threshold and the target
# k-means cell size (k = ceil(n/64) holds candidate volume per row
# constant as the corpus grows — the SemDeDup scale contract)
_SEM_EPS = 0.4
_SEM_CELL_ROWS = 64


@register(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH pl AS (SELECT {_cos_planes_sql()}),
    sig AS (SELECT vec_id, embedding, ({_cos_sig_sql('embeddings')}) AS sig
            FROM embeddings, pl),
    src AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    qt AS (SELECT vec_id, v,
                  CASE WHEN list_max(list_transform(v, x -> abs(x))) > 0
                       THEN list_max(list_transform(v, x -> abs(x))) / 127.0
                       ELSE 1.0 END AS s
           FROM src),
    dq AS (SELECT vec_id, v, s,
                  list_transform(v, x -> greatest(-127.0, least(127.0, round(x / s, 0)))) AS codes,
                  list_transform(list_transform(v, x -> greatest(-127.0, least(127.0, round(x / s, 0)))),
                                 c -> c * s) AS dv
           FROM qt),
    quant AS (
        SELECT 'quant' AS kind, vec_id AS id_a,
               CAST(list_sum(codes) AS BIGINT) AS id_b,
               CASE WHEN sqrt(list_sum(list_transform(v, (x,i) -> x * x))) > 0
                     AND sqrt(list_sum(list_transform(dv, (x,i) -> x * x))) > 0
                    THEN round(list_sum(list_transform(v, (x,i) -> x * dv[i]))
                               / (sqrt(list_sum(list_transform(v, (x,i) -> x * x)))
                                  * sqrt(list_sum(list_transform(dv, (x,i) -> x * x)))), 6)
                    ELSE 0.0 END AS cosine
        FROM dq),
    cents AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, dv AS cd
              FROM dq ORDER BY vec_id
              LIMIT (SELECT CAST(ceil(count(*) / {_SEM_CELL_ROWS}.0) AS BIGINT) FROM dq)),
    asg AS (SELECT vec_id, cell FROM (
                SELECT d.vec_id, c.cell,
                       row_number() OVER (
                           PARTITION BY d.vec_id
                           ORDER BY sqrt(list_sum(list_transform(d.dv,
                                        (x,i) -> (x - c.cd[i]) * (x - c.cd[i])))), c.cell
                       ) AS rn
                FROM dq d CROSS JOIN cents c) WHERE rn = 1),
    wn AS (SELECT vec_id, dv,
                  sqrt(list_sum(list_transform(dv, (x,i) -> x * x))) AS nrm FROM dq),
    sem AS (
        SELECT p.id_a, p.id_b,
               CASE WHEN wa.nrm > 0 AND wb.nrm > 0
                    THEN round(list_sum(list_transform(wa.dv, (x,i) -> x * wb.dv[i]))
                               / (wa.nrm * wb.nrm), 6)
                    ELSE 0.0 END AS cosine
        FROM (SELECT a.vec_id AS id_a, b.vec_id AS id_b
              FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id) p
        JOIN wn wa ON wa.vec_id = p.id_a
        JOIN wn wb ON wb.vec_id = p.id_b)
    SELECT 'lsh' AS kind, id_a, id_b, cosine FROM (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(list_sum(list_transform(a.embedding::DOUBLE[], (x,i) -> x * b.embedding[i]))
                     / (sqrt(list_sum(list_transform(a.embedding::DOUBLE[], (x,i) -> x * x)))
                        * sqrt(list_sum(list_transform(b.embedding::DOUBLE[], (x,i) -> x * x)))), 6)
                   AS cosine
        FROM sig a JOIN sig b
          ON a.vec_id < b.vec_id AND bit_count(xor(a.sig, b.sig)) <= 1)
    WHERE cosine >= 0.4
    UNION ALL SELECT * FROM quant
    UNION ALL SELECT 'semantic' AS kind, id_a, id_b, cosine
              FROM sem WHERE cosine >= {_SEM_EPS}
    """,
    doc="Three tagged branches of the embedding-dedup family, all hash-"
        "gated: 'lsh' — cosine near-dup pairs (>= 0.4) via random-"
        "hyperplane LSH buckets (candidates = signatures within hamming "
        "1, equi-join on exploded probe buckets, O(candidates), exact "
        "cosine verified on candidates; the oracle mirrors the identical "
        "bucketing, so the probabilistic-recall candidate set is part of "
        "the declared semantics). 'quant' — int8 scalar quantization "
        "(operators.quantize): one row per vector with the code checksum "
        "(pins every int8 code exactly) and the original-vs-dequantized "
        "cosine (pins the reconstruction; ~0.99998 on this corpus — the "
        "4x storage cut is near-lossless). 'semantic' — SemDeDup cluster-"
        "then-prune (operators.semantic) over the DEQUANTIZED vectors: "
        "deterministic seed-centroid k-means assignment (k = ceil(n/64), "
        "centroids = the k lowest-id vectors, argmin L2 with cell "
        "tiebreak — iterations=0 so the oracle reproduces the assignment "
        "relationally), within-cell pairs with cosine >= 0.4. Quantize "
        "-> dequantize -> cluster -> prune is the production SemDeDup "
        "pipeline shape at 1/4 the vector IO.",
)
def dedup_embedding_cosine(spark, sf_dir):
    import math

    from ..operators import quantize as Q
    from ..operators import semantic as SM
    from ..operators.dedup import _dot_chain

    e = load_table(spark, sf_dir, "embeddings")
    # n only SIZES the plane count and k — the parquet footer statistic
    # is the same number without a count job per invocation
    from ..io import table_row_count

    n = table_row_count(sf_dir, "embeddings")
    planes = _A.make_planes(_A.auto_num_planes(n), dim=_COS_DIM)
    lsh = D.embedding_cosine_pairs(
        e, "embedding", "vec_id", threshold=0.4, planes=planes
    ).select(F.lit("lsh").alias("kind"), "id_a", "id_b", "cosine")
    # quantize once, reuse for both the fidelity rows and the semantic
    # clustering (lazy checkpoint: one materialization, blocks GC-freed)
    src = e.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    dq = (
        Q.quantize_embeddings(src, "v", keep_vector=True)
        .withColumn("dv", Q.dequantize_of("codes", "scale"))
        .localCheckpoint(eager=False)
    )
    na = F.sqrt(_dot_chain("v", "v", _COS_DIM))
    nb = F.sqrt(_dot_chain("dv", "dv", _COS_DIM))
    quant = dq.select(
        F.lit("quant").alias("kind"),
        F.col("vec_id").alias("id_a"),
        F.expr("aggregate(codes, 0L, (a, x) -> a + CAST(x AS BIGINT))").alias("id_b"),
        F.when((na > 0) & (nb > 0),
               F.round(_dot_chain("v", "dv", _COS_DIM) / (na * nb), 6))
        .otherwise(F.lit(0.0)).alias("cosine"),
    )
    # max_cell_size=None: the DuckDB oracle models no hash sub-cell
    # splitting, so the hot-cell guard must be OFF here or a skewed
    # seed-centroid assignment at a larger sf would silently drop
    # cross-sub-cell pairs and break the hash gate data-dependently
    sem = SM.semantic_duplicate_pairs(
        dq.select("vec_id", "dv"), "vec_id", "dv",
        num_clusters=math.ceil(n / _SEM_CELL_ROWS), eps=_SEM_EPS, iterations=0,
        max_cell_size=None, dim=_COS_DIM,
    ).select(F.lit("semantic").alias("kind"), "id_a", "id_b", "cosine")
    return lsh.unionByName(quant).unionByName(sem)


@register(
    "dedup_components",
    # the shared minhash CTE opens with "WITH "; the cc CTE below is
    # recursive, and DuckDB requires RECURSIVE on the whole WITH clause
    oracle=_minhash_sig_sql().replace("WITH ", "WITH RECURSIVE ", 1) + f""",
    bands AS ({_bands_sql()}),
    prs AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    ),
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM prs
        UNION ALL SELECT id_b, id_a FROM prs
    ),
    cc AS (
        SELECT doc_id AS id, doc_id AS comp FROM documents
        UNION
        SELECT e.dst, cc.comp FROM cc JOIN edges e ON cc.id = e.src
    )
    SELECT id AS doc_id, CAST(min(comp) AS BIGINT) AS component
    FROM cc GROUP BY id
    """,
    doc="Duplicate clustering: connected components over the MinHash-LSH "
        "candidate pairs, labeling every document with the smallest "
        "doc_id reachable from it (its cluster's canonical keep-id). "
        "Spark fetches the pairs once and, at or under "
        "operators.dedup.CAP edges, runs union-find on the driver and "
        "broadcast-joins the labels back (above the cap: distributed "
        "min-label propagation, one equi-join + aggregate per round — "
        "operators.dedup.connected_components); the oracle computes the "
        "same fixpoint with a recursive CTE.",
)
def dedup_components(spark, sf_dir):
    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    pairs = D.minhash_lsh_pairs(d, "text", "doc_id", _NUM_HASHES, _BANDS)
    return D.connected_components(d.select("doc_id"), pairs, id_col="doc_id")


# --- text analysis -----------------------------------------------------------

# BM25 branch of text_stats: a fixed mid-frequency query scored against
# every document; constants repr()-ed into the oracle so both engines
# parse the IDENTICAL doubles (Python repr round-trip guarantee)
_BM25_TERMS = ["vector", "hash", "join"]

# model_quality column of text_stats: the fasttext-style hashed-feature
# linear scorer (operators.quality). The gate uses the fixed demo model
# (weights derivable in any engine); fitted models score through the
# identical expression (tests/test_quality_model.py pins fit==score)
from ..operators import quality as Q  # noqa: E402

_QMODEL = Q.demo_model(dim=32)


def _bm25_sql() -> str:
    from ..operators.text import BM25_B as _b, BM25_K1 as _k1

    k1p1, one_m_b, k1r, br = repr(_k1 + 1.0), repr(1.0 - _b), repr(_k1), repr(_b)
    contribs = []
    for i, t in enumerate(_BM25_TERMS):
        tf = f"CAST(len(list_filter(ws, x -> x = '{t}')) AS DOUBLE)"
        idf = f"ln(1.0 + (st.n - st.df{i} + 0.5) / (st.df{i} + 0.5))"
        contribs.append(
            f"{idf} * ({tf} * {k1p1}) / ({tf} + {k1r} * "
            f"({one_m_b} + {br} * CAST(len(ws) AS DOUBLE) / st.avgdl))"
        )
    return " + ".join(contribs)


def _bm25_df_sql() -> str:
    return ", ".join(
        f"sum(CASE WHEN list_contains(ws, '{t}') THEN 1 ELSE 0 END) AS df{i}"
        for i, t in enumerate(_BM25_TERMS)
    )


@register(
    "text_stats",
    oracle=f"""
    WITH b0 AS (SELECT doc_id, text, {_WS} AS ws FROM documents),
    st AS (SELECT count(*) AS n, avg(len(ws)) AS avgdl, {_bm25_df_sql()} FROM b0)
    SELECT doc_id,
           CAST(len(ws) AS INT) AS n_tokens,
           CAST(length(text) AS INT) AS n_chars_measured,
           round(CAST(list_sum(list_transform(ws, w -> length(w))) AS DOUBLE) / len(ws), 6)
               AS avg_token_len,
           round(CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws), 6) AS ttr,
           round(CAST(len(list_filter(ws, x -> x IN ('the','a','of','and'))) AS DOUBLE)
                 / len(ws), 6) AS stop_ratio,
           round(least(1.0, len(ws) / 100.0) * 0.5
                 + (CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws)) * 0.3
                 + (1.0 - CAST(len(list_filter(ws, x -> x IN ('the','a','of','and'))) AS DOUBLE)
                          / len(ws)) * 0.2, 6) AS quality,
           CAST(len(tre) AS INT) AS n_tokens_regex,
           CAST(len(list_distinct(tre)) AS INT) AS n_unique_regex,
           CASE WHEN len(lns) > 0
                THEN round(1.0 - CAST(len(list_distinct(lns)) AS DOUBLE) / len(lns), 6)
                ELSE 0.0 END AS repeated_line_frac,
           CASE WHEN len(g2) > 0
                THEN round(1.0 - CAST(len(list_distinct(g2)) AS DOUBLE) / len(g2), 6)
                ELSE 0.0 END AS repeated_2gram_frac,
           CASE WHEN len(g3) > 0
                THEN round(1.0 - CAST(len(list_distinct(g3)) AS DOUBLE) / len(g3), 6)
                ELSE 0.0 END AS repeated_3gram_frac,
           round({_bm25_sql()}, 6) AS bm25,
           round({Q.model_quality_sql("ws", _QMODEL, _H32)}, 6) AS model_quality
    FROM (
        SELECT doc_id, text, ws,
               regexp_extract_all(text, '[a-z0-9]+') AS tre,
               list_filter(string_split(text, chr(10)), ln -> trim(ln) != '') AS lns,
               list_transform(generate_series(1, len(ws)-1), i -> ws[i]||' '||ws[i+1]) AS g2,
               list_transform(generate_series(1, len(ws)-2),
                              i -> ws[i]||' '||ws[i+1]||' '||ws[i+2]) AS g3
        FROM b0
    ) CROSS JOIN st
    """,
    doc="Per-document text-analysis profile in ONE zero-shuffle codegen "
        "projection: token/char statistics, type-token ratio, stopword "
        "ratio, composite quality score (operators.text.quality_score), "
        "BPE-ish regex tokenization (alphabet-run token + vocab counts), "
        "the Gopher-style repetition filters (repeated-line and "
        "repeated word-2/3-gram fractions, operators.text."
        "repetition_signals), and a BM25 branch (operators.text."
        "bm25_score_of): every document scored against a fixed "
        "three-term query using corpus stats from ONE map-combinable "
        "aggregate broadcast back as a single row — plus model_quality, "
        "the fasttext-style hashed-feature linear classifier score "
        "(operators.quality: md5 bucket -> literal-weight lookup -> "
        "sigmoid, zero-shuffle JVM projection; training on labeled seed "
        "sets via fit_quality_classifier) — the full pre-training "
        "quality-filter feature set (heuristic AND learned) plus "
        "retrieval scoring computed in a single pass over the corpus.",
)
def text_stats(spark, sf_dir):
    # repartition first: the per-row HOF expressions (n-gram build +
    # array_distinct) are CPU-dense and the corpus arrives as one file
    # partition locally — spread the work across all cores (at scale the
    # scan already has many splits and this is a cheap no-op-ish shuffle)
    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    # stacked projections: every array (tokens, regex tokens, lines,
    # 2/3-grams) materializes exactly once per row — inlining the split
    # into each of its many references degrades to O(tokens^2) per row
    # (measured 8x on this query)
    base = d.select(
        "doc_id", "text",
        T.tokens("text").alias("__ws"),
        F.regexp_extract_all("text", F.lit("[a-z0-9]+"), 0).alias("__tre"),
        T.nonempty_lines("text").alias("__lns"),
    )
    # BM25 corpus statistics: one map-combinable aggregate, ONE row,
    # broadcast back — the per-doc scoring below stays a pure projection
    bstats = T.bm25_corpus_stats(base, "__ws", _BM25_TERMS)
    grams = base.crossJoin(F.broadcast(bstats)).select(
        "doc_id", "text", "__ws", "__tre", "__lns",
        "__bm25_n", "__bm25_avgdl",
        *[f"__bm25_df{i}" for i in range(len(_BM25_TERMS))],
        T.word_ngrams("__ws", 2).alias("__g2"),
        T.word_ngrams("__ws", 3).alias("__g3"),
    )
    ws = F.col("__ws")
    return grams.select(
        "doc_id",
        F.size(ws).alias("n_tokens"),
        F.length("text").alias("n_chars_measured"),
        F.round(T.avg_token_len_of(ws), 6).alias("avg_token_len"),
        F.round(T.type_token_ratio_of(ws), 6).alias("ttr"),
        F.round(T.stopword_ratio_of(ws), 6).alias("stop_ratio"),
        F.round(T.quality_score_of(ws), 6).alias("quality"),
        F.size("__tre").alias("n_tokens_regex"),
        F.size(F.array_distinct("__tre")).alias("n_unique_regex"),
        T.repeated_fraction_of(F.col("__lns")).alias("repeated_line_frac"),
        T.repeated_fraction_of(F.col("__g2")).alias("repeated_2gram_frac"),
        T.repeated_fraction_of(F.col("__g3")).alias("repeated_3gram_frac"),
        F.round(T.bm25_score_of("__ws", _BM25_TERMS), 6).alias("bm25"),
        F.round(Q.model_quality_of(ws, _QMODEL), 6).alias("model_quality"),
    )


# line-dedup branch constants: the corpus is single-line word salad, so
# multi-line bodies with KNOWN cross-document boilerplate are synthesized
# deterministically from doc_id (same trick as text_pii_redact): a promo
# line shared by ~1/7 of the corpus and a newsletter line shared by ALL
# docs (both boilerplate, removed), a line shared by exactly 2 docs
# (df == max_doc_freq boundary, kept), and a unique ref line (kept).
_LD_MAX_DF = 2
# chunking branch: small windows so the ~100-token synthetic docs yield
# several overlapping chunks each (overlap = 32 - 24 = 8 tokens)
_CHUNK_TOKENS = 32
_CHUNK_STRIDE = 24

_LD_SYNTH_SQL = (
    "text || chr(10) || 'promo code ' || (doc_id % 7)::VARCHAR || chr(10) || "
    "'subscribe to our newsletter' || chr(10) || "
    "'shared ' || (doc_id % 250)::VARCHAR || chr(10) || 'ref ' || doc_id::VARCHAR"
)


@register(
    "text_langid_fingerprint",
    oracle=(
        lambda: (
            "WITH scored AS (SELECT doc_id, lang, ws, "
            + ", ".join(
                f"len(list_filter(ws, x -> x IN ({', '.join(repr(m) for m in markers)}))) AS s_{lang}"
                for lang, markers in T.LANG_PROFILES.items()
            )
            + f" FROM (SELECT doc_id, lang, {_WS} AS ws FROM documents)),\n"
            + "langid AS (SELECT doc_id, lang AS declared, CASE "
            + " ".join(
                "WHEN "
                + " AND ".join(
                    f"s_{lang} >= s_{other}" for other in T.LANG_PROFILES if other != lang
                )
                + f" THEN '{lang}'"
                for lang in T.LANG_PROFILES
            )
            + f" ELSE '{next(iter(T.LANG_PROFILES))}' END AS predicted, "
            + f"CAST(list_sum(list_transform(ws, (w, i) -> {_H32.format(x='w')} * i)) AS BIGINT)"
            + " AS fingerprint FROM scored),\n"
            + f"t0 AS (SELECT doc_id, {_LD_SYNTH_SQL} AS t FROM documents),\n"
            + "ln AS (SELECT doc_id, line, pos FROM ("
            + "SELECT doc_id, unnest(string_split(t, chr(10))) AS line, "
            + "generate_subscripts(string_split(t, chr(10)), 1) AS pos FROM t0"
            + ") WHERE trim(line) != ''),\n"
            + "hot AS (SELECT md5(trim(line)) AS k FROM ln GROUP BY 1 "
            + f"HAVING count(DISTINCT doc_id) > {_LD_MAX_DF}),\n"
            + "kept AS (SELECT doc_id, pos, line FROM ln "
            + "WHERE md5(trim(line)) NOT IN (SELECT k FROM hot)),\n"
            + "ld AS (SELECT tot.doc_id, tot.n_lines, "
            + "coalesce(kp.n_kept, 0) AS n_kept_lines, "
            + "md5(coalesce(kp.cleaned, '')) AS clean_hash "
            + "FROM (SELECT doc_id, count(*) AS n_lines FROM ln GROUP BY 1) tot "
            + "LEFT JOIN (SELECT doc_id, count(*) AS n_kept, "
            + "string_agg(line, chr(10) ORDER BY pos) AS cleaned "
            + "FROM kept GROUP BY 1) kp USING (doc_id)),\n"
            + "ck AS (SELECT doc_id, chunk_idx, md5(array_to_string("
            + f"list_slice(ws, start, start + {_CHUNK_TOKENS - 1}), ' ')) AS chunk_hash "
            + "FROM (SELECT doc_id, ws, "
            + f"unnest(generate_series(1, greatest(len(ws), 1), {_CHUNK_STRIDE})) AS start, "
            + f"generate_subscripts(generate_series(1, greatest(len(ws), 1), {_CHUNK_STRIDE}), 1) - 1 AS chunk_idx "
            + f"FROM (SELECT doc_id, {_WS} AS ws FROM documents))),\n"
            + "ca AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks, "
            + "md5(string_agg(chunk_hash, '' ORDER BY chunk_idx)) AS chunks_hash "
            + "FROM ck GROUP BY 1)\n"
            + "SELECT langid.doc_id, declared, predicted, fingerprint, "
            + "n_lines, n_kept_lines, clean_hash, n_chunks, chunks_hash "
            + "FROM langid JOIN ld USING (doc_id) JOIN ca USING (doc_id)"
        )
    )(),
    doc="Per-document text-hygiene suite, three operator branches joined "
        "on doc_id: (1) marker-frequency language-ID heuristic "
        "(deterministic argmax, profile-order tiebreak) + "
        "position-weighted rolling document fingerprint over 32-bit md5 "
        "token hashes — one zero-shuffle codegen projection; (2) "
        "corpus-level line dedup (operators.text.line_dedup): boilerplate "
        "lines appearing in > 2 distinct docs removed (known boilerplate "
        "synthesized deterministically from doc_id onto the single-line "
        "corpus), per-doc kept-line counts + md5 of the reassembled text, "
        "with the df == threshold boundary exercised by a line shared by "
        "exactly 2 docs; (3) sliding-window chunking (operators.text."
        "chunk_documents, 32-token windows, stride 24): per-doc chunk "
        "count + md5 over the ordered chunk hashes pins every chunk's "
        "content, order, and boundaries.",
)
def text_langid_fingerprint(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        F.col("lang").alias("declared"),
        T.lang_id("text").alias("predicted"),
        T.fingerprint("text").alias("fingerprint"),
    )
    synth = F.concat_ws(
        "\n",
        F.col("text"),
        F.concat(F.lit("promo code "), (F.col("doc_id") % 7).cast("string")),
        F.lit("subscribe to our newsletter"),
        F.concat(F.lit("shared "), (F.col("doc_id") % 250).cast("string")),
        F.concat(F.lit("ref "), F.col("doc_id").cast("string")),
    )
    ld = T.line_dedup(
        d.select("doc_id", synth.alias("t")), "t", "doc_id", max_doc_freq=_LD_MAX_DF
    ).select("doc_id", "n_lines", "n_kept_lines", F.md5("cleaned").alias("clean_hash"))
    ch = T.chunk_documents(d, "text", "doc_id", _CHUNK_TOKENS, _CHUNK_STRIDE)
    ca = ch.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.md5(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("chunk_idx", "chunk_hash"))),
                    lambda s: s["chunk_hash"],
                ),
            )
        ).alias("chunks_hash"),
    )
    return base.join(ld, "doc_id").join(ca, "doc_id")


# --- dataset splitting -------------------------------------------------------

# mixture branch: per-language keep rates (the data-mixing knob); shared
# constants with the oracle so both engines apply identical thresholds
_MIX_RATES = {"en": 0.5, "de": 1.0, "fr": 0.25}
_MIX_DEFAULT = 0.1
_MIX_RESOLUTION = 10_000

# cap branch: at most N docs per source (the per-domain crawl cap); the
# corpus has 25 docs per source at sf0.01, so the cap genuinely drops rows
_CAP_PER_SOURCE = 10
_SHUFFLE_SHARDS = 8


@register(
    "train_split_stratified",
    oracle=f"""
    WITH assigned AS (
        SELECT lang, n_chars,
               ('0x' || substring(md5(doc_id::VARCHAR || ':split'), 1, 12))::UBIGINT % 10
                   AS bucket
        FROM documents
    ),
    mixed AS (
        SELECT lang, n_chars
        FROM documents
        WHERE ('0x' || substring(md5(doc_id::VARCHAR || ':mix'), 1, 12))::UBIGINT
                  % {_MIX_RESOLUTION}
            < CASE lang {" ".join(f"WHEN '{k}' THEN {int(round(r * _MIX_RESOLUTION))}" for k, r in _MIX_RATES.items())}
                   ELSE {int(round(_MIX_DEFAULT * _MIX_RESOLUTION))} END
    )
    SELECT 'split' AS kind, lang,
           CASE WHEN bucket < 8 THEN 'train'
                WHEN bucket < 9 THEN 'val'
                ELSE 'test' END AS split,
           count(*) AS cnt,
           round(avg(n_chars), 4) AS avg_chars
    FROM assigned
    GROUP BY lang, split
    UNION ALL
    SELECT 'mixture' AS kind, lang, 'kept' AS split,
           count(*) AS cnt, round(avg(n_chars), 4) AS avg_chars
    FROM mixed
    GROUP BY lang
    UNION ALL
    SELECT 'cap' AS kind, source AS lang, 'kept' AS split,
           count(*) AS cnt, round(avg(n_chars), 4) AS avg_chars
    FROM (SELECT source, n_chars,
                 row_number() OVER (PARTITION BY source
                                    ORDER BY md5(doc_id::VARCHAR || ':cap'), doc_id) AS rn
          FROM documents)
    WHERE rn <= {_CAP_PER_SOURCE}
    GROUP BY source
    UNION ALL
    SELECT 'shuffle' AS kind, shard::VARCHAR AS lang,
           arg_min(doc_id, pos)::VARCHAR AS split,
           count(*) AS cnt, round(avg(n_chars), 4) AS avg_chars
    FROM (SELECT doc_id, n_chars,
                 md5(doc_id::VARCHAR || ':shuffle') AS pos,
                 (('0x' || substring(md5(doc_id::VARCHAR || ':shuffle'), 1, 12))::UBIGINT
                     % {_SHUFFLE_SHARDS})::INT AS shard
          FROM documents)
    GROUP BY shard
    """,
    doc="Three tagged branches of deterministic md5-bucket sampling "
        "(engine-portable, sticky under appends): 'split' — 80/10/10 "
        "train/val/test assignment (operators.sampling.stratified_split), "
        "verified stratified via per-language counts and mean doc length; "
        "'mixture' — per-language weighted downsampling "
        "(operators.sampling.sample_mixture, the data-MIXING knob: keep "
        "50% of en, 100% of de, 25% of fr, 10% of the rest); 'cap' — "
        "per-source row cap (operators.sampling.cap_per_key, the "
        "per-domain crawl cap: keep the 10 highest-md5-priority docs of "
        "each source), run through the two-stage skew path "
        "(skew_buckets=4) and checked against the oracle's one-stage "
        "row_number definition — proving the skew-safe plan computes the "
        "identical set. The first two are pure codegen projections + one "
        "partial+final aggregate; the cap is bounded-fan-in windows "
        "(each stage-1 task sees at most 1/4 of a hot key). 'shuffle' — "
        "deterministic global training-order shuffle (operators.sampling."
        "shuffle_order): md5 shard + within-shard md5 position, the "
        "training-export permutation that needs no global sort "
        "(repartition + sortWithinPartitions when materialized via "
        "export_training_shards); per-shard counts plus the FIRST doc in "
        "shuffle order pin the actual permutation, not just the "
        "partition sizes.",
)
def train_split_stratified(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    s = S.stratified_split(d, "doc_id")
    split_rows = s.groupBy("lang", "split").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
    ).select(F.lit("split").alias("kind"), "lang", "split", "cnt", "avg_chars")
    mixed = S.sample_mixture(d, "doc_id", _MIX_RATES, key_col="lang",
                             default_rate=_MIX_DEFAULT, resolution=_MIX_RESOLUTION)
    mix_rows = mixed.groupBy("lang").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
    ).select(F.lit("mixture").alias("kind"), "lang",
             F.lit("kept").alias("split"), "cnt", "avg_chars")
    capped = S.cap_per_key(d, "source", "doc_id", _CAP_PER_SOURCE, skew_buckets=4)
    cap_rows = capped.groupBy("source").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
    ).select(F.lit("cap").alias("kind"), F.col("source").alias("lang"),
             F.lit("kept").alias("split"), "cnt", "avg_chars")
    sh = S.shuffle_order(d, "doc_id", _SHUFFLE_SHARDS)
    shuf_rows = sh.groupBy("shard").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.min(F.struct("pos", "doc_id")).getField("doc_id").alias("first_doc"),
    ).select(F.lit("shuffle").alias("kind"),
             F.col("shard").cast("string").alias("lang"),
             F.col("first_doc").cast("string").alias("split"),
             "cnt", "avg_chars")
    return (split_rows.unionByName(mix_rows).unionByName(cap_rows)
            .unionByName(shuf_rows))


@register(
    "pack_sequences",
    oracle="""
    WITH toks AS (
        SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
               ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::INT % 8 AS shard
        FROM documents),
    packed AS (
        SELECT shard, doc_id, n_tok,
               CAST(floor((sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id)
                           - n_tok) / 512.0) AS BIGINT) AS bin
        FROM toks)
    SELECT shard, bin, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS bin_tokens,
           min(doc_id) AS first_id, max(doc_id) AS last_id
    FROM packed GROUP BY shard, bin
    """,
    doc="Sequence packing (operators.packing): documents assigned to "
        "512-token training bins by sharded greedy-contiguous packing — "
        "deterministic md5 shard, per-shard prefix sum, bin = "
        "floor(preceding_tokens/budget). ONE window exchange on the shard "
        "key (a global ordered window would serialize the corpus through "
        "one reducer; sharding bounds each partition to corpus/n_shards "
        "and packs all shards in parallel — the 100 TB shape). Output is "
        "the per-bin manifest a training loader consumes.",
)
def pack_sequences(spark, sf_dir):
    from ..operators import packing as P

    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", T.token_count("text").alias("n_tok"))
    return P.pack_stats(toks, "doc_id", "n_tok", budget=512, n_shards=8)


# --- multimodal plumbing -----------------------------------------------------

@register(
    "multimodal_metadata_features",
    oracle=(
        lambda: (
            "SELECT doc_id AS media_id, "
            "CAST(octet_length(encode(text)) AS BIGINT) AS byte_len, "
            "sha256(text) AS digest, "
            "'[' || array_to_string(list_transform(list_value("
            + ", ".join(
                "round(((('0x'||substr(md5(text), {p1}, 2))::BIGINT * 256 + "
                "('0x'||substr(md5(text), {p2}, 2))::BIGINT) % 1000) / 1000.0, 6)".format(
                    p1=2 * (i % 16) + 1, p2=2 * ((i + 1) % 16) + 1
                )
                for i in range(8)
            )
            + "), x -> printf('%.6f', x)), ',') || ']' AS features, "
            "CAST(len(generate_series(0, greatest(octet_length(encode(text)) // 64, 1)"
            " - 1, 3)) AS BIGINT) AS n_sampled_frames FROM documents"
        )
    )(),
    doc="Multimodal pipeline end-to-end: opaque binary payload -> typed "
        "media table with JVM-side metadata (length + sha256, operators."
        "multimodal.to_media_table — no Python in the scan path) -> "
        "Arrow-batched mapInPandas feature extraction with the "
        "deterministic fake decoder (real decode stubbed: no media libs "
        "in container; operators.multimodal.decode_image) -> frame-sample "
        "plan (explode per sampled frame index, operators.multimodal."
        "frame_sample_plan) re-aggregated per media row. Features "
        "serialize to a fixed %.6f string so the oracle harness can sort "
        "and hash them (array columns are unhashable driver-side).",
)
def multimodal_metadata_features(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    media = M.to_media_table(d.withColumn("payload", F.encode("text", "UTF-8")), "doc_id", "payload")
    feats = M.extract_features(media, dim=8, fake=True)
    features_str = F.concat(
        F.lit("["),
        F.concat_ws(",", F.transform("features", lambda x: F.format_string("%.6f", x))),
        F.lit("]"),
    )
    # frame-sampling: small frame size so the synthetic payloads span
    # multiple frames and the sampled count actually varies per document
    frames = (
        M.frame_sample_plan(media, every_n=3, bytes_per_frame=64)
        .groupBy("media_id").agg(F.count(F.lit(1)).alias("n_sampled_frames"))
    )
    return feats.join(frames, on="media_id").select(
        "media_id", "byte_len", "digest", features_str.alias("features"),
        "n_sampled_frames",
    )


# PII is synthesized onto each document deterministically (the corpus is
# PII-free word salad): one email, one IPv4, one phone, one URL, all
# id-derived so both engines build byte-identical inputs. The operator
# under test is the scrub itself (operators.text.redact_pii).
@register(
    "text_pii_redact",
    oracle="""
    WITH t0 AS (
        SELECT doc_id,
               text || ' contact user' || doc_id || '@example.com ip 10.1.' ||
               (doc_id % 256) || '.42 call +1 555 123 4567 see https://ex.org/d/' ||
               doc_id || '?ref=x' AS t
        FROM documents),
    t1 AS (SELECT doc_id, len(regexp_extract_all(t, 'https?://[^\\s]+')) AS n_url,
                  regexp_replace(t, 'https?://[^\\s]+', '<URL>', 'g') AS t FROM t0),
    t2 AS (SELECT doc_id, n_url,
                  len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_email,
                  regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t
           FROM t1),
    t3 AS (SELECT doc_id, n_url, n_email,
                  len(regexp_extract_all(t, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS n_ip,
                  regexp_replace(t, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g') AS t
           FROM t2),
    t4 AS (SELECT doc_id, n_url, n_email, n_ip,
                  len(regexp_extract_all(t, '\\+?\\d[\\d\\s().-]{6,}\\d')) AS n_phone,
                  regexp_replace(t, '\\+?\\d[\\d\\s().-]{6,}\\d', '<PHONE>', 'g') AS t
           FROM t3)
    SELECT doc_id, CAST(n_url AS INT) AS n_url, CAST(n_email AS INT) AS n_email,
           CAST(n_ip AS INT) AS n_ip, CAST(n_phone AS INT) AS n_phone,
           md5(t) AS redacted_hash
    FROM t4
    """,
    doc="PII redaction (operators.text.redact_pii): URL / email / IPv4 / "
        "phone-shaped spans scrubbed by a fixed-order JVM-side "
        "regexp_replace chain (patterns valid in both Java regex and RE2, "
        "so the oracle replicates the scrub byte-for-byte), with per-kind "
        "redaction counts and an md5 over the final redacted text. PII is "
        "synthesized onto the (PII-free) corpus deterministically from "
        "doc_id. Zero shuffle — pure map, linear at any corpus size.",
)
def text_pii_redact(spark, sf_dir):
    # regex chains are CPU-dense: spread the single-file local corpus
    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    synth = F.concat(
        F.col("text"),
        F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@example.com ip 10.1."), (F.col("doc_id") % 256).cast("string"),
        F.lit(".42 call +1 555 123 4567 see https://ex.org/d/"),
        F.col("doc_id").cast("string"), F.lit("?ref=x"),
    )
    red = T.redact_pii(d.select("doc_id", synth.alias("t")), "t")
    return red.select(
        "doc_id",
        F.col("n_url").cast("int").alias("n_url"),
        F.col("n_email").cast("int").alias("n_email"),
        F.col("n_ip").cast("int").alias("n_ip"),
        F.col("n_phone").cast("int").alias("n_phone"),
        F.md5("redacted").alias("redacted_hash"),
    )
