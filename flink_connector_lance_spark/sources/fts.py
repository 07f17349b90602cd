"""Full-text-search inverted index: a term-clustered postings dataset
with BM25 scoring that reads only the query terms' postings.

``bm25_search`` (operators/text.py) is the correct one-shot shape — two
passes over the corpus. But a *corpus* is searched many times: at 100 TB
every query re-tokenizing every document is the wrong cost model. The
classic answer is an inverted index, and this module materializes one
with the machinery the engine already has, instead of a bespoke store:

- **build** (``create_fts_index``): one explode pass turns the corpus
  into postings ``(term, id, tf, dl)`` — exactly one row per (term,
  document) pair, carrying the term frequency and the document length.
  The postings are written as a normal versioned fragment dataset under
  ``<table>/_indexes/<text_col>/fts`` with ``write.sort-by=term`` +
  ``write.cluster=true`` (one range shuffle -> fragments own disjoint
  term ranges -> manifest zone maps prune whole fragments on term
  predicates) and a bloom filter on ``term`` for point lookups inside
  surviving fragments. Corpus-level stats that BM25 needs globally
  (document count, summed document length) ride in the commit metadata
  as MERGEABLE sums.
- **search** (``fts_search``): reads the postings THROUGH the pushdown
  scan path with ``term IN (query terms)`` — fragment zone-map pruning +
  bloom skipping + parquet row-group pruning mean IO is O(postings of
  the query's terms), not O(corpus). Per-term document frequencies are
  exact counts over those same postings (one tiny aggregate); scoring is
  a broadcast join of the ≤|terms|-row stats onto the postings, one
  partial-aggregated shuffle on the document id (sized by candidate
  postings), and a TakeOrdered top-k. No full-corpus pass anywhere.
- **refresh** (``refresh_fts_index``): the rollup playbook
  (sources/rollup.py) — the index's commit meta records the exact base
  fragment files it covers; appends explode ONLY the delta fragments and
  append-commit (stats merge by sum, O(delta)); any covered-file rewrite
  (DELETE/MERGE/compaction) falls back to a full rebuild. Delta
  fragments overlap the old term ranges, so pruning selectivity decays
  with append count — ``compact`` the index dataset (cluster_dataset on
  ``term``) to restore tight ranges; ``search`` keeps working either way.

Score parity: the scoring arithmetic reuses the operator tree of
``operators.text.bm25_score_of`` term-by-term in query order (per-term
partial sums are exact — one posting per (term, doc) — and the final
sum adds them left-to-right), so for every document that contains at
least one query term the indexed score is BIT-IDENTICAL to the
full-scan score. Documents containing NO query term score exactly 0.0
in the full scan and are absent from the index's candidate set — the
top-k therefore matches the full scan whenever at least k documents
match the query (``tests/test_fts.py`` pins both the parity and the
pruned-IO contract).

The reference has no FTS surface (its catalog/search is vector-only —
ref LanceVectorSearch.java); this follows Lance-format FTS semantics
(BM25 over an inverted index) re-expressed on the engine's own
fragment/zone-map/bloom substrate.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..options import DatasetOptions
from ..operators.text import BM25_B, BM25_K1, tokens
from . import fragments as FR
from .maintenance import _file_scan
from .writer import write_dataset

_META_KEY = "fts"
_ANALYZERS = ("whitespace", "simple")


def _analyze_col(text_col: str, analyzer: str):
    """Token-array Column under ``analyzer``: 'whitespace' is the corpus
    tokenizer shared with operators.text (exact bm25_search parity);
    'simple' lowercases and splits on alphanumeric runs (the Lucene
    SimpleAnalyzer shape — case/punctuation-insensitive search, still a
    pure codegen expression)."""
    if analyzer == "whitespace":
        return tokens(text_col)
    if analyzer == "simple":
        return F.regexp_extract_all(F.lower(F.col(text_col)),
                                    F.lit("[a-z0-9]+"), 0)
    raise ValueError(f"unknown analyzer {analyzer!r}; one of {_ANALYZERS}")


def analyze_query(query: str, analyzer: str = "whitespace") -> list:
    """The query-side twin of ``_analyze_col`` (must tokenize queries
    EXACTLY like the indexed text, or postings lookups miss)."""
    import re

    if analyzer == "whitespace":
        raw = query.split(" ")
    elif analyzer == "simple":
        raw = re.findall(r"[a-z0-9]+", query.lower())
    else:
        raise ValueError(f"unknown analyzer {analyzer!r}; one of {_ANALYZERS}")
    return [t for t in raw if t]


def fts_index_path(path: str, text_col: str) -> str:
    return os.path.join(path, "_indexes", text_col, "fts")


def _postings(df: DataFrame, text_col: str, id_col: str,
              with_positions: bool = False,
              analyzer: str = "whitespace") -> DataFrame:
    """Explode documents into ``(term, id, tf, dl)`` postings — one row
    per DISTINCT (term, document) pair. All codegen: split once, keep
    the doc length, explode, count duplicates away with a groupBy that
    shuffles on (term, id) — the same key space the clustered write
    range-partitions next, so AQE coalesces rather than re-shuffling.

    ``with_positions=True`` additionally keeps the sorted token offsets
    of every occurrence (``positions: array<int>``) — the phrase-query
    enabler, at ~4 bytes/occurrence extra postings storage."""
    toks = df.select(
        F.col(id_col).alias("id"),
        _analyze_col(text_col, analyzer).alias("__ts"),
    ).select("id", F.size("__ts").alias("dl"),
             F.posexplode("__ts").alias("p", "term"))
    aggs = [F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl")]
    if with_positions:
        aggs.append(F.sort_array(F.collect_list("p")).alias("positions"))
    return toks.groupBy("term", "id").agg(*aggs)


def _delta_stats(df: DataFrame, text_col: str, id_col: str,
                 analyzer: str = "whitespace") -> tuple:
    """(n_docs, sum_dl) of a corpus slice — ONE map-combinable aggregate,
    driver receives a single row."""
    row = df.select(
        F.count(F.col(id_col)).alias("n"),
        F.sum(F.size(_analyze_col(text_col, analyzer))).alias("s"),
    ).first()
    return int(row["n"]), int(row["s"] or 0)


def _commit_postings(post: DataFrame, idx_path: str, meta: dict,
                     mode: str, max_rows_per_fragment: int,
                     expected_base_version: "int | None" = None,
                     s3=None) -> None:
    # maxRecordsPerFile splits a range partition into SEQUENTIAL sorted
    # runs, so every emitted fragment still owns a tight term range —
    # fragment count scales with posting volume without losing pruning
    opts = DatasetOptions(
        path=idx_path,
        sort_columns=["term"],
        cluster_on_write=True,
        bloom_columns=["term"],
        write_max_rows_per_file=max_rows_per_fragment,
        s3=s3,
    )
    # Measured and rejected (round 14): persisting `post` DISK_ONLY
    # around this write to spare the range-boundary sample pass does NOT
    # pay — interleaved min-of-4 at sf0.1: plain 1.398s vs persisted
    # 1.451s. The sample job reuses the groupBy's shuffle output, so the
    # "second pass" only re-runs the cheap post-shuffle aggregate, while
    # the persist adds a full disk write+read of the postings.
    write_dataset(post, idx_path, mode=mode, options=opts,
                  commit_meta={_META_KEY: meta},
                  expected_base_version=expected_base_version)


def _prune_postings_files(m, idx_path: str, terms: list,
                          storage: "dict | None" = None) -> list:
    """Fragment files that may hold postings of ``terms`` — the SAME
    conservative planning predicates the datasource reader applies
    (zone maps via _fragment_may_match, then term bloom sidecars), run
    driver-side so the surviving files can feed a native scan."""
    from .datasource import In, _bloom_may_match, _fragment_may_match

    pushed = [In(("term",), tuple(terms))]
    keep = []
    for f in m.fragments:
        if not all(_fragment_may_match(f.stats or {}, f.row_count, p)
                   for p in pushed):
            continue
        if not _bloom_may_match(idx_path, f, pushed, storage):
            continue
        keep.append(os.path.join(idx_path, f.file))
    return keep


def _postings_scan(spark: SparkSession, idx: str, terms: list,
                   cols: list, s3) -> DataFrame:
    """The query-terms postings scan behind fts_search / fts_search_phrase.

    Fragment pruning (zone maps + term blooms) runs driver-side on the
    manifest, and only the surviving fragments scan
    (``reader.read_fragment_files``), with ``term IN (...)`` as the scan
    filter. Locally that is Spark's native parquet reader with the filter
    pushed (parquet row-group pruning intact), which keeps the
    Python-datasource boundary off the search path — its fixed per-scan
    plan+read worker round trip measured 0.94s vs 0.22s for the identical
    pruned scan at sf0.1. An s3:// index scans the same file subset
    through the datasource, pinned to the manifest read here. IO stays
    O(matching postings) through the same pruning predicates (delegated,
    not reimplemented)."""
    from .reader import read_fragment_files

    storage = s3.to_storage_options() if s3 is not None else None
    m = FR.read_manifest(idx, None, storage)
    files = _prune_postings_files(m, idx, terms, storage)
    return (read_fragment_files(spark, m, files, s3=s3)
            .filter(F.col("term").isin(terms)).select(*cols))


def create_fts_index(spark: SparkSession, path: str, text_col: str = "text",
                     id_col: str = "doc_id",
                     max_rows_per_fragment: int = 1_000_000,
                     with_positions: bool = False,
                     analyzer: str = "whitespace",
                     s3=None) -> dict:
    """Build (or rebuild) the inverted index for ``text_col``. One
    explode pass + one range shuffle; postings land term-clustered with
    term blooms. ``with_positions=True`` stores per-occurrence token
    offsets, enabling ``fts_search_phrase``; ``analyzer`` picks the
    tokenizer (see ``_analyze_col`` — queries are analyzed identically
    at search time). Returns a summary dict.

    s3:// corpora work end-to-end (``s3=S3Options(...)``): the postings
    dataset lives under the same ``_indexes/<col>/fts`` key prefix —
    the continuously indexed search corpus ON object storage."""
    if analyzer not in _ANALYZERS:
        raise ValueError(f"unknown analyzer {analyzer!r}; one of {_ANALYZERS}")
    storage = s3.to_storage_options() if s3 is not None else None
    m = FR.read_manifest_compat(path, storage_options=storage)
    base = _file_scan(spark, path, m, s3)
    n_docs, sum_dl = _delta_stats(base, text_col, id_col, analyzer)
    meta = {
        "text_col": text_col,
        "id_col": id_col,
        "covered_files": [f.file for f in m.fragments],
        "source_version": m.version,
        "n_docs": n_docs,
        "sum_dl": sum_dl,
    }
    meta["max_rows_per_fragment"] = int(max_rows_per_fragment)
    meta["with_positions"] = bool(with_positions)
    meta["analyzer"] = analyzer
    _commit_postings(
        _postings(base, text_col, id_col, with_positions, analyzer),
        fts_index_path(path, text_col), meta, "overwrite",
        max_rows_per_fragment, s3=s3)
    return {"text_col": text_col, "n_docs": n_docs,
            "source_version": m.version,
            "covered_fragments": len(m.fragments)}


def refresh_fts_index(spark: SparkSession, path: str,
                      text_col: str = "text",
                      max_retries: int = 5, s3=None) -> dict:
    """Bring the index up to the table's current version — incremental
    for pure appends (explode the delta only), full rebuild when a
    covered fragment was rewritten, noop otherwise.

    The incremental append-commit is CONDITIONAL on the index version
    the refresher read (compare-and-swap): two refreshers racing on the
    same delta (a per-epoch streaming refresh vs a cron maintenance
    pass) would otherwise both snapshot ``covered_files`` and both
    append the delta postings, double-counting tf/df/n_docs. The loser
    of the race gets ``CommitConflict``, re-reads the moved index head,
    and re-derives — usually into a noop because the winner already
    covered the delta (``tests/test_fts.py`` races two refreshers)."""
    for _ in range(max_retries):
        try:
            return _refresh_fts_once(spark, path, text_col, s3)
        except FR.CommitConflict:
            continue
    raise RuntimeError(
        f"fts refresh lost the commit race {max_retries} times at {path}")


def _refresh_fts_once(spark: SparkSession, path: str, text_col: str,
                      s3=None) -> dict:
    idx = fts_index_path(path, text_col)
    storage = s3.to_storage_options() if s3 is not None else None
    idx_m = FR.read_manifest(idx, None, storage)
    info = idx_m.meta.get(_META_KEY)
    if not info:
        raise ValueError(f"{idx} is not an fts index (no {_META_KEY!r} meta)")
    id_col = info["id_col"]
    cur = FR.read_manifest_compat(path, storage_options=storage)
    covered = set(info["covered_files"])
    cur_files = {f.file for f in cur.fragments}
    if covered - cur_files:
        out = create_fts_index(spark, path, text_col, id_col,
                               info.get("max_rows_per_fragment", 1_000_000),
                               info.get("with_positions", False),
                               info.get("analyzer", "whitespace"), s3=s3)
        return {"mode": "full", **out,
                "reason": f"{len(covered - cur_files)} covered fragment(s) rewritten"}
    added = [f for f in cur.fragments if f.file not in covered]
    if not added:
        return {"mode": "noop", "source_version": info["source_version"]}
    delta = _file_scan(spark, path, cur, s3, files=[f.file for f in added])
    dn, ds = _delta_stats(delta, text_col, id_col,
                          info.get("analyzer", "whitespace"))
    meta = dict(info)
    meta.update(
        covered_files=[f.file for f in cur.fragments],
        source_version=cur.version,
        n_docs=info["n_docs"] + dn,
        sum_dl=info["sum_dl"] + ds,
    )
    _commit_postings(
        _postings(delta, text_col, id_col, info.get("with_positions", False),
                  info.get("analyzer", "whitespace")),
        idx, meta, "append", info.get("max_rows_per_fragment", 1_000_000),
        expected_base_version=idx_m.version, s3=s3)
    return {"mode": "incremental", "source_version": cur.version,
            "delta_fragments": len(added), "delta_docs": dn}



# Each distinct query term below the cap unrolls into its own aggregate
# column (the bit-parity sum); past it that is janino/codegen blowup —
# the same failure mode sources/rollup._MAX_HIST_BINS guards — so
# scoring switches to one groupBy SUM. Scores then add in shuffle
# arrival order: equal up to float summation order, not bit-identical.
MAX_UNROLL_TERMS = 64

# Phrase slots unroll one pivoted positions column each; real phrases
# are a handful of tokens, so refuse paragraph-sized inputs outright
# (there is no group-by fallback that preserves consecutive-position
# semantics cheaply).
_MAX_PHRASE_TERMS = 16


def fts_search(spark: SparkSession, path: str, query: str,
               text_col: str = "text", k: int = 10,
               k1: float = BM25_K1, b: float = BM25_B,
               match_all: bool = False,
               max_unroll_terms: int = MAX_UNROLL_TERMS,
               s3=None, _post: "DataFrame | None" = None) -> DataFrame:
    """Top-k documents by BM25, touching only the query terms' postings.

    Returns ``(id, bm25)`` descending (ties on id), id named after the
    indexed id column. Candidate set = documents containing >= 1 query
    term; every absent document scores exactly 0.0 under BM25, so this
    equals the full-scan ``bm25_search`` top-k whenever k documents
    match (see module docstring).

    ``match_all=True`` is boolean-AND semantics: only documents
    containing EVERY query term are scored (one extra null-check over
    the per-term partials — no additional IO or shuffle). Scores for the
    surviving documents are unchanged.

    Queries with more than ``max_unroll_terms`` DISTINCT terms score
    through a single groupBy SUM instead of the per-term column unroll
    (a 500-term query must not compile 500 aggregate columns); the
    full-scan bit-parity contract softens to float-summation-order
    tolerance on that path (``tests/test_fts.py`` pins both).

    ``_post`` (internal hook, the ``vec_leg`` pattern): an already
    MATERIALIZED ``(term, id, tf, dl)`` relation of exactly this query's
    terms' postings. Callers that run several searches of the SAME
    query in one plan (queries.knn.vector_search_udtf: plain, match_all
    and the hybrid lexical leg) pass one shared scan instead of paying
    the pruned postings scan per search; scores are identical because
    the relation is identical (pinned by tests/test_opt_r14.py).
    """
    if k < 0:
        raise ValueError("k must be >= 0")
    idx = fts_index_path(path, text_col)
    storage = s3.to_storage_options() if s3 is not None else None
    try:
        info = FR.read_manifest(idx, None, storage).meta.get(_META_KEY)
    except FileNotFoundError:
        info = None
    if not info:
        raise ValueError(f"no fts index for {text_col!r} at {path} — "
                         "create_fts_index first")
    terms = list(dict.fromkeys(
        analyze_query(query, info.get("analyzer", "whitespace"))))
    if not terms:
        raise ValueError("empty query")
    n, avgdl = info["n_docs"], info["sum_dl"] / max(info["n_docs"], 1)
    # pruned-postings scan: term IN (...) prunes fragments via zone maps
    # (the clustered write gave them disjoint term ranges), then blooms,
    # then parquet row groups — IO is O(matching postings), locally or on
    # s3 (local indexes scan natively; see _postings_scan). Materialized
    # once: BOTH consumers (the df stats aggregate and the scoring join)
    # otherwise re-run the postings scan.
    post = _post if _post is not None else (
        _postings_scan(spark, idx, terms, ["term", "id", "tf", "dl"], s3)
        .localCheckpoint(eager=False)
    )
    # exact per-term document frequencies from the pruned postings: one
    # tiny aggregate (<= |terms| rows), broadcast back
    stats = post.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # per-posting BM25 contribution — the SAME operator tree as
    # operators.text.bm25_score_of (idf * tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl)))
    tf = F.col("tf").cast("double")
    dfc = F.col("df").cast("double")
    idf = F.log(F.lit(1.0) + (F.lit(float(n)) - dfc + F.lit(0.5)) / (dfc + F.lit(0.5)))
    contrib = idf * (tf * F.lit(k1 + 1.0)) / (
        tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b)
                          * F.col("dl").cast("double") / F.lit(float(avgdl)))
    )
    scored = post.join(F.broadcast(stats), "term").select(
        "id", "term", contrib.alias("__c"))
    if len(terms) > max_unroll_terms:
        # bounded-plan path: ONE sum + one posting count per document
        # (exactly one posting per (term, doc), so the count IS the
        # number of distinct query terms the document contains)
        agg = scored.groupBy("id").agg(
            F.sum("__c").alias("__s"), F.count(F.lit(1)).alias("__nt"))
        if match_all:
            agg = agg.filter(F.col("__nt") == len(terms))
        out = agg.select(F.col("id").alias(info["id_col"]),
                         F.round(F.col("__s"), 6).alias("bm25"))
        return out.orderBy(F.desc("bm25"), F.asc(info["id_col"])).limit(k)
    # bit-parity with the full scan's left-to-right term sum: aggregate
    # each term's (single-element) partial separately, then add in query
    # order — groupBy SUM over all terms at once would add in shuffle
    # arrival order and drift in the last float ulps
    per_term = scored.groupBy("id").agg(*[
        F.sum(F.when(F.col("term") == t, F.col("__c"))).alias(f"__t{i}")
        for i, t in enumerate(terms)
    ])
    if match_all:
        # AND semantics: a null per-term partial means the document lacks
        # that term — drop it before ranking (pure filter, no extra IO)
        for i in range(len(terms)):
            per_term = per_term.filter(F.col(f"__t{i}").isNotNull())
    total: "F.Column | None" = None
    for i in range(len(terms)):
        part = F.coalesce(F.col(f"__t{i}"), F.lit(0.0))
        total = part if total is None else total + part
    out = per_term.select(
        F.col("id").alias(info["id_col"]),
        F.round(total, 6).alias("bm25"),
    )
    return out.orderBy(F.desc("bm25"), F.asc(info["id_col"])).limit(k)


def fts_search_phrase(spark: SparkSession, path: str, phrase: str,
                      text_col: str = "text", k: int = 10,
                      k1: float = BM25_K1, b: float = BM25_B,
                      s3=None) -> DataFrame:
    """Top-k documents containing ``phrase`` as CONSECUTIVE tokens,
    ranked by BM25 over the phrase frequency.

    Needs a positional index (``create_fts_index(with_positions=True)``).
    IO is still O(the phrase's terms' postings): the pushdown read pulls
    each term's (id, positions) lists, a per-document pivot lines them
    up, and one codegen ``array_intersect`` chain over SHIFTED position
    arrays finds phrase starts — position p starts a match iff
    p ∈ P_0, p+1 ∈ P_1, ..., p+n-1 ∈ P_{n-1}, i.e.
    ``P_0 ∩ (P_1 - 1) ∩ ... ∩ (P_{n-1} - (n-1))`` is non-empty. The
    intersection size IS the phrase term frequency (occurrences can
    overlap, matching the textbook positional-index definition).

    Scoring treats the phrase as one pseudo-term: tf = occurrence count,
    df = number of matching documents (one tiny aggregate over the
    candidates), idf/normalization identical to ``bm25_score_of``.
    Returns ``(id, phrase_tf, bm25)`` descending, ties on id.
    """
    if k < 0:
        raise ValueError("k must be >= 0")
    idx = fts_index_path(path, text_col)
    storage = s3.to_storage_options() if s3 is not None else None
    try:
        info = FR.read_manifest(idx, None, storage).meta.get(_META_KEY)
    except FileNotFoundError:
        info = None
    if not info:
        raise ValueError(f"no fts index for {text_col!r} at {path} — "
                         "create_fts_index first")
    terms = analyze_query(phrase, info.get("analyzer", "whitespace"))
    if not terms:
        raise ValueError("empty phrase")
    if len(terms) > _MAX_PHRASE_TERMS:
        # each phrase slot pivots into its own positions column + one
        # array_intersect link — fine for real phrases, codegen blowup
        # for a pasted paragraph (the unroll cap's sibling guard)
        raise ValueError(
            f"phrase has {len(terms)} terms (> {_MAX_PHRASE_TERMS}) — "
            "phrase search is for short token sequences; split the query "
            "or use fts_search(match_all=True) for long conjunctions")
    if not info.get("with_positions"):
        raise ValueError(
            "phrase search needs a positional index — rebuild with "
            "create_fts_index(..., with_positions=True)")
    n = info["n_docs"]
    avgdl = info["sum_dl"] / max(n, 1)
    post = _postings_scan(spark, idx, list(dict.fromkeys(terms)),
                          ["term", "id", "dl", "positions"], s3)
    # per-document pivot: one positions array per phrase slot (a term
    # appearing twice in the phrase fills both its slots from the same
    # posting). Missing slot -> null -> candidate dropped (AND semantics
    # is a precondition of a phrase match).
    pivoted = post.groupBy("id").agg(
        F.first("dl").alias("dl"),
        *[F.first(F.when(F.col("term") == t, F.col("positions")),
                  ignorenulls=True).alias(f"__p{i}")
          for i, t in enumerate(terms)],
    )
    for i in range(len(terms)):
        pivoted = pivoted.filter(F.col(f"__p{i}").isNotNull())
    def _shift(col, by):
        # one-arg lambda on purpose: a two-parameter lambda would be
        # interpreted as transform's (element, array_index) form and the
        # array index would silently replace the phrase-slot offset
        return F.transform(col, lambda x: x - F.lit(by))

    starts = F.col("__p0")
    for i in range(1, len(terms)):
        starts = F.array_intersect(starts, _shift(F.col(f"__p{i}"), i))
    cand = (pivoted.withColumn("phrase_tf", F.size(starts))
            .filter(F.col("phrase_tf") > 0)
            .select("id", "dl", "phrase_tf")
            # materialized once: the df aggregate and the scoring
            # projection both consume it — without this the postings
            # datasource scan + pivot run twice per phrase search
            .localCheckpoint(eager=False))
    # df of the pseudo-term = matching doc count: ONE tiny aggregate
    # broadcast back (same two-pass shape as bm25_corpus_stats)
    stats = cand.agg(F.count(F.lit(1)).alias("__df"))
    tf = F.col("phrase_tf").cast("double")
    dfc = F.col("__df").cast("double")
    idf = F.log(F.lit(1.0) + (F.lit(float(n)) - dfc + F.lit(0.5)) / (dfc + F.lit(0.5)))
    score = idf * (tf * F.lit(k1 + 1.0)) / (
        tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b)
                          * F.col("dl").cast("double") / F.lit(float(avgdl)))
    )
    out = cand.crossJoin(F.broadcast(stats)).select(
        F.col("id").alias(info["id_col"]),
        "phrase_tf",
        F.round(score, 6).alias("bm25"),
    )
    return out.orderBy(F.desc("bm25"), F.asc(info["id_col"])).limit(k)
