"""Text-analysis operators for large-scale training-data pipelines.

All operators are pure Catalyst column expressions over a text column —
no Python UDFs — so they run inside whole-stage codegen and scale
linearly with partitions (no shuffle at all for per-document features).

Cross-engine determinism: token hashing uses the first 8/15 hex chars of
md5 (identical in Spark and DuckDB); positional ops use 1-based indices
to match DuckDB's indexed lambdas (Spark's `transform` index is 0-based,
we add 1).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column

# Fixed marker-word profiles for the n-gram/stopword language-ID heuristic.
# (The corpus is synthetic word salad; the *mechanism* — per-language marker
# frequency scoring with deterministic argmax — is what this implements.)
LANG_PROFILES: dict[str, list[str]] = {
    "en": ["the", "a", "data", "table"],
    "es": ["el", "la", "los", "datos"],
    "de": ["der", "die", "das", "und"],
    "fr": ["le", "la", "les", "des"],
    "zh": ["de5", "shi4", "he2", "zai4"],
}
STOPWORDS = ["the", "a", "of", "and"]


def _d(v: float) -> str:
    """Exact double literal for a single-parse SQL expression:
    CAST('<repr>' AS DOUBLE) constant-folds to the identical double
    F.lit(v) would create (repr round-trips; Java parseDouble is
    correctly rounded), without bare-decimal-literal DECIMAL typing."""
    return f"CAST('{float(v)!r}' AS DOUBLE)"


def tokens(text_col) -> Column:
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.split(c, " ")


def token_count(text_col) -> Column:
    return F.size(tokens(text_col))


def token_hash64(tok: Column) -> Column:
    """60-bit deterministic token hash: first 15 hex chars of md5."""
    return F.conv(F.substring(F.md5(tok), 1, 15), 16, 10).cast("long")


def token_hash32(tok: Column) -> Column:
    """32-bit deterministic token hash: first 8 hex chars of md5."""
    return F.conv(F.substring(F.md5(tok), 1, 8), 16, 10).cast("long")


def marker_count(text_col, markers: list[str]) -> Column:
    return F.size(F.filter(tokens(text_col), lambda t: t.isin(*markers)))


def avg_token_len_of(ts: Column) -> Column:
    """Over an already-materialized token array (hot-path form: pass a real
    column so the split isn't re-inlined per reference — see with_shingles)."""
    total = F.aggregate(F.transform(ts, lambda t: F.length(t)), F.lit(0), lambda a, v: a + v)
    return total.cast("double") / F.size(ts)


def avg_token_len(text_col) -> Column:
    return avg_token_len_of(tokens(text_col))


def type_token_ratio_of(ts: Column) -> Column:
    return F.size(F.array_distinct(ts)).cast("double") / F.size(ts)


def stopword_ratio_of(ts: Column, stopwords: list[str] | None = None) -> Column:
    sw = stopwords or STOPWORDS
    return F.size(F.filter(ts, lambda t: t.isin(*sw))).cast("double") / F.size(ts)


def quality_score_of(ts: Column) -> Column:
    """Composite quality heuristic over a materialized token array:
    length saturation + lexical diversity + stopword balance. Range [0, 1]."""
    n = F.size(ts).cast("double")
    length_part = F.least(F.lit(1.0), n / F.lit(100.0))
    return (
        length_part * 0.5
        + type_token_ratio_of(ts) * 0.3
        + (F.lit(1.0) - stopword_ratio_of(ts)) * 0.2
    )


def quality_score(text_col) -> Column:
    """Expression form (single-use contexts — the hot path materializes
    tokens once and uses quality_score_of)."""
    return quality_score_of(tokens(text_col))


def word_ngrams(ws: "Column | str", n: int) -> Column:
    """All (non-distinct) word n-grams over a token array; empty when the
    document is shorter than n. The when-guard is required because Spark's
    ``sequence(0, negative)`` counts DOWNWARD instead of returning empty.

    A string column name takes the single-parse SQL form (identical
    expression tree, one py4j round trip instead of ~2n+8)."""
    if isinstance(ws, str):
        c = f"`{ws}`"
        cells = ", ".join(
            f"element_at({c}, CAST(i + {j + 1} AS INT))" for j in range(n))
        return F.expr(
            f"CASE WHEN size({c}) >= {n} THEN "
            f"transform(sequence(0, size({c}) - {n}), "
            f"i -> concat_ws(' ', {cells})) "
            f"ELSE CAST(array() AS ARRAY<STRING>) END")
    size = F.size(ws)
    grams = F.transform(
        F.sequence(F.lit(0), size - n),
        lambda i: F.concat_ws(" ", *[F.element_at(ws, (i + j + 1).cast("int")) for j in range(n)]),
    )
    return F.when(size >= n, grams).otherwise(F.array().cast("array<string>"))


def repeated_fraction_of(g: Column) -> Column:
    """1 - distinct/total over an already-materialized element array —
    the repeat-share core of both Gopher-style filters. Pass a real
    column: the expression references ``g`` twice."""
    total = F.size(g)
    return F.when(total > 0,
                  F.round(F.lit(1.0) - F.size(F.array_distinct(g)) / total, 6)
                  ).otherwise(F.lit(0.0))


def nonempty_lines(text_col) -> Column:
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.filter(F.split(c, "\n"), lambda ln: F.trim(ln) != "")


def repeated_ngram_fraction(text_col, n: int = 2) -> Column:
    """Fraction of word n-gram occurrences that are repeats of an earlier
    occurrence: 1 - distinct/total. The Gopher-style repetition filter —
    boilerplate and degenerate (looping) generations score high. Pure
    codegen, zero shuffle. Expression form: single-use contexts only —
    hot paths materialize the gram array and use repeated_fraction_of."""
    return repeated_fraction_of(word_ngrams(tokens(text_col), n))


def repetition_signals(df, text_col: str, id_col: str):
    """Per-document repetition profile: (id, repeated_line_frac,
    repeated_2gram_frac, repeated_3gram_frac) — stacked codegen
    projections (tokens, then gram arrays, then fractions) so each array
    materializes exactly once per row; no shuffle. Filter downstream on
    whatever thresholds the pipeline uses (Gopher: drop if 2-gram
    repetition > 0.2)."""
    toks = df.select(
        F.col(id_col),
        tokens(text_col).alias("__ws"),
        nonempty_lines(text_col).alias("__lns"),
    )
    grams = toks.select(
        F.col(id_col), F.col("__lns"),
        word_ngrams("__ws", 2).alias("__g2"),
        word_ngrams("__ws", 3).alias("__g3"),
    )
    return grams.select(
        F.col(id_col),
        repeated_fraction_of(F.col("__lns")).alias("repeated_line_frac"),
        repeated_fraction_of(F.col("__g2")).alias("repeated_2gram_frac"),
        repeated_fraction_of(F.col("__g3")).alias("repeated_3gram_frac"),
    )


def lang_scores(text_col, profiles: dict[str, list[str]] | None = None) -> dict[str, Column]:
    prof = profiles or LANG_PROFILES
    return {lang: marker_count(text_col, markers) for lang, markers in prof.items()}


def lang_id(text_col, profiles: dict[str, list[str]] | None = None) -> Column:
    """Deterministic argmax over marker scores: first language (in profile
    order) whose score >= every other score.

    A string column name assembles the whole argmax as ONE SQL parse
    (~100 py4j round trips saved per call); tree and results identical."""
    prof = profiles or LANG_PROFILES
    langs = list(prof)
    if isinstance(text_col, str):
        def _score(markers: list[str]) -> str:
            lits = ", ".join(
                "'" + m.replace("\\", "\\\\").replace("'", "\\'") + "'"
                for m in markers)
            return (f"size(filter(split(`{text_col}`, ' '), "
                    f"t -> t IN ({lits})))")

        score = {lang: _score(ms) for lang, ms in prof.items()}
        branches = " ".join(
            "WHEN ({cond}) THEN '{lang}'".format(
                cond=" AND ".join(
                    f"{score[lang]} >= {score[o]}" for o in langs if o != lang),
                lang=lang)
            for lang in langs
        )
        return F.expr(f"CASE {branches} ELSE '{langs[0]}' END")
    scores = lang_scores(text_col, prof)
    expr = None
    for lang in langs:
        cond = None
        for other in langs:
            if other == lang:
                continue
            c = scores[lang] >= scores[other]
            cond = c if cond is None else (cond & c)
        branch = F.when(cond, F.lit(lang))
        expr = branch if expr is None else expr.when(cond, F.lit(lang))
    return expr.otherwise(F.lit(langs[0]))


def fingerprint(text_col) -> Column:
    """Position-weighted rolling document fingerprint:
    sum_i hash32(w_i) * i  (i 1-based), as BIGINT."""
    ts = tokens(text_col)
    weighted = F.transform(ts, lambda t, i: token_hash32(t) * (i + F.lit(1)).cast("long"))
    return F.aggregate(weighted, F.lit(0).cast("long"), lambda a, v: a + v)


def simhash_of(hs: "Column | str", bits: int = 60) -> Column:
    """SimHash over an already-materialized token-hash array column:
    for each bit j, majority-vote over tokens; set bit j if the vote > 0.

    Stays entirely in array expressions (aggregate over transform), so
    per-document cost is O(tokens * bits) inside codegen and the operator
    needs no shuffle. Pass a real column (see dedup.with_shingles note):
    the hash array is referenced ``bits`` times and must not be re-inlined.

    A string column name assembles the whole ``bits``-term vote as ONE
    SQL parse — the per-bit Column loop costs ~8 py4j round trips per bit
    (~0.4 s of driver time at 32 bits); the tree and results are
    identical."""
    if isinstance(hs, str):
        c = f"`{hs}`"
        votes = " + ".join(
            "(CASE WHEN aggregate({c}, 0, (a, h) -> a + "
            "(CASE WHEN (h & {m}) != 0 THEN 1 ELSE -1 END)) > 0 "
            "THEN CAST({m} AS BIGINT) ELSE CAST(0 AS BIGINT) END)".format(
                c=c, m=1 << j)
            for j in range(bits)
        )
        return F.expr(f"CAST(0 AS BIGINT) + {votes}")

    def _vote(mask: int):
        # closure (not a default arg): pyspark infers lambda arity, and a
        # default parameter would be mistaken for the array-index argument
        return lambda a, h: a + F.when(h.bitwiseAND(F.lit(mask)) != 0, 1).otherwise(-1)

    out = F.lit(0).cast("long")
    for j in range(bits):
        vote = F.aggregate(hs, F.lit(0), _vote(1 << j))
        out = out + F.when(vote > 0, F.lit(1 << j).cast("long")).otherwise(F.lit(0).cast("long"))
    return out


def simhash(text_col, bits: int = 60) -> Column:
    """Expression form of SimHash (single-use contexts only)."""
    return simhash_of(F.transform(tokens(text_col), lambda t: token_hash64(t)), bits)


# PII redaction patterns, applied in a fixed order (URL first: URLs contain
# '@'-free user paths and digit runs that the later patterns would otherwise
# chew on). Each is valid in BOTH Java regex (Spark) and RE2 (DuckDB) — no
# lookaround, no backreferences — so an oracle can replicate the scrub
# byte-for-byte. Redaction = regexp_replace (global in both engines).
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("url", r"https?://[^\s]+", "<URL>"),
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\+?\d[\d\s().-]{6,}\d", "<PHONE>"),
]


def redact_pii(df, text_col: str, patterns=None):
    """Scrub PII-shaped spans (URLs, emails, IPv4s, phone-like digit runs)
    from a text column — the anonymization pass every training-data
    pipeline runs before release.

    Sequential regexp_replace chain, entirely JVM-side regex (no Python);
    per stage a ``n_<kind>`` count column records how many spans that
    stage redacted (counted on the pre-replace text of THAT stage, so
    ordering ambiguities — an IPv4 is also a phone-shaped digit run —
    resolve identically everywhere). Zero shuffle; scales as a pure map."""
    pats = patterns or PII_PATTERNS
    cur = F.col(text_col) if isinstance(text_col, str) else text_col
    out = df
    for kind, pat, repl in pats:
        out = out.withColumn(
            f"n_{kind}", F.size(F.regexp_extract_all(cur, F.lit(pat), F.lit(0)))
        ).withColumn(f"__red_{kind}", F.regexp_replace(cur, pat, repl))
        cur = F.col(f"__red_{kind}")
    out = out.withColumn("redacted", cur)
    return out.drop(*[f"__red_{k}" for k, _, _ in pats])


def line_dedup(df, text_col: str, id_col: str, max_doc_freq: int = 1,
               line_sep: str = "\n"):
    """Corpus-level line deduplication: remove lines that appear in more
    than ``max_doc_freq`` DISTINCT documents — the C4/CCNet-style
    boilerplate scrub (navigation bars, cookie banners, share buttons)
    that per-document dedup can never catch because each copy lives in a
    different document.

    Returns one row per input document:
    ``(id_col, n_lines, n_kept_lines, cleaned)`` where ``cleaned`` is the
    document's surviving lines re-joined in original order (empty string
    when every line was boilerplate) and ``n_lines`` counts non-empty
    lines before the scrub.

    Scale shape (the 100 TB contract):
    - one posexplode of non-empty lines (linear, no shuffle);
    - doc-frequency per md5 line key as ONE partial+final aggregate —
      map-side combine collapses each partition's line multiset, so the
      hot boilerplate keys arrive at their reducer as one partial count
      per map partition (frequency skew absorbed exactly like a word
      count);
    - the HOT key set (df > threshold) is tiny by construction —
      boilerplate is the rare repeated tail — so the left_anti join that
      drops hot lines broadcasts under AQE instead of reshuffling the
      corpus;
    - one groupBy(id) to reassemble (array_sort over (pos, line) structs —
      no per-document window).
    Never an all-pairs comparison anywhere.

    ``line_sep`` is treated as a LITERAL separator (escaped before the
    regex split), so "|" or "." split where you'd expect. Documents with
    no non-empty lines (empty/blank/NULL text) still return their row,
    with n_lines = 0 and an empty ``cleaned``.
    """
    import re

    sep_re = re.escape(line_sep)
    lines = (
        df.select(
            F.col(id_col),
            F.posexplode(F.split(F.col(text_col), sep_re)).alias("__pos", "__line"),
        )
        .filter(F.trim("__line") != "")
        .withColumn("__k", F.md5(F.trim("__line")))
    )
    hot = (
        lines.groupBy("__k")
        .agg(F.count_distinct(F.col(id_col)).alias("__df"))
        .filter(F.col("__df") > max_doc_freq)
        .select("__k")
    )
    kept = lines.join(hot, "__k", "left_anti")
    per_doc = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_kept_lines"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__line"))),
                lambda s: s["__line"],
            ),
            line_sep,
        ).alias("cleaned"),
    )
    totals = lines.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_lines"))
    # anchor on the INPUT docs, not the exploded lines: a document whose
    # text is empty/blank/NULL has zero non-empty lines and would silently
    # vanish from a totals-anchored result (data loss when the caller
    # joins the cleaned text back)
    all_docs = df.select(id_col).distinct()
    return all_docs.join(totals, id_col, "left").join(per_doc, id_col, "left").select(
        F.col(id_col),
        F.coalesce("n_lines", F.lit(0)).alias("n_lines"),
        F.coalesce("n_kept_lines", F.lit(0)).alias("n_kept_lines"),
        F.coalesce("cleaned", F.lit("")).alias("cleaned"),
    )


def chunk_documents(df, text_col: str, id_col: str,
                    chunk_tokens: int = 64, stride: int = 48):
    """Split each document into fixed-size sliding token windows — the
    chunking pass that prepares a corpus for embedding / RAG indexing
    (chunk k covers tokens [1 + k*stride, 1 + k*stride + chunk_tokens),
    1-based; overlap = chunk_tokens - stride).

    Returns one row per chunk:
    ``(id_col, chunk_idx, start_token, n_chunk_tokens, chunk_hash)``
    with ``chunk_idx`` 0-based in document order and ``chunk_hash`` the
    md5 of the space-joined chunk text (the downstream join key to attach
    embeddings back to chunks without re-shipping the text).

    Pure codegen: tokens materialize once per row, starts are a
    ``sequence`` literal, the only row expansion is the posexplode —
    no shuffle at all, linear at any corpus size. Every document yields
    at least one chunk (an empty text yields one empty chunk)."""
    if chunk_tokens <= 0 or stride <= 0:
        raise ValueError("chunk_tokens and stride must be positive")
    base = df.select(F.col(id_col), tokens(text_col).alias("__ws"))
    n = F.size("__ws")
    starts = F.sequence(F.lit(1), F.greatest(n, F.lit(1)), F.lit(stride))
    exploded = base.select(
        F.col(id_col),
        F.col("__ws"),
        F.posexplode(starts).alias("chunk_idx", "__start"),
    )
    chunk = F.slice("__ws", F.col("__start"), chunk_tokens)
    return exploded.select(
        F.col(id_col),
        F.col("chunk_idx"),
        F.col("__start").alias("start_token"),
        F.size(chunk).alias("n_chunk_tokens"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_hash"),
    )


def top_tokens(df, text_col: str, k: int = 100, min_len: int = 1):
    """Corpus-level heavy hitters: the ``k`` most frequent tokens and their
    counts — vocabulary profiling for a training corpus (stopword lists,
    tokenizer sanity, boilerplate detection).

    Scale shape: explode -> partial+final count aggregate (map-side
    combine collapses each partition's token multiset before the shuffle,
    so shuffle volume is O(distinct tokens per partition), not O(tokens))
    -> TakeOrdered top-k. Token-frequency skew ("the") is absorbed by the
    partial aggregate — the hot key arrives at its reducer as ONE partial
    count per map partition.
    """
    tok = F.explode(tokens(text_col)).alias("token")
    return (
        df.select(tok)
        .filter(F.length("token") >= min_len)
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("token"))
        .limit(k)
    )


# --- BM25 retrieval scoring --------------------------------------------------

BM25_K1 = 1.2
BM25_B = 0.75


def bm25_corpus_stats(df, tokens_col: str, query_terms) -> "DataFrame":
    """ONE-row corpus statistics for BM25: total docs ``__bm25_n``,
    average document length ``__bm25_avgdl``, and per-query-term document
    frequencies ``__bm25_df{i}``.

    One map-combinable aggregate over the corpus — broadcast the result
    back (it is a single row) and score documents with
    ``bm25_score_of``. At 100 TB this is the textbook two-pass shape:
    stats pass (tiny output) + scoring pass (zero shuffle).
    """
    aggs = [
        F.count(F.lit(1)).alias("__bm25_n"),
        F.avg(F.size(F.col(tokens_col))).alias("__bm25_avgdl"),
    ]
    for i, t in enumerate(query_terms):
        aggs.append(
            F.sum(F.array_contains(F.col(tokens_col), t).cast("int")).alias(f"__bm25_df{i}")
        )
    return df.agg(*aggs)


def bm25_score_of(tokens_col: str, query_terms, k1: float = BM25_K1,
                  b: float = BM25_B) -> Column:
    """BM25 (Robertson/Sparck Jones, the +1-smoothed idf variant) of a
    document against ``query_terms``, as a pure column expression over a
    pre-split token array. Requires the ``bm25_corpus_stats`` columns in
    scope (cross-join the 1-row stats relation first).

    score = Σ_t ln(1 + (N - df_t + 0.5)/(df_t + 0.5))
              · tf_t·(k1+1) / (tf_t + k1·(1 - b + b·dl/avgdl))

    Arithmetic is ordered identically to the paired DuckDB oracle
    (left-to-right term sum, same operator tree), so results are
    bit-identical before rounding.
    """
    if not query_terms:
        raise ValueError("bm25 needs at least one query term")
    # ONE SQL parse for the whole score: the per-term Column loop costs
    # ~15 py4j round trips per term (~0.2 s of driver time per call at 3
    # terms); the parse costs one. Same operator tree and arithmetic
    # order (left-to-right term sum), so scores are bit-identical.
    # tf as size - size(array_remove): same integer as a filter-count
    # (array_remove drops ALL occurrences; split yields no NULLs) but
    # stays in whole-stage codegen — F.filter is a CodegenFallback
    # HOF, measured ~35% slower for the three-term scoring pass
    ts = f"`{tokens_col}`"
    dl = f"CAST(size({ts}) AS DOUBLE)"
    parts = []
    for i, t in enumerate(query_terms):
        lit_t = "'" + str(t).replace("\\", "\\\\").replace("'", "\\'") + "'"
        tf = f"CAST((size({ts}) - size(array_remove({ts}, {lit_t}))) AS DOUBLE)"
        dfc = f"`__bm25_df{i}`"
        idf = f"ln({_d(1.0)} + (`__bm25_n` - {dfc} + {_d(0.5)}) / ({dfc} + {_d(0.5)}))"
        parts.append(
            f"({idf} * ({tf} * {_d(k1 + 1.0)}) / ({tf} + {_d(k1)} * "
            f"({_d(1.0 - b)} + {_d(b)} * {dl} / `__bm25_avgdl`)))"
        )
    return F.expr(" + ".join(parts))


def bm25_search(df, text_col: str, id_col: str, query: str, k: int = 10,
                k1: float = BM25_K1, b: float = BM25_B) -> "DataFrame":
    """Top-k documents for a free-text query by BM25.

    Tokenizes the query with the corpus tokenizer (whitespace),
    deduplicates terms preserving first-seen order, computes corpus
    stats (one aggregate), scores every document in a zero-shuffle
    projection, and takes the global top-k (TakeOrdered; ties break on
    the id for determinism). Returns ``(id, bm25)`` descending.
    """
    terms = list(dict.fromkeys(t for t in query.split(" ") if t))
    if not terms:
        raise ValueError("empty query")
    base = df.select(F.col(id_col), tokens(text_col).alias("__bm25_ts"))
    stats = bm25_corpus_stats(base, "__bm25_ts", terms)
    scored = base.crossJoin(F.broadcast(stats)).select(
        F.col(id_col),
        F.round(bm25_score_of("__bm25_ts", terms, k1, b), 6).alias("bm25"),
    )
    return scored.orderBy(F.desc("bm25"), F.asc(id_col)).limit(k)
