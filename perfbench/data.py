"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of a ``numpy.random.Generator``: the
same seed gives the same rows. Tables are returned as Arrow tables so the
same rows feed the engine (through ``createDataFrame`` with the table's
own Spark schema) and the reference checks (DuckDB / numpy).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import types as T

# lineitem as the engine reads it from the corpus: Spark 4 infers the
# tz-naive parquet ``l_shipdate`` as TIMESTAMP_NTZ, so the generated
# batches carry that type too (a pandas round trip would turn it into
# TIMESTAMP and the append would rightly reject the batch)
LINEITEM_SCHEMA = T.StructType([
    T.StructField("l_orderkey", T.LongType()),
    T.StructField("l_partkey", T.LongType()),
    T.StructField("l_suppkey", T.LongType()),
    T.StructField("l_linenumber", T.IntegerType()),
    T.StructField("l_quantity", T.DoubleType()),
    T.StructField("l_extendedprice", T.DoubleType()),
    T.StructField("l_discount", T.DoubleType()),
    T.StructField("l_tax", T.DoubleType()),
    T.StructField("l_returnflag", T.StringType()),
    T.StructField("l_linestatus", T.StringType()),
    T.StructField("l_shipdate", T.TimestampNTZType()),
])

DOCUMENTS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("text", T.StringType()),
    T.StructField("lang", T.StringType()),
    T.StructField("source", T.StringType()),
    T.StructField("n_chars", T.LongType()),
])

VECTORS_SCHEMA = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("vec", T.ArrayType(T.FloatType())),
])

# Measured on the corpus's sf0.1 lineitem (600k rows): ship dates span
# 1995-01-02 .. 2001-11-04 (2499 days); part keys 0..19999, supplier keys
# 0..999; quantity 1..50, discount 0..0.10, tax 0..0.08 in hundredths.
SHIPDATE_START = np.datetime64("1995-01-02", "D")
SHIPDATE_DAYS = 2499

# Measured on the corpus's sf0.1 documents (5000 rows): the text is drawn
# from these 31 words, each about equally often; a document has 10..99
# tokens, evenly spread; ``lang`` is "en" for 41% of the rows and each of
# de/es/fr/zh for about 15%; ``source`` is one of 10, evenly spread. Exact
# duplicates are 0.16% of the rows, so the planted clusters below are the
# near-duplicates a dedup pass finds.
VOCABULARY = np.array([
    "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast", "filter", "group",
    "hash", "join", "key", "line", "merge", "order", "part", "query", "row", "scan", "slow",
    "small", "sort", "spark", "stream", "table", "the", "value", "vector", "window"])
DOC_TOKENS = (10, 100)  # [low, high) tokens per document
LANGS, LANG_P = np.array(["en", "de", "es", "fr", "zh"]), [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
SOURCES = np.array([f"src{i}" for i in range(10)])
# a planted base has at least 30 tokens: two replaced tokens then change at
# most 6 of its 28 or more 3-token shingles, which keeps every variant's
# n-gram Jaccard against its base above the 0.5 the dedup pass verifies
CLUSTER_BASE_MIN_TOKENS = 30


def lineitem(rng: np.random.Generator, first_key: int, n: int) -> pa.Table:
    """``n`` lineitem rows with ascending ``l_orderkey`` from ``first_key``.

    Keys ascend, one line per key (the corpus has about four lines per
    order), so that a bulk write lays fragments out in disjoint key ranges
    (the clustering zone maps prune on) and a key range maps to a row
    count."""
    shipdate = SHIPDATE_START + rng.integers(0, SHIPDATE_DAYS, n).astype("timedelta64[D]")
    return pa.table({
        "l_orderkey": np.arange(first_key, first_key + n, dtype=np.int64),
        "l_partkey": rng.integers(0, 20_000, n, dtype=np.int64),
        "l_suppkey": rng.integers(0, 1_000, n, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": pa.array(shipdate.astype("datetime64[us]"), pa.timestamp("us")),
    })


def _tokens(rng, n: int) -> list[str]:
    return list(VOCABULARY[rng.integers(0, len(VOCABULARY), n)])


def documents(rng: np.random.Generator, n: int, dup_share: float = 0.0,
              shuffle_ids: bool = False) -> tuple[pa.Table, list[list[int]]]:
    """``n`` documents shaped like the corpus's; ``dup_share`` of them sit
    in planted near-duplicate clusters of 2..5 members (a base text plus
    variants with two tokens replaced).

    Returns the table and the planted clusters as lists of ``doc_id``.
    ``shuffle_ids`` assigns ids as a random permutation, so id ranges do
    not follow fragment order and only a bloom filter can prune a point
    lookup."""
    texts: list[str] = []
    clusters: list[list[int]] = []
    n_dup = int(n * dup_share)
    while len(texts) < n_dup:
        size = min(int(rng.integers(2, 6)), n_dup - len(texts))
        base = _tokens(rng, int(rng.integers(CLUSTER_BASE_MIN_TOKENS, DOC_TOKENS[1])))
        members = [len(texts)]
        texts.append(" ".join(base))
        for _ in range(size - 1):
            v = list(base)
            for pos in rng.choice(len(v), size=2, replace=False):
                v[pos] = VOCABULARY[rng.integers(0, len(VOCABULARY))]
            members.append(len(texts))
            texts.append(" ".join(v))
        if len(members) > 1:
            clusters.append(members)
    while len(texts) < n:
        texts.append(" ".join(_tokens(rng, int(rng.integers(*DOC_TOKENS)))))
    ids = rng.permutation(n).astype(np.int64) if shuffle_ids else np.arange(n, dtype=np.int64)
    clusters = [[int(ids[m]) for m in c] for c in clusters]
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": LANGS[rng.choice(len(LANGS), size=n, p=LANG_P)],
        "source": SOURCES[rng.integers(0, len(SOURCES), n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), clusters


def query_terms(rng: np.random.Generator, table: pa.Table) -> str:
    """A query of two tokens taken from one random document, so the query
    always matches at least one document."""
    text = table.column("text")[int(rng.integers(0, table.num_rows))].as_py().split(" ")
    return " ".join(dict.fromkeys(rng.choice(text, size=2)))


# The vectors are the Gaussian mixture the workload design asks for, not a
# fit to the corpus's embeddings. Those (2000 x 64, 10 labels, unit norm)
# have centres 0.009 apart per coordinate against a within-cluster spread
# of 0.125, so they are close to isotropic. Here 32 centres are drawn from
# N(0, 1) and points scatter around them with sigma 0.35: clusters lie well
# apart, the shape IVF partitioning is built for.
CENTRES = 32
SIGMA = 0.35


def gaussian_mixture(rng: np.random.Generator, n: int, dim: int) -> tuple[np.ndarray, np.ndarray]:
    """``n`` float32 vectors around ``CENTRES`` Gaussian centres; returns
    (vectors, centres)."""
    c = rng.normal(size=(CENTRES, dim)).astype(np.float32)
    x = c[rng.integers(0, CENTRES, n)] + SIGMA * rng.normal(size=(n, dim)).astype(np.float32)
    return x.astype(np.float32), c


def query_vector(rng: np.random.Generator, centres: np.ndarray) -> np.ndarray:
    c = centres[rng.integers(0, len(centres))]
    return (c + SIGMA * rng.normal(size=c.shape)).astype(np.float32)


def vectors_table(x: np.ndarray) -> pa.Table:
    flat = pa.array(x.ravel(), pa.float32())
    return pa.table({
        "id": np.arange(len(x), dtype=np.int64),
        "vec": pa.ListArray.from_arrays(
            pa.array(np.arange(0, x.size + 1, x.shape[1], dtype=np.int32)), flat),
    })
