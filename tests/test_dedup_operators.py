"""Unit tests for dedup operator internals: pigeonhole-banding losslessness,
the hot-shingle skew guard and the two connected-components routes."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from flink_connector_lance_spark.operators import dedup as D


def test_simhash_banding_equals_all_pairs(spark):
    """Banding must be lossless: same pairs as the brute-force definition."""
    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta token{i % 7} token{i % 3}") for i in range(40)],
        ["doc_id", "text"],
    )
    banded = {
        (r.id_a, r.id_b, r.hamming)
        for r in D.simhash_pairs(docs, "text", "doc_id", bits=32, max_hamming=6).collect()
    }
    # brute-force reference on the signature relation
    hs = docs.select(
        "doc_id",
        F.transform(F.split("text", " "), lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")).alias("hs"),
    )
    from flink_connector_lance_spark.operators.text import simhash_of

    sig = hs.select("doc_id", simhash_of(F.col("hs"), 32).alias("sig"))
    a, b = sig.alias("a"), sig.alias("b")
    brute = {
        (r.id_a, r.id_b, r.hamming)
        for r in a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.bit_count(F.col("a.sig").bitwiseXOR(F.col("b.sig"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= 6)
        .collect()
    }
    assert banded == brute
    assert len(brute) > 0  # non-vacuous: the corpus must produce near-dups


def test_hot_shingle_guard_prunes_pathological_shingle(spark):
    """A shingle shared by every doc must not reach the self-join when the
    DF cap is set: without the guard the join on that key is O(n^2)."""
    common = "the quick brown"  # one 3-gram shared by ALL docs
    docs = spark.createDataFrame(
        [(i, f"the quick brown unique{i} word{i} tail{i} end{i}") for i in range(50)],
        ["doc_id", "text"],
    )
    unguarded = D.ngram_jaccard_pairs(docs, "text", "doc_id", shingle_k=3, threshold=0.0)
    guarded = D.ngram_jaccard_pairs(
        docs, "text", "doc_id", shingle_k=3, threshold=0.0, max_doc_freq=10
    )
    # unguarded: every pair collides on the hot shingle -> 50*49/2 pairs
    assert unguarded.count() == 50 * 49 // 2
    # guarded: the only shared shingle is pruned -> no candidate pairs at all
    assert guarded.count() == 0
    del common


def test_hot_shingle_guard_keeps_legit_overlap(spark):
    """The guard must only drop shingles above the cap — real overlapping
    pairs below the cap survive with their Jaccard intact."""
    docs = spark.createDataFrame(
        [
            (1, "shared prefix here plus alpha beta gamma"),
            (2, "shared prefix here plus delta epsilon zeta"),
            (3, "completely different words in this one doc"),
        ],
        ["doc_id", "text"],
    )
    out = D.ngram_jaccard_pairs(docs, "text", "doc_id", shingle_k=3, threshold=0.1,
                                max_doc_freq=10).collect()
    pairs = {(r.id_a, r.id_b) for r in out}
    assert (1, 2) in pairs
    assert all(p == (1, 2) for p in pairs)


def test_connected_components_labels_clusters(spark):
    import pyspark.sql.functions as F

    vertices = spark.range(10).select(F.col("id"))
    # components: {0,1,2,3} (chain), {5,6} — 4,7,8,9 singletons
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (5, 6)], ["id_a", "id_b"]
    )
    out = {r.id: r.component for r in
           D.connected_components(vertices, pairs, id_col="id").collect()}
    assert out == {0: 0, 1: 0, 2: 0, 3: 0, 4: 4, 5: 5, 6: 5, 7: 7, 8: 8, 9: 9}


def test_connected_components_deep_chain_converges(spark):
    import pyspark.sql.functions as F

    n = 12
    vertices = spark.range(n).select(F.col("id"))
    pairs = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], ["id_a", "id_b"])
    out = {r.id: r.component for r in
           D.connected_components(vertices, pairs, id_col="id", max_iterations=30).collect()}
    assert all(c == 0 for c in out.values())


@pytest.mark.parametrize("builder", ["minhash_lsh_pairs", "ngram_jaccard_pairs",
                                     "simhash_pairs"])
def test_minhash_pairs_quote_column_names(spark, builder):
    """The pair builders quote the id and text names: a backtick or a
    dot inside a name is part of the name, and the pairs equal those of
    the same corpus under plain names."""
    pairs = getattr(D, builder)
    rows = [(i, f"alpha beta gamma delta epsilon zeta token{i % 5} end") for i in range(30)]
    plain = spark.createDataFrame(rows, ["doc_id", "text"])
    want = {tuple(r) for r in pairs(plain, "text", "doc_id").collect()}
    assert len(want) > 0
    for odd_id in ("doc`id", "doc.id"):
        odd = plain.toDF(odd_id, "the.text")
        assert {tuple(r) for r in pairs(odd, "the.text", odd_id).collect()} == want


def _reference_components(vertices, edges):
    """Pure-Python connected components: vertex -> smallest id reachable."""
    adj = {v: set() for v in vertices}
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    label = {}
    for v in vertices:
        if v in label:
            continue
        seen, todo = {v}, [v]
        while todo:
            for w in adj[todo.pop()] - seen:
                seen.add(w)
                todo.append(w)
        root = min(seen)
        label.update({w: root for w in seen})
    return label


def _cc_graph(kind):
    """A 24-vertex chain whose min id sits at one end (23 hops, deeper
    than the default max_iterations), walked in shuffled id order; a
    diamond whose two paths tie on the min id; a star; duplicate and
    reversed edges; isolated vertices. String ids are unpadded, so their
    order is not the numeric one ("10" < "9")."""
    chain = [40 + 7 * i % 24 for i in range(24)]
    edges = list(zip(chain, chain[1:]))
    edges += [(1, 2), (1, 3), (2, 4), (3, 4)]            # diamond, tie on 1
    edges += [(30, 5), (30, 6), (30, 7), (7, 30)]        # star + reversed dup
    edges += [(90, 91), (90, 91)]                        # duplicate edge
    vertices = sorted({v for e in edges for v in e} | {0, 8, 9, 99})
    conv = str if kind == "string" else int
    vertices = [conv(v) for v in vertices]
    edges = [(conv(a), conv(b)) for a, b in edges]
    return vertices, edges


@pytest.mark.parametrize("kind", ["long", "int", "string"])
def test_connected_components_routes_equal_reference(spark, monkeypatch, kind):
    """The driver route (union-find) and the above-cap route (min-label
    propagation, CAP forced below the edge count) both label every vertex
    with the smallest reachable id, for long, int and string ids, and
    keep the vertex id's type."""
    vertices, edges = _cc_graph(kind)
    want = _reference_components(vertices, edges)
    # the star's min is 5 as a number but "30" as a string
    assert want["5"] == "30" if kind == "string" else want[5] == 5
    vdf = spark.createDataFrame([(v,) for v in vertices], f"id {kind}")
    pdf = spark.createDataFrame(edges, f"id_a {kind}, id_b {kind}")
    driver = D.connected_components(vdf, pdf, id_col="id")
    assert driver.schema["component"].dataType == vdf.schema["id"].dataType
    assert {r.id: r.component for r in driver.collect()} == want
    monkeypatch.setattr(D, "CAP", 3)
    spread = D.connected_components(vdf, pdf, id_col="id", max_iterations=30)
    assert spread.schema == driver.schema
    assert {r.id: r.component for r in spread.collect()} == want


def test_connected_components_deep_chain_at_default_iterations(spark):
    """A 25-vertex chain at the default max_iterations=20: the driver
    route needs no rounds, so every vertex reaches 0 (propagation capped
    at 20 rounds used to label vertices 21-24 as 1-4)."""
    n = 25
    vertices = spark.range(n).select("id")
    pairs = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], ["id_a", "id_b"])
    out = {r.id: r.component for r in D.connected_components(vertices, pairs).collect()}
    assert out == {i: 0 for i in range(n)}


def test_connected_components_above_cap_raises_when_unconverged(spark, monkeypatch):
    """The above-cap route fails loudly instead of returning labels that
    split a cluster when max_iterations runs out."""
    monkeypatch.setattr(D, "CAP", 0)
    vertices = spark.range(6).select("id")
    pairs = spark.createDataFrame([(i, i + 1) for i in range(5)], ["id_a", "id_b"])
    with pytest.raises(RuntimeError, match="max_iterations=3"):
        D.connected_components(vertices, pairs, max_iterations=3)
    out = D.connected_components(vertices, pairs, max_iterations=6)
    assert {r.component for r in out.collect()} == {0}


def test_connected_components_driver_route_one_job_local_relation(spark):
    """Under the cap, building the labels runs exactly one Spark job (the
    edge fetch), and the returned plan's label side is a broadcast
    LocalTableScan: no ExistingRDD, so no Python-worker pass to
    materialize the labels."""
    vertices = spark.range(50).select("id")
    pairs = spark.createDataFrame([(i, i + 1) for i in range(0, 40, 2)], ["id_a", "id_b"])
    sc = spark.sparkContext
    sc.setJobGroup("cc-driver-route", "cc-driver-route")
    try:
        out = D.connected_components(vertices, pairs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("cc-driver-route")) == 1
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    label_side = plan[plan.index("BroadcastExchange"):]
    assert "LocalTableScan" in label_side and "ExistingRDD" not in label_side
    got = {r.id: r.component for r in out.collect()}
    assert got == {i: (i - i % 2 if i < 40 else i) for i in range(50)}


def test_auto_num_planes_pins_oracle_width_and_scales():
    """auto_num_planes(500) == 8 keeps the Spark side in sync with the
    dedup_embedding_cosine oracle, whose plane literals are generated for
    the sf0.01 corpus (500 vectors). Width must grow with the corpus so
    bucket occupancy — and with it candidate volume per row — stays flat."""
    from flink_connector_lance_spark.operators.ann import auto_num_planes

    assert auto_num_planes(500) == 8
    assert auto_num_planes(0) == 8
    assert auto_num_planes(20_000) == 10
    assert auto_num_planes(1_000_000) == 15
    assert auto_num_planes(10**12) == 24  # capped
    widths = [auto_num_planes(n) for n in (10**3, 10**5, 10**7, 10**9)]
    assert widths == sorted(widths)


def test_make_planes_prefix_property_and_spread():
    """Fixed seed: a narrower plane set is a prefix of a wider one (so
    auto-widening never perturbs the shared low bits), and Gaussian rows
    are decorrelated (the sin-lattice planes they replace collapsed the
    test corpus into 16 of 256 buckets)."""
    from flink_connector_lance_spark.operators.ann import make_planes

    p8 = make_planes(8, 64)
    p12 = make_planes(12, 64)
    assert p12[:8] == p8
    # crude decorrelation check: no two planes nearly parallel
    import math

    for i in range(8):
        for j in range(i + 1, 8):
            dot = sum(a * b for a, b in zip(p8[i], p8[j]))
            ni = math.sqrt(sum(a * a for a in p8[i]))
            nj = math.sqrt(sum(a * a for a in p8[j]))
            assert abs(dot / (ni * nj)) < 0.5


def test_embedding_cosine_skinny_join_recovers_near_dups(spark):
    """Bucketed candidates + post-candidate vector attach must find
    near-identical vectors (signatures agree on every bit, so recall for
    true near-dups does not depend on plane count)."""
    from flink_connector_lance_spark.operators.ann import make_planes

    rows = []
    for i in range(40):
        base = [((i * 37 + j * 11) % 17 - 8) / 8.0 for j in range(8)]
        rows.append((i * 2, base))
        rows.append((i * 2 + 1, [x + 0.0005 for x in base]))  # near-dup twin
    df = spark.createDataFrame(rows, "id long, v array<double>")
    out = D.embedding_cosine_pairs(df, "v", "id", threshold=0.999,
                                   planes=make_planes(8, 8))
    got = {(r.id_a, r.id_b) for r in out.collect()}
    expected = {(i * 2, i * 2 + 1) for i in range(40)}
    # ham<=1 multiprobe: twins may still straddle >1 plane when the base
    # vector sits near several plane boundaries — require high recall,
    # not perfection
    assert len(got & expected) >= 36
    # anything extra must carry a cosine the operator itself certified
    assert all(r.cosine >= 0.999 for r in out.collect())


def test_prefix_filter_equals_naive_inverted_index(spark, sf_dir):
    """The PPJoin prefix optimization must be lossless: identical pairs
    and jaccard values as the naive all-postings join, on the real
    corpus, with and without the hot-shingle cap."""
    from flink_connector_lance_spark.io import load_table

    d = load_table(spark, sf_dir, "documents")
    for cap in (None, 50):
        fast = D.ngram_jaccard_pairs(d, "text", "doc_id", shingle_k=3,
                                     threshold=0.2, max_doc_freq=cap,
                                     prefix_filter=True)
        naive = D.ngram_jaccard_pairs(d, "text", "doc_id", shingle_k=3,
                                      threshold=0.2, max_doc_freq=cap,
                                      prefix_filter=False)
        got = {(r.id_a, r.id_b): r.jaccard for r in fast.collect()}
        want = {(r.id_a, r.id_b): r.jaccard for r in naive.collect()}
        assert got == want, f"cap={cap}: prefix filter changed results"
        assert len(want) > 0  # non-vacuous: the corpus has near-dup pairs


def test_cross_corpus_decontamination_matches_oracle(spark):
    """cross_corpus_overlap: containment-vs-eval flags planted
    contamination, matches a DuckDB oracle exactly, and the plan
    broadcasts the eval side (no cartesian/nested-loop join)."""
    import duckdb

    from flink_connector_lance_spark.operators.dedup import (
        cross_corpus_overlap,
        decontaminate,
    )

    from .oracle_check import compare_spark_duckdb

    eval_rows = [
        (101, "the quick brown fox jumps over the lazy dog today"),
        (102, "pack my box with five dozen liquor jugs again now"),
        (103, "sphinx of black quartz judge my vow before dawn breaks"),
    ]
    clean = [
        (i, f"document number {i} talks about topic{i % 7} and topic{i % 5} at length")
        for i in range(1, 18)
    ]
    contaminated = [
        # train doc 18 embeds eval 101 verbatim inside longer text
        (18, "some preamble text here " + eval_rows[0][1] + " and a closing remark"),
        # train doc 19 contains most of eval 102 (high containment)
        (19, "intro pack my box with five dozen liquor jugs outro words"),
    ]
    train = spark.createDataFrame(clean + contaminated, ["doc_id", "text"])
    evald = spark.createDataFrame(eval_rows, ["doc_id", "text"])

    out = cross_corpus_overlap(train, evald, "text", "doc_id", shingle_k=3, threshold=0.5)
    flagged = {r.train_id for r in out.collect()}
    assert flagged == {18, 19}

    con = duckdb.connect()
    con.register("train_t", train.toPandas())
    con.register("eval_t", evald.toPandas())
    shingles = (
        "list_distinct(list_transform(generate_series(1, len(ws)-2), "
        "i -> ws[i]||' '||ws[i+1]||' '||ws[i+2]))"
    )
    oracle = f"""
    WITH tsh AS (
        SELECT doc_id AS train_id, unnest(s) AS sh FROM
        (SELECT doc_id, {shingles} AS s FROM
         (SELECT doc_id, string_split(text, ' ') AS ws FROM train_t))),
    esh AS (
        SELECT doc_id AS eval_id, len(s) AS n_eval, unnest(s) AS sh FROM
        (SELECT doc_id, {shingles} AS s FROM
         (SELECT doc_id, string_split(text, ' ') AS ws FROM eval_t))),
    m AS (SELECT train_id, eval_id, n_eval, count(*) AS inter
          FROM tsh JOIN esh USING (sh) GROUP BY 1, 2, 3)
    SELECT train_id, eval_id, round(inter / n_eval, 6) AS overlap
    FROM m WHERE round(inter / n_eval, 6) >= 0.5
    """
    ok, msg = compare_spark_duckdb(out, con, oracle)
    assert ok, msg

    # decontaminate drops exactly the flagged ids
    kept = {r.doc_id for r in decontaminate(
        train, evald, "text", "doc_id", shingle_k=3, threshold=0.5).collect()}
    assert kept == {r[0] for r in clean}

    # plan shape: eval side broadcast, never a cartesian / nested loop
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan

    # hot-shingle guard only ever under-reports (no new rows)
    guarded = cross_corpus_overlap(
        train, evald, "text", "doc_id", shingle_k=3, threshold=0.5, max_doc_freq=2
    )
    g = {(r.train_id, r.eval_id) for r in guarded.collect()}
    assert g <= {(r.train_id, r.eval_id) for r in out.collect()}


def test_resolve_duplicates_keeps_best_quality_per_cluster(spark):
    from flink_connector_lance_spark.operators.dedup import resolve_duplicates

    docs = spark.createDataFrame(
        [(1, 0.9), (2, 0.5), (3, 0.7), (4, 0.7), (10, 0.1)],
        "doc_id long, quality double",
    )
    comps = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 3), (4, 3), (10, 10)], "doc_id long, component long"
    )
    out = {r.doc_id: (r.keep, r.component) for r in
           resolve_duplicates(docs, comps, quality_col="quality").collect()}
    assert out[1] == (True, 1)    # best quality in cluster 1
    assert out[2] == (False, 1)
    assert out[3] == (True, 3)    # quality tie 3 vs 4 -> lowest id wins
    assert out[4] == (False, 3)
    assert out[10] == (True, 10)  # singleton keeps itself
    # exactly one survivor per component
    kept = [d for d, (k, _) in out.items() if k]
    assert len(kept) == 3


def test_resolve_duplicates_without_quality_keeps_lowest_id(spark):
    from flink_connector_lance_spark.operators.dedup import resolve_duplicates

    docs = spark.createDataFrame([(5,), (6,), (7,)], "doc_id long")
    comps = spark.createDataFrame(
        [(5, 5), (6, 5), (7, 5)], "doc_id long, component long"
    )
    out = {r.doc_id: r.keep for r in resolve_duplicates(docs, comps).collect()}
    assert out == {5: True, 6: False, 7: False}


def test_shuffle_order_and_export(spark, tmp_path, sf_dir):
    """Deterministic global shuffle: stable across runs, sticky under
    appends, and export lays out per-shard parquet ordered by pos."""
    from flink_connector_lance_spark.io import load_table
    from flink_connector_lance_spark.operators.sampling import (
        export_training_shards,
        shuffle_order,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    a = shuffle_order(d, "doc_id", 8).orderBy("shard", "pos").collect()
    b = shuffle_order(d, "doc_id", 8).orderBy("shard", "pos").collect()
    assert a == b  # reproducible permutation
    assert {r["shard"] for r in a} == set(range(8))
    # a salt change re-deals the order
    c = shuffle_order(d, "doc_id", 8, salt="epoch2").orderBy("shard", "pos").collect()
    assert [r["doc_id"] for r in a] != [r["doc_id"] for r in c]
    # sticky: existing rows keep (shard, pos) when new rows appear
    grown = d.unionByName(
        d.limit(10).selectExpr("doc_id + 9000000 AS doc_id", "n_chars"))
    g = {r["doc_id"]: (r["shard"], r["pos"])
         for r in shuffle_order(grown, "doc_id", 8).collect()}
    for r in a:
        assert g[r["doc_id"]] == (r["shard"], r["pos"])

    out = str(tmp_path / "shards")
    export_training_shards(d, "doc_id", out, num_shards=8)
    import os

    shard_dirs = sorted(n for n in os.listdir(out) if n.startswith("shard="))
    assert len(shard_dirs) == 8
    one = spark.read.parquet(os.path.join(out, "shard=3")).collect()
    poss = [r["pos"] for r in one]
    assert poss == sorted(poss)  # within-shard order materialized
