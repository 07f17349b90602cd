"""The benchmark's workloads.

Each workload builds its inputs from the seed in ``setup()``, runs every
op class at least once in ``warmup()``, yields the ops of one closed-loop
round from ``round(r)`` and runs its end-of-run checks in ``finish()``.
Set-up and warm-up each run two independent halves of the workload at
once. Ops call the engine only through module attributes, so the traced
run sees them.

``PATHS`` maps each gated end-to-end metric to the op classes that make up
that engine path on the workload. Both workloads fill the same four
metrics, one path each, so every metric is measured on every workload; a
name says which path it is on each (``commit_or_dedup_cpu_s`` is the
commit path on ``ingest_scan`` and the dedup pass on ``retrieval_dedup``).
"""

from __future__ import annotations

import os
import time

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from flink_connector_lance_spark import index, udtf
from flink_connector_lance_spark.operators import dedup, text
from flink_connector_lance_spark.options import DatasetOptions
from flink_connector_lance_spark.sources import datasource, fragments, fts, maintenance, reader, writer

from . import data
from .harness import CheckFailed, median, tail


def _expect(ok: bool, msg: str) -> None:
    if not ok:
        raise CheckFailed(msg)


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))


def _rows_close(got: list[tuple], want: list[tuple]) -> bool:
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        for x, y in zip(g, w):
            if isinstance(x, float) or isinstance(y, float):
                if x is None or y is None or not _close(float(x), float(y)):
                    return False
            elif x != y:
                return False
    return True


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


class Workload:
    name = ""

    def __init__(self, spark, runner, rng: np.random.Generator, root: str) -> None:
        self.spark = spark
        self.rt = runner
        self.rng = rng
        self.root = root
        self.setup_parts: dict[str, float] = {}
        self.duck = duckdb.connect()

    def bulk_frame(self, name: str, table: pa.Table, schema):
        """A DataFrame over ``table`` for a set-up write: staged as a parquet
        file and read back with the table's Spark schema (cheaper than
        ``createDataFrame`` for bulk rows; same types)."""
        os.makedirs(os.path.join(self.root, "gen"), exist_ok=True)
        path = os.path.join(self.root, "gen", f"{name}.parquet")
        pq.write_table(table, path, row_group_size=10_000)
        return self.spark.read.schema(schema).parquet(path)

    def timed(self, part: str, fn):
        t0 = time.perf_counter()
        out = fn()
        self.setup_parts[part] = time.perf_counter() - t0
        return out

    def close(self) -> None:
        self.duck.close()


# ---------------------------------------------------------------------------


class IngestScan(Workload):
    """A stream of small appends into a lineitem-shaped dataset, with a
    seeded delete every third append and a compaction after each append
    (the second one after the delete that follows it), and beside them an
    analytic scan mix over the same dataset and point lookups through the
    lance datasource on a documents dataset with a ``doc_id`` bloom sidecar.

    The dataset starts as a clustered bulk write (ascending keys, so the
    fragments hold disjoint key ranges zone maps prune on); appends keep
    the keys ascending. The scans read what the commits left: more live
    fragments make every scan plan and every count more expensive."""

    name = "ingest_scan"
    INITIAL_ROWS = 30_000
    ROWS_PER_FRAGMENT = 5_000
    LOOKUP_DOCS = 500
    DOCS_PER_FRAGMENT = 100
    BATCH_ROWS = 2_000
    DELETE_SPAN = 500
    RANGE_SPAN = 10_000
    COUNTS_PER_ROUND = 3
    KEY0 = 1
    # count_rows is in no path: a driver-only metadata call of about a
    # millisecond, whose CPU figure would be mostly whatever the JVM's
    # background threads did in that millisecond
    PATHS = {
        "commit_or_dedup_cpu_s": ("append", "delete"),
        "scan_or_knn_cpu_s": ("scan_agg", "scan_range", "scan_limit"),
        "lookup_or_fts_cpu_s": ("lookup",),
        "compact_or_exact_knn_cpu_s": ("compact",),
    }

    def setup(self) -> None:
        rng = self.rng
        self.ipath = os.path.join(self.root, "lineitem")
        self.dpath = os.path.join(self.root, "documents")

        first = data.lineitem(rng, self.KEY0, self.INITIAL_ROWS)
        self.next_key = self.KEY0 + self.INITIAL_ROWS
        self.docs, _ = data.documents(rng, self.LOOKUP_DOCS, shuffle_ids=True)
        self.doc_row = {int(d): i for i, d in enumerate(self.docs.column("doc_id").to_numpy())}
        # the lookups draw their keys from a stream of their own: they warm
        # up beside the storage ops
        self.lookup_rng = rng.spawn(1)[0]
        datasource.register_lance_datasource(self.spark)
        self.rows_appended = self.rows_deleted = 0
        self.window_rows = 0
        self.bytes_rewritten: list[int] = []
        self.live_fragments: list[int] = []

        def lineitem():
            self.timed("write_lineitem_s", lambda: writer.write_dataset(
                self.bulk_frame("lineitem", first, data.LINEITEM_SCHEMA), self.ipath,
                "overwrite",
                DatasetOptions(path=self.ipath, write_max_rows_per_file=self.ROWS_PER_FRAGMENT)))
            self.v0 = fragments.latest_version(self.ipath)
            self.duck.register("first_batch", first)
            self.duck.execute("CREATE TABLE lineitem AS SELECT * FROM first_batch")
            self.v0_expect = self.duck.execute(
                "SELECT count(*), sum(l_extendedprice) FROM lineitem").fetchone()

        def documents():
            self.timed("write_documents_s", lambda: writer.write_dataset(
                self.bulk_frame("documents", self.docs, data.DOCUMENTS_SCHEMA), self.dpath,
                "overwrite", DatasetOptions(path=self.dpath, bloom_columns=["doc_id"],
                                            write_max_rows_per_file=self.DOCS_PER_FRAGMENT)))
        self.rt.parallel(lineitem, documents)

    # ---- ops -------------------------------------------------------------

    def _model_count(self) -> int:
        return self.duck.execute("SELECT count(*) FROM lineitem").fetchone()[0]

    def append(self) -> None:
        batch = data.lineitem(self.rng, self.next_key, self.BATCH_ROWS)
        self.next_key += self.BATCH_ROWS

        def run():
            df = self.spark.createDataFrame(batch, schema=data.LINEITEM_SCHEMA)
            return writer.write_dataset(df, self.ipath, "append")

        def check(manifest):
            self.duck.register("batch", batch)
            self.duck.execute("INSERT INTO lineitem SELECT * FROM batch")
            self.duck.unregister("batch")
            self.rows_appended += self.BATCH_ROWS
            if self.rt.in_window:
                self.window_rows += self.BATCH_ROWS
            _expect(manifest.row_count == self._model_count(),
                    f"manifest has {manifest.row_count} rows, expected {self._model_count()}")
        self.rt.op("append", run, check)

    def delete(self) -> None:
        lo = int(self.rng.integers(self.KEY0, self.next_key - self.DELETE_SPAN))
        hi = lo + self.DELETE_SPAN
        pred = (F.col("l_orderkey") >= lo) & (F.col("l_orderkey") < hi)

        def check(manifest):
            self.duck.execute(f"DELETE FROM lineitem WHERE l_orderkey >= {lo} AND l_orderkey < {hi}")
            want = self._model_count()
            self.rows_deleted = self.rows_appended + self.INITIAL_ROWS - want
            _expect(manifest.row_count == want,
                    f"{manifest.row_count} rows after delete, expected {want}")
        self.rt.op("delete", lambda: maintenance.delete_rows(self.spark, self.ipath, pred),
                   check)

    def compact(self) -> None:
        before = fragments.read_manifest(self.ipath)
        old = set(fragments.fragment_paths(self.ipath, before))

        def check(manifest):
            new = [p for p in fragments.fragment_paths(self.ipath, manifest) if p not in old]
            self.bytes_rewritten.append(sum(os.path.getsize(p) for p in new))
            _expect(manifest.row_count == before.row_count,
                    f"compaction changed the row count {before.row_count} -> {manifest.row_count}")
        self.rt.op("compact", lambda: maintenance.compact_dataset(
            self.spark, self.ipath, target_rows_per_fragment=20_000), check)

    def time_travel(self) -> None:
        def run():
            df = reader.read_dataset(self.spark, self.ipath, version=self.v0).agg(
                F.count(F.lit(1)), F.sum("l_extendedprice"))
            return self.rt.action(lambda: tuple(df.collect()[0]))

        self.rt.op("time_travel", run,
                   lambda got: _expect(_rows_close([got], [self.v0_expect]),
                                       f"{got} != {self.v0_expect}"))

    def count(self) -> None:
        def check(n):
            self.live_fragments.append(len(fragments.read_manifest(self.ipath).fragments))
            _expect(n == self._model_count(), f"count_rows {n} != {self._model_count()}")
        self.rt.op("count_rows", lambda: reader.count_rows(self.ipath), check)

    def scan_agg(self) -> None:
        def run():
            df = reader.read_dataset(self.spark, self.ipath).groupBy(
                "l_returnflag", "l_linestatus").agg(
                F.sum("l_quantity"), F.sum("l_extendedprice"), F.avg("l_discount"),
                F.count(F.lit(1)))
            return self.rt.action(lambda: sorted(tuple(r) for r in df.collect()))

        def check(got):
            want = self.duck.execute(
                "SELECT l_returnflag, l_linestatus, sum(l_quantity), sum(l_extendedprice), "
                "avg(l_discount), count(*) FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2").fetchall()
            _expect(_rows_close(got, want), f"{got} != {want}")
        self.rt.op("scan_agg", run, check)

    def scan_range(self) -> None:
        lo = int(self.rng.integers(self.KEY0, self.next_key - self.RANGE_SPAN))
        hi = lo + self.RANGE_SPAN
        day = data.SHIPDATE_START + int(self.rng.integers(0, data.SHIPDATE_DAYS))
        cutoff = str(day)

        def run():
            df = reader.read_dataset(
                self.spark, self.ipath,
                filter=(F.col("l_orderkey") >= lo) & (F.col("l_orderkey") < hi)
                & (F.col("l_shipdate") < F.lit(cutoff).cast("timestamp_ntz")),
            ).agg(F.count(F.lit(1)),
                  F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
            return self.rt.action(lambda: tuple(df.collect()[0]))

        def check(got):
            want = self.duck.execute(
                "SELECT count(*), sum(l_extendedprice * (1 - l_discount)) FROM lineitem "
                f"WHERE l_orderkey >= {lo} AND l_orderkey < {hi} "
                f"AND l_shipdate < TIMESTAMP '{cutoff}'").fetchone()
            _expect(_rows_close([got], [want]), f"{got} != {want}")
        self.rt.op("scan_range", run, check)

    def scan_limit(self) -> None:
        qmin = float(self.rng.integers(1, 50))

        def run():
            df = reader.read_dataset(self.spark, self.ipath,
                                     columns=["l_orderkey", "l_partkey", "l_quantity"],
                                     filter=F.col("l_quantity") >= qmin, limit=100)
            return self.rt.action(df.collect)

        def check(rows):
            _expect(len(rows) == 100, f"{len(rows)} rows, expected 100")
            got = pa.table({"k": [r.l_orderkey for r in rows], "p": [r.l_partkey for r in rows],
                            "q": [r.l_quantity for r in rows]})
            self.duck.register("got", got)
            found = self.duck.execute(
                "SELECT count(*) FROM got JOIN lineitem ON k = l_orderkey AND p = l_partkey "
                f"AND q = l_quantity WHERE q >= {qmin}").fetchone()[0]
            self.duck.unregister("got")
            _expect(found == 100 and len(set(got.column("k").to_pylist())) == 100,
                    f"{100 - found} of the 100 rows are not live rows matching the filter")
        self.rt.op("scan_limit", run, check)

    def lookup(self) -> None:
        ids = self.docs.column("doc_id")
        key = int(ids[int(self.lookup_rng.integers(0, self.LOOKUP_DOCS))].as_py())

        def run():
            df = (self.spark.read.format("lance").option("path", self.dpath).load()
                  .filter(F.col("doc_id") == key))
            return self.rt.action(df.collect)

        def check(rows):
            want = self.docs.slice(self.doc_row[key], 1).to_pylist()[0]
            _expect(len(rows) == 1 and rows[0].asDict() == want, f"lookup {key}: {rows}")
        self.rt.op("lookup", run, check)

    def lineitem_datasource_probe(self) -> str:
        """Known defect, kept visible: reading lineitem through the lance
        datasource fails on the TIMESTAMP_NTZ ``l_shipdate``. Returns the
        error, or "ok" once the datasource reads it."""
        try:
            self.spark.read.format("lance").option("path", self.ipath).load().limit(1).collect()
            return "ok"
        except Exception as e:  # noqa: BLE001 - the probe reports whatever the read raised
            lines = [ln for ln in str(e).splitlines() if "Error:" in ln] or [type(e).__name__]
            return lines[-1].strip()[:200]

    # ---- schedule --------------------------------------------------------

    def warmup(self) -> None:
        # two independent halves at once: the storage ops on lineitem, and
        # the datasource (the lookup, then the known-defect probe)
        def storage():
            for step in [self.append, self.scan_agg, self.scan_range, self.scan_limit,
                         self.count, self.delete, self.compact]:
                step()

        def lance_datasource():
            # the lookup after the failing probe costs about half as much
            # again as later ones, so a second lookup follows the probe
            self.lookup()
            self.known_defect = self.lineitem_datasource_probe()
            self.lookup()
        self.rt.parallel(storage, lance_datasource)

    def round(self, r: int):
        # the scans read the fragments the appends leave; count_rows is a
        # metadata call of about a millisecond, repeated so its median is
        # steady
        scans = [self.scan_agg, self.scan_range, self.scan_limit]
        return [self.append, *scans, self.lookup, self.compact,
                self.append, self.lookup, *[self.count] * self.COUNTS_PER_ROUND,
                self.delete, self.compact,
                self.append, *scans, self.lookup, self.compact]

    def finish(self, window_s: float) -> dict:
        self.time_travel()
        self.rt.op("vacuum", lambda: maintenance.vacuum_dataset(
            self.ipath, keep_versions=1, staging_grace_seconds=0))
        want = self._model_count()
        self.rt.op("final_count", lambda: reader.count_rows(self.ipath),
                   lambda n: _expect(n == want, f"count_rows {n} != appended - deleted {want}"))
        self.rt.op("final_scan",
                   lambda: reader.read_dataset(self.spark, self.ipath).count(),
                   lambda n: _expect(n == want, f"full scan {n} != appended - deleted {want}"))
        live = self.duck.execute("SELECT * FROM lineitem").arrow()
        w = self.rt.warm
        commits = w["append"] + w["delete"]
        scans = w["scan_agg"] + w["scan_range"] + w["scan_limit"]
        cp, ct = tail(commits)
        sp, stl = tail(scans)
        return {
            "commit_p50_s": (median(commits), "s"),
            "commit_tail_s": (ct, "s"), "commit_tail_pct": (cp, "percentile"),
            "commit_samples": (len(commits), "count"),
            "ingest_rows_per_s": (self.window_rows / window_s, "rows/s"),
            "space_amp": (dir_bytes(self.ipath) / live.nbytes, "ratio"),
            "scan_p50_s": (median(scans), "s"),
            "scan_tail_s": (stl, "s"), "scan_tail_pct": (sp, "percentile"),
            "scan_samples": (len(scans), "count"),
            "lookup_p50_s": (median(w["lookup"]), "s"),
            "time_travel_s": (self.rt.cold.get("time_travel"), "s"),
            "vacuum_s": (self.rt.cold.get("vacuum"), "s"),
            "rows_appended": (self.rows_appended, "rows"),
            "rows_deleted": (self.rows_deleted, "rows"),
            "live_fragments_max": (max(self.live_fragments, default=0), "count"),
            "compact_bytes_rewritten_p50": (median(self.bytes_rewritten), "B"),
            "known_defect_lineitem_datasource": (self.known_defect, "error"),
        }


# ---------------------------------------------------------------------------


class RetrievalDedup(Workload):
    """Seeded Gaussian-mixture vectors with an IVF_PQ index (built in setup)
    searched through the indexed DataFrame route, the exact route and SQL
    ``vector_search``; BM25 term queries through the FTS index; and dedup
    passes over a documents corpus with planted near-duplicate clusters."""

    name = "retrieval_dedup"
    VECTORS = 1_000
    DIM = 64
    INDEX = dict(index_num_partitions=8, index_num_sub_vectors=4, index_num_bits=4)
    NPROBES = 2
    K = 10
    DOCS = 200
    DUP_SHARE = 0.3
    MIN_RECALL = 0.5  # an indexed route below this recall counts as a wrong result
    PATHS = {
        "commit_or_dedup_cpu_s": ("dedup_pass",),
        "scan_or_knn_cpu_s": ("knn_index", "knn_sql"),
        "lookup_or_fts_cpu_s": ("fts",),
        "compact_or_exact_knn_cpu_s": ("knn_exact",),
    }

    def setup(self) -> None:
        spark, rng = self.spark, self.rng
        self.vpath = os.path.join(self.root, "vectors")
        self.dpath = os.path.join(self.root, "documents")
        self.spath = os.path.join(self.root, "survivors")

        self.vecs, self.centres = data.gaussian_mixture(rng, self.VECTORS, self.DIM)
        self.docs, self.clusters = data.documents(rng, self.DOCS, dup_share=self.DUP_SHARE)
        # the text ops draw their queries from a stream of their own: they
        # warm up beside the vector ops
        self.text_rng = rng.spawn(1)[0]
        udtf.register_vector_search(spark)
        self.recalls: list[float] = []
        self.candidate_pairs: list[int] = []
        self.verified_pairs: list[int] = []
        self.useful_candidates: list[int] = []

        def vectors():
            self.timed("write_vectors_s", lambda: writer.write_dataset(
                self.bulk_frame("vectors", data.vectors_table(self.vecs), data.VECTORS_SCHEMA),
                self.vpath, "overwrite",
                DatasetOptions(path=self.vpath, write_max_rows_per_file=self.VECTORS // 4)))
            res = self.timed("index_build_s", lambda: index.build_index(
                self.vpath, "vec", "ivf_pq",
                options=DatasetOptions(path=self.vpath, **self.INDEX), spark=spark, id_col="id"))
            if not res.success:
                raise RuntimeError(f"IVF_PQ build failed: {res.error}")

        def text():
            self.timed("write_documents_s", lambda: writer.write_dataset(
                self.bulk_frame("documents", self.docs, data.DOCUMENTS_SCHEMA), self.dpath,
                "overwrite",
                DatasetOptions(path=self.dpath, write_max_rows_per_file=self.DOCS // 4)))
            self.timed("fts_build_s",
                       lambda: fts.create_fts_index(spark, self.dpath, "text", "doc_id"))
        self.rt.parallel(vectors, text)

    # ---- vector and text queries ----------------------------------------

    def _truth(self, q: np.ndarray) -> list[int]:
        d = ((self.vecs.astype(np.float64) - q.astype(np.float64)) ** 2).sum(axis=1)
        return list(np.argsort(d, kind="stable")[: self.K])

    def _check_indexed(self, truth):
        def check(rows):
            ids = [r[0] for r in rows]
            dist = [r[1] for r in rows]
            _expect(len(ids) == self.K and dist == sorted(dist), f"bad top-k {rows}")
            recall = len(set(ids) & set(truth)) / self.K
            self.recalls.append(recall)
            _expect(recall >= self.MIN_RECALL, f"recall@10 {recall} < {self.MIN_RECALL}")
        return check

    def knn_index(self) -> None:
        q = data.query_vector(self.rng, self.centres)

        def run():
            df = index.search_dataset(self.spark, self.vpath, "vec", q.tolist(), k=self.K,
                                      nprobes=self.NPROBES, use_index=True)
            return self.rt.action(lambda: [tuple(r) for r in df.select("id", "_distance").collect()])
        self.rt.op("knn_index", run, self._check_indexed(self._truth(q)))

    def knn_exact(self) -> None:
        q = data.query_vector(self.rng, self.centres)

        def run():
            df = index.search_dataset(self.spark, self.vpath, "vec", q.tolist(), k=self.K,
                                      use_index=False)
            return self.rt.action(lambda: [r.id for r in df.select("id").collect()])

        truth = self._truth(q)
        self.rt.op("knn_exact", run,
                   lambda ids: _expect(sorted(ids) == sorted(truth),
                                       f"exact top-10 {ids} != numpy {truth}"))

    def knn_sql(self) -> None:
        q = data.query_vector(self.rng, self.centres)
        arr = ", ".join(repr(float(x)) for x in q)

        def run():
            df = self.spark.sql(
                f"SELECT id, _distance FROM vector_search('{self.vpath}', 'vec', "
                f"array({arr}), {self.K}, 'l2', {self.NPROBES}) ORDER BY _distance, id")
            return self.rt.action(lambda: [tuple(r) for r in df.collect()])
        self.rt.op("knn_sql", run, self._check_indexed(self._truth(q)))

    def fts(self) -> None:
        query = data.query_terms(self.text_rng, self.docs)

        def run():
            df = fts.fts_search(self.spark, self.dpath, query, k=self.K)
            return self.rt.action(lambda: [tuple(r) for r in df.collect()])

        def check(got):
            ref = text.bm25_search(reader.read_dataset(self.spark, self.dpath), "text", "doc_id",
                                   query, k=self.K)
            want = [tuple(r) for r in ref.collect()]
            _expect(_rows_close(got, want), f"fts {query!r}: {got} != bm25 full scan {want}")
        self.rt.op("fts", run, check)

    # ---- dedup pass ------------------------------------------------------

    def dedup_pass(self) -> None:
        """One op: read the corpus, MinHash-LSH candidates, verified n-gram
        Jaccard pairs, connected components over the verified pairs,
        resolve, and overwrite the survivors. Each stage's result is
        checkpointed, so the next stage does not recompute it."""
        def run():
            docs = reader.read_dataset(self.spark, self.dpath)
            lsh = dedup.minhash_lsh_pairs(docs, "text", "doc_id")
            cand = self.rt.action(lambda: lsh.localCheckpoint(eager=True))
            jac = dedup.ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.5)
            ver = self.rt.action(lambda: jac.select("id_a", "id_b").localCheckpoint(eager=True))
            # clusters over the verified pairs: unverified LSH candidates
            # would chain unrelated documents into wider components
            cc = dedup.connected_components(docs.select("doc_id"), ver, id_col="doc_id")
            comps = self.rt.action(lambda: cc.localCheckpoint(eager=True))
            keep = dedup.resolve_duplicates(docs, comps, id_col="doc_id")
            manifest = writer.write_dataset(keep.filter("keep").drop("component", "keep"),
                                            self.spath, "overwrite")
            return cand, ver, comps, manifest

        def check(result):
            cand, ver, comps, manifest = result
            cand = {(r.id_a, r.id_b) for r in cand.select("id_a", "id_b").collect()}
            ver = {(r.id_a, r.id_b) for r in ver.collect()}
            comp = {r.doc_id: r.component for r in comps.collect()}
            self.candidate_pairs.append(len(cand))
            self.verified_pairs.append(len(ver))
            self.useful_candidates.append(len(cand & ver))
            split = [c for c in self.clusters if len({comp.get(m) for m in c}) != 1]
            _expect(not split, f"{len(split)} planted clusters split, e.g. {split[:1]}")
            n_components = len(set(comp.values()))
            _expect(manifest.row_count == n_components,
                    f"{manifest.row_count} survivors, expected one per component "
                    f"({n_components})")
        self.rt.op("dedup_pass", run, check)

    # ---- schedule --------------------------------------------------------

    def warmup(self) -> None:
        # two independent halves at once: the vector ops and the text ops
        def vectors():
            for step in [self.knn_index, self.knn_exact, self.knn_sql]:
                step()

        # FTS's second call still costs a third more than later ones; the
        # text half is the shorter one, so the extra call adds no wall time
        def text():
            for step in [self.fts, self.fts, self.dedup_pass]:
                step()
        self.rt.parallel(vectors, text)

    def round(self, r: int):
        # the exact route and FTS, the shortest ops with the noisiest single
        # samples, run twice
        return [self.knn_index, self.knn_exact, self.knn_sql, self.fts, self.knn_exact,
                self.fts, self.dedup_pass]

    def finish(self, window_s: float) -> dict:
        w = self.rt.warm
        kp, kt = tail(w["knn_index"])
        return {
            "index_build_s": (self.setup_parts["index_build_s"], "s"),
            "fts_build_s": (self.setup_parts["fts_build_s"], "s"),
            "knn_p50_s": (median(w["knn_index"]), "s"),
            "knn_tail_s": (kt, "s"), "knn_tail_pct": (kp, "percentile"),
            "knn_samples": (len(w["knn_index"]), "count"),
            "knn_sql_p50_s": (median(w["knn_sql"]), "s"),
            "exact_knn_p50_s": (median(w["knn_exact"]), "s"),
            "recall_at_10": (float(np.mean(self.recalls)) if self.recalls else None, "ratio"),
            "fts_p50_s": (median(w["fts"]), "s"),
            "dedup_docs_per_s": (self.DOCS / median(w["dedup_pass"]), "docs/s"),
            "dedup_candidate_pairs": (median(self.candidate_pairs), "count"),
            "dedup_verified_pairs": (median(self.verified_pairs), "count"),
            "dedup_candidates_verified": (median(self.useful_candidates), "count"),
            "planted_clusters": (len(self.clusters), "count"),
        }


WORKLOADS = {w.name: w for w in (IngestScan, RetrievalDedup)}
