"""Jobs, CPU and recall of the emulated IVF_PQ build, and the jobs and
plan of one indexed query.

Builds the index of perfbench's ``retrieval_dedup`` workload (1,000
seeded 64-d vectors in 4 fragment files; 8 IVF partitions, 4 PQ
sub-vectors, 4 bits) in a fresh JVM with perfbench's Spark settings,
twice (cold, then warm), each under its own job group. Writes:

- ``<out>/jobs_<tag>.txt``: per build the job count, CPU seconds of the
  driver plus the JVM tree, wall seconds and the job list; the index's
  file counts; recall@10 of 20 queries against numpy brute force;
- ``<out>/knn_index_<tag>.txt``: the jobs of one ``search_dataset``
  query with ``nprobes=2`` and its formatted physical plan (ids
  and file names normalized).

Usage, from the repository root:

    python tools/index_build_jobs.py --tag before|after [--out plans/index_build]
"""

from __future__ import annotations

import argparse
import io
import os
import re
import shutil
import sys
import tempfile
import time
from contextlib import redirect_stdout

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--tag", required=True)
    p.add_argument("--out", default=os.path.join(ROOT, "plans", "index_build"))
    args = p.parse_args()
    os.environ["PYTHONPATH"] = ROOT  # Spark's Python workers import the package

    import numpy as np
    import pyarrow.parquet as pq
    from pyspark import SparkContext

    from flink_connector_lance_spark import index, session
    from flink_connector_lance_spark.options import DatasetOptions
    from flink_connector_lance_spark.sources import writer
    from perfbench import data
    from perfbench.harness import process_tree_cpu_s
    from perfbench.run import spark_conf, stop_spark

    tmp = tempfile.mkdtemp(prefix="index-build-")
    for d in ("spark-local", "jtmp", "warehouse"):
        os.makedirs(os.path.join(tmp, d))
    spark = session.get_spark(app_name="index-build-jobs", master="local[4]",
                              extra_conf=spark_conf(tmp))
    try:
        spark.sparkContext.setLogLevel("ERROR")
        sc = spark.sparkContext
        jvm_pid = SparkContext._gateway.proc.pid
        store = sc._jsc.sc().statusStore()

        def scrub(text: str) -> str:
            text = text.replace(ROOT + os.sep, "").replace(tmp, "<tmp>")
            text = re.sub(r"frag-[0-9a-f]+", "frag-<uuid>", text)
            return re.sub(r"(#|plan_id=)\d+", r"\1N", text)

        def jobs(group: str) -> list[str]:
            out = []
            for j in sorted(sc.statusTracker().getJobIdsForGroup(group)):
                jd = store.job(j)
                out.append(scrub(f"  {jd.name()}: {jd.stageIds().size()} stages, "
                                 f"{jd.numTasks()} tasks"))
            return out

        vecs, centres = data.gaussian_mixture(np.random.default_rng(11), 1000, 64)
        gen = os.path.join(tmp, "vectors-gen.parquet")
        pq.write_table(data.vectors_table(vecs), gen)
        vpath = os.path.join(tmp, "vectors")
        writer.write_dataset(spark.read.schema(data.VECTORS_SCHEMA).parquet(gen), vpath,
                             "overwrite",
                             DatasetOptions(path=vpath, write_max_rows_per_file=250))
        opts = DatasetOptions(path=vpath, index_num_partitions=8, index_num_sub_vectors=4,
                              index_num_bits=4)

        lines = []
        for attempt in ("cold", "warm"):
            sc.setJobGroup(attempt, attempt)
            c0, t0 = time.process_time() + process_tree_cpu_s(jvm_pid), time.perf_counter()
            res = index.build_index(vpath, "vec", "ivf_pq", options=opts, spark=spark,
                                    id_col="id", replace=True)
            cpu = time.process_time() + process_tree_cpu_s(jvm_pid) - c0
            wall = time.perf_counter() - t0
            sc.setJobGroup("other", "other")
            if not res.success:
                raise RuntimeError(res.error)
            listed = jobs(attempt)
            lines.append(f"{attempt} build: {len(listed)} jobs, {cpu:.2f} CPU-s, "
                         f"{wall:.2f} s wall")
            lines += listed

        def nfiles(*parts: str) -> int:
            top = os.path.join(vpath, "_indexes", "vec", *parts)
            return sum(f.endswith(".parquet") for _, _, fs in os.walk(top) for f in fs)

        lines.append(f"files: assignments {nfiles('ivf', 'assignments.parquet')}, "
                     f"codes {nfiles('pq', 'codes.parquet')}, "
                     f"centroids {nfiles('ivf', 'centroids.parquet')}, "
                     f"codebooks {nfiles('pq', 'codebooks.parquet')}")

        qrng = np.random.default_rng(12)
        recalls = []
        for _ in range(20):
            q = data.query_vector(qrng, centres)
            d = ((vecs.astype(np.float64) - q.astype(np.float64)) ** 2).sum(axis=1)
            truth = set(np.argsort(d, kind="stable")[:10].tolist())
            got = index.search_dataset(spark, vpath, "vec", q.tolist(), k=10, nprobes=2,
                                       use_index=True).select("id").collect()
            recalls.append(len(truth & {r.id for r in got}) / 10)
        lines.append(f"recall@10: {np.mean(recalls):.3f} over 20 queries "
                     "(nprobes=2, query seed 12)")

        q = data.query_vector(qrng, centres)
        sc.setJobGroup("query", "query")
        df = index.search_dataset(spark, vpath, "vec", q.tolist(), k=10, nprobes=2,
                                  use_index=True).select("id", "_distance")
        df.collect()
        sc.setJobGroup("other", "other")
        plan = io.StringIO()
        with redirect_stdout(plan):
            df.explain(mode="formatted")
        query = ["jobs of one knn_index query (nprobes=2):"] + jobs("query") + [
            "", scrub(plan.getvalue())]
    finally:
        stop_spark(spark)
        shutil.rmtree(tmp, ignore_errors=True)

    os.makedirs(args.out, exist_ok=True)
    with open(os.path.join(args.out, f"jobs_{args.tag}.txt"), "w") as fh:
        fh.write("\n".join(lines) + "\n")
    with open(os.path.join(args.out, f"knn_index_{args.tag}.txt"), "w") as fh:
        fh.write("\n".join(query) + "\n")
    print("\n".join(lines[:1] + lines[-2:]))


if __name__ == "__main__":
    main()
