"""Jobs, py4j calls and CPU of the dedup pass: perfbench's
``retrieval_dedup`` ``dedup_pass`` op, stage by stage.

In a fresh JVM with perfbench's Spark settings (its JVM flags included),
writes the seeded 200-document corpus with planted near-duplicate
clusters in 50-row fragments, runs one untimed warm-up pass, then
``--passes`` measured passes. Each stage of a pass runs under its own
job group:

- ``minhash``: ``minhash_lsh_pairs`` built and checkpointed;
- ``ngram``: ``ngram_jaccard_pairs`` built and its pairs checkpointed;
- ``components``: ``connected_components`` over the verified pairs,
  built and checkpointed;
- ``resolve``: ``resolve_duplicates`` and the survivor overwrite.

Writes:

- ``<out>/jobs_<tag>.txt``: per stage of every measured pass, the job,
  stage and task counts, CPU seconds of the driver plus the JVM tree
  (Spark's Python workers included), wall seconds, and the py4j round
  trips of the driver (with the first pass's job list); then whether
  every pass labelled the documents identically and kept each planted
  cluster whole;
- ``<out>/dedup_components_<tag>.txt``: the formatted physical plan of
  the registered ``dedup_components`` query over ``--sf-dir`` (ids and
  paths normalized).

Usage, from the repository root:

    python tools/dedup_jobs.py --tag before|after [--out plans/dedup]
        [--passes 3] [--sf-dir DIR]

``--sf-dir`` (default: ``$SPARK_GRAFT_SF_DIR``) is a generated corpus
directory holding ``documents.parquet``; the committed plans used sf0.01.
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
from contextlib import contextmanager, redirect_stdout

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--tag", required=True)
    p.add_argument("--out", default=os.path.join(ROOT, "plans", "dedup"))
    p.add_argument("--passes", type=int, default=3)
    p.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR"))
    args = p.parse_args()
    if not args.sf_dir:
        p.error("--sf-dir (or SPARK_GRAFT_SF_DIR) is required")
    os.environ["PYTHONPATH"] = ROOT  # Spark's Python workers import the package

    import numpy as np
    import pyarrow.parquet as pq
    from py4j.clientserver import ClientServerConnection
    from pyspark import SparkContext

    from flink_connector_lance_spark import registry, session
    from flink_connector_lance_spark.operators import dedup
    from flink_connector_lance_spark.options import DatasetOptions
    from flink_connector_lance_spark.sources import reader, writer
    from perfbench import data
    from perfbench.harness import process_tree_cpu_s
    from perfbench.run import spark_conf, stop_spark

    py4j_calls = 0
    send = ClientServerConnection.send_command

    def counted(self, command):
        nonlocal py4j_calls
        py4j_calls += 1
        return send(self, command)

    ClientServerConnection.send_command = counted

    tmp = tempfile.mkdtemp(prefix="dedup-jobs-")
    for d in ("spark-local", "jtmp", "warehouse"):
        os.makedirs(os.path.join(tmp, d))
    spark = session.get_spark(app_name="dedup-jobs", master="local[4]",
                              extra_conf=spark_conf(tmp))
    try:
        spark.sparkContext.setLogLevel("ERROR")
        sc = spark.sparkContext
        jvm_pid = SparkContext._gateway.proc.pid
        store = sc._jsc.sc().statusStore()

        docs, clusters = data.documents(np.random.default_rng(1), 200, dup_share=0.3)
        gen = os.path.join(tmp, "documents.parquet")
        pq.write_table(docs, gen)
        dpath, spath = os.path.join(tmp, "documents"), os.path.join(tmp, "survivors")
        writer.write_dataset(spark.read.schema(data.DOCUMENTS_SCHEMA).parquet(gen), dpath,
                             "overwrite", DatasetOptions(path=dpath, write_max_rows_per_file=50))

        def cpu_s():
            return time.process_time() + process_tree_cpu_s(jvm_pid)

        @contextmanager
        def stage(group, records):
            sc.setJobGroup(group, group)
            p0, c0, t0 = py4j_calls, cpu_s(), time.perf_counter()
            try:
                yield
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                records.append((group, cpu_s() - c0, time.perf_counter() - t0,
                                py4j_calls - p0))

        def dedup_pass(tag, records):
            corpus = reader.read_dataset(spark, dpath)
            with stage(f"{tag}-minhash", records):
                dedup.minhash_lsh_pairs(corpus, "text", "doc_id").localCheckpoint(eager=True)
            with stage(f"{tag}-ngram", records):
                jac = dedup.ngram_jaccard_pairs(corpus, "text", "doc_id", threshold=0.5)
                ver = jac.select("id_a", "id_b").localCheckpoint(eager=True)
            with stage(f"{tag}-components", records):
                cc = dedup.connected_components(corpus.select("doc_id"), ver, id_col="doc_id")
                comps = cc.localCheckpoint(eager=True)
            with stage(f"{tag}-resolve", records):
                keep = dedup.resolve_duplicates(corpus, comps, id_col="doc_id")
                writer.write_dataset(keep.filter("keep").drop("component", "keep"), spath,
                                     "overwrite")
            return {r.doc_id: r.component for r in comps.collect()}

        dedup_pass("warmup", [])
        lines, labels = [], []
        for i in range(args.passes):
            records = []
            labels.append(dedup_pass(str(i), records))
            lines.append(f"pass {i}:")
            for group, cpu, wall, py4j in records:
                job_ids = sorted(sc.statusTracker().getJobIdsForGroup(group))
                listed, nstages, ntasks = [], 0, 0
                for j in job_ids:
                    jd = store.job(j)
                    nstages += jd.stageIds().size()
                    ntasks += jd.numTasks()
                    listed.append(f"    {jd.name().replace(ROOT + os.sep, '')}: "
                                  f"{jd.stageIds().size()} stages, {jd.numTasks()} tasks")
                lines.append(f"  {group.split('-', 1)[1]}: {len(job_ids)} jobs, {nstages} stages, "
                             f"{ntasks} tasks, {cpu:.2f} CPU-s, {wall:.2f} s wall, "
                             f"{py4j} py4j calls")
                if i == 0:
                    lines += listed
        whole = all(len({lab[m] for m in c}) == 1 for lab in labels for c in clusters)
        lines.append(f"labels identical across passes: {all(lab == labels[0] for lab in labels)}")
        lines.append(f"planted clusters kept whole: {whole}")
        os.makedirs(args.out, exist_ok=True)
        with open(os.path.join(args.out, f"jobs_{args.tag}.txt"), "w") as fh:
            fh.write("\n".join(lines) + "\n")

        df = registry.queries()["dedup_components"](spark, args.sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue().replace(ROOT + os.sep, "").replace(args.sf_dir, "<sf>")
        plan = re.sub(r"(#|plan_id=|\[codegen id : |RDD\[)\d+", r"\1N", plan)
        with open(os.path.join(args.out, f"dedup_components_{args.tag}.txt"), "w") as fh:
            fh.write(plan)
        print("\n".join(lines))
    finally:
        stop_spark(spark)
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
