"""Jobs, tasks, CPU and written files of the write plane: the append,
delete and compaction ops of perfbench's ``ingest_scan`` workload.

In a fresh JVM with perfbench's Spark settings (its JVM flags included),
writes a 30,000-row seeded lineitem dataset in 5,000-row fragments, runs
one untimed warm-up append/delete/compact, then one round of
``ingest_scan``'s storage ops — append, compact, append, delete,
compact, append, compact (2,000-row appends, 500-key deletes, compaction
to 20,000-row fragments) — each under its own job group. With
``--format native`` the dataset is created by ``writer.write_native_pure``
instead, so the same sequence runs on a binary Lance dataset (``.lance``
fragments, binary manifests); its frames carry ``l_shipdate`` as a
session-zone timestamp, the type a binary dataset reads it back as (an
append of the TIMESTAMP_NTZ frame would be refused as a type change).
Writes:

- ``<out>/jobs_<tag>.txt``: per op the job, stage and task counts, CPU
  seconds of the driver plus the JVM tree (Spark's Python workers
  included), wall seconds, the files that appeared under ``data/`` and
  their bytes, and the job list; then the live fragment count;
- ``<out>/delete_<tag>.txt``: the physical plan of every SQL execution
  of the round's delete (ids and file names normalized).

Usage, from the repository root:

    python tools/write_path_jobs.py --tag before|after [--out plans/write_path]
    python tools/write_path_jobs.py --format native --tag before|after --out plans/native_write
"""

from __future__ import annotations

import argparse
import os
import re
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--tag", required=True)
    p.add_argument("--out", default=os.path.join(ROOT, "plans", "write_path"))
    p.add_argument("--format", choices=("emulated", "native"), default="emulated")
    args = p.parse_args()
    os.environ["PYTHONPATH"] = ROOT  # Spark's Python workers import the package

    import numpy as np
    import pyarrow.parquet as pq
    import pyspark.sql.functions as F
    from pyspark import SparkContext

    from flink_connector_lance_spark import session
    from flink_connector_lance_spark.options import DatasetOptions
    from flink_connector_lance_spark.sources import fragments, maintenance, writer
    from perfbench import data
    from perfbench.harness import process_tree_cpu_s
    from perfbench.run import spark_conf, stop_spark

    tmp = tempfile.mkdtemp(prefix="write-path-")
    for d in ("spark-local", "jtmp", "warehouse"):
        os.makedirs(os.path.join(tmp, d))
    spark = session.get_spark(app_name="write-path-jobs", master="local[4]",
                              extra_conf=spark_conf(tmp))
    try:
        spark.sparkContext.setLogLevel("ERROR")
        sc = spark.sparkContext
        jvm_pid = SparkContext._gateway.proc.pid
        store = sc._jsc.sc().statusStore()
        sql_store = spark._jsparkSession.sharedState().statusStore()

        def scrub(text: str) -> str:
            text = text.replace(ROOT + os.sep, "").replace(tmp, "<tmp>")
            text = re.sub(r"frag-[0-9a-f]+", "frag-<uuid>", text)
            text = re.sub(r"[0-9a-f]{8}-[0-9a-f-]{27}\.lance", "<uuid>.lance", text)
            text = re.sub(r"_(staging|delete)-[0-9a-f]+", r"_\1-<uuid>", text)
            return re.sub(r"(#|plan_id=|\[codegen id : )\d+", r"\1N", text)

        def frame(df):
            if args.format == "native":
                return df.withColumn("l_shipdate", F.col("l_shipdate").cast("timestamp"))
            return df

        rng = np.random.default_rng(1)
        ipath = os.path.join(tmp, "lineitem")
        data_dir = os.path.join(ipath, fragments.DATA_DIR)
        gen = os.path.join(tmp, "lineitem-gen.parquet")
        pq.write_table(data.lineitem(rng, 1, 30_000), gen, row_group_size=10_000)
        create = (writer.write_native_pure if args.format == "native"
                  else writer.write_dataset)
        create(frame(spark.read.schema(data.LINEITEM_SCHEMA).parquet(gen)), ipath, "overwrite",
               DatasetOptions(path=ipath, write_max_rows_per_file=5_000))
        next_key = 30_001

        def append():
            nonlocal next_key
            batch = data.lineitem(rng, next_key, 2_000)
            next_key += 2_000
            writer.write_dataset(frame(spark.createDataFrame(batch, schema=data.LINEITEM_SCHEMA)),
                                 ipath, "append")

        def delete():
            lo = int(rng.integers(1, next_key - 500))
            maintenance.delete_rows(spark, ipath, (F.col("l_orderkey") >= lo)
                                    & (F.col("l_orderkey") < lo + 500))

        def compact():
            maintenance.compact_dataset(spark, ipath, target_rows_per_fragment=20_000)

        ops = {"append": append, "delete": delete, "compact": compact}
        for op in ops.values():  # warm-up
            op()

        lines = []
        plans = []
        for i, name in enumerate(["append", "compact", "append", "delete", "compact",
                                  "append", "compact"]):
            group = f"{i}-{name}"
            before = set(os.listdir(data_dir))
            sc.setJobGroup(group, group)
            c0, t0 = time.process_time() + process_tree_cpu_s(jvm_pid), time.perf_counter()
            ops[name]()
            cpu = time.process_time() + process_tree_cpu_s(jvm_pid) - c0
            wall = time.perf_counter() - t0
            sc.setJobGroup("other", "other")
            new = sorted(set(os.listdir(data_dir)) - before)
            nbytes = sum(os.path.getsize(os.path.join(data_dir, n)) for n in new)
            job_ids = sorted(sc.statusTracker().getJobIdsForGroup(group))
            listed, stages, tasks = [], 0, 0
            for j in job_ids:
                jd = store.job(j)
                stages += jd.stageIds().size()
                tasks += jd.numTasks()
                listed.append(scrub(f"  {jd.name()}: {jd.stageIds().size()} stages, "
                                    f"{jd.numTasks()} tasks"))
            lines.append(f"{name}: {len(job_ids)} jobs, {stages} stages, {tasks} tasks, "
                         f"{cpu:.2f} CPU-s, {wall:.2f} s wall, {len(new)} files written, "
                         f"{nbytes} bytes written")
            lines += listed
            if name == "delete":
                execs = sql_store.executionsList()
                for k in range(execs.size()):
                    e = execs.apply(k)
                    if any(e.jobs().contains(j) for j in job_ids):
                        plans.append(scrub(e.physicalPlanDescription()))
        lines.append("live fragments after the round: "
                     f"{len(fragments.read_manifest_compat(ipath).fragments)}")
    finally:
        stop_spark(spark)
        shutil.rmtree(tmp, ignore_errors=True)

    os.makedirs(args.out, exist_ok=True)
    with open(os.path.join(args.out, f"jobs_{args.tag}.txt"), "w") as fh:
        fh.write("\n".join(lines) + "\n")
    with open(os.path.join(args.out, f"delete_{args.tag}.txt"), "w") as fh:
        fh.write(f"physical plans of the delete's {len(plans)} SQL executions\n\n"
                 + "\n\n".join(plans) + "\n")
    print("\n".join(ln for ln in lines if not ln.startswith("  ")))


if __name__ == "__main__":
    main()
