"""Per-query optimization measurement harness.

Times every registered query (not just the headline set) with the noop
sink, split into plan-construction time (driver/py4j) vs action time, and
captures .explain("formatted") into plans/r14/<name>_<tag>.txt.

Usage:
    python tools/measure_r14.py [--tag before|after]
        [--queries a,b,c | --headline-only] [--sweeps 3]

Plans are captured only when --tag is given; --headline-only times the
bench.py headline set instead of every registered query.

Prints one JSON line: {"queries": {name: {"build": s, "noop": s,
"total": s}}, "total": s} where noop is the MIN across sweeps and build
is the first-call plan-construction wall time.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flink_connector_lance_spark import registry as _registry
from flink_connector_lance_spark.session import get_spark


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tag", default=None, help="capture plans under plans/r14 with this suffix")
    ap.add_argument("--queries", default=None)
    ap.add_argument("--sweeps", type=int, default=3)
    ap.add_argument("--headline-only", action="store_true")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    qs = _registry.queries()
    if args.queries:
        names = [n for n in args.queries.split(",") if n in qs]
    elif args.headline_only:
        import bench

        names = [n for n in bench.HEADLINE if n in qs]
    else:
        names = list(qs)
    if not names:
        ap.error(f"--queries {args.queries!r} matches no registered query")
    spark = get_spark(app_name="fcls-measure-r14")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm the JVM + parquet footer caches.
    qs[names[0]](spark, sf_dir).limit(1).collect()

    plans_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                             "plans", "r14")
    if args.tag:
        os.makedirs(plans_dir, exist_ok=True)

    out: dict[str, dict[str, float]] = {}
    for sweep in range(args.sweeps):
        for name in names:
            spark.sparkContext.setJobDescription(f"measure:{name}:s{sweep}")
            t0 = time.perf_counter()
            df = qs[name](spark, sf_dir)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            rec = out.setdefault(name, {"build": round(t1 - t0, 3),
                                        "noop": float("inf")})
            rec["noop"] = round(min(rec["noop"], t2 - t1), 3)
            if args.tag and sweep == 0:
                buf = io.StringIO()
                with redirect_stdout(buf):
                    df.explain("formatted")
                with open(os.path.join(plans_dir, f"{name}_{args.tag}.txt"), "w") as fh:
                    fh.write(buf.getvalue())
    spark.sparkContext.setJobDescription(None)
    for rec in out.values():
        rec["total"] = round(rec["build"] + rec["noop"], 3)
    total = round(sum(r["total"] for r in out.values()), 3)
    print(json.dumps({"queries": out, "total": total,
                      "noop_total": round(sum(r["noop"] for r in out.values()), 3)}))
    spark.stop()


if __name__ == "__main__":
    main()
