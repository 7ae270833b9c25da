"""Dump full .explain('formatted') output for a set of registry
queries into <out_dir>/<query>_<tag>.txt, one file per query — the
before/after plan record of an optimization round.

Usage: python scripts/dump_query_plans.py <tree> <tag> <out_dir> [queries] [--sf-dir SF]
  <tree>     repo tree to import the engine from (this checkout for
             "after", a copy of the parent commit for "before")
  <tag>      file-name suffix, e.g. before | after
  <out_dir>  directory the plan files go to (created if missing)
  [queries]  comma-separated query names, or "bench" (the default)
             for every bench-tagged query
  --sf-dir   fixture directory (default: $SPARK_GRAFT_SF_DIR)

Captured AFTER a noop-sink execution so AQE's final plan is shown.
"""

import argparse
import contextlib
import io
import os
import sys
import time

ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
ap.add_argument("tree")
ap.add_argument("tag")
ap.add_argument("out_dir")
ap.add_argument("queries", nargs="?", default="bench")
ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR"))
args = ap.parse_args()
if not args.sf_dir:
    ap.error("--sf-dir or $SPARK_GRAFT_SF_DIR is required")
sys.path.insert(0, os.path.abspath(args.tree))

from bigdataproj_spark.registry import load_all  # noqa: E402
from bigdataproj_spark.session import get_spark  # noqa: E402

spark = get_spark(f"plandump-{args.tag}")
spark.sparkContext.setLogLevel("ERROR")

reg = load_all()
if args.queries == "bench":
    names = sorted(n for n, q in reg.items() if "bench" in q.tags)
else:
    names = args.queries.split(",")
os.makedirs(args.out_dir, exist_ok=True)
for name in names:
    spark.sparkContext.setJobDescription(f"plandump-{args.tag}:{name}")
    df = reg[name].build(spark, args.sf_dir)
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    dt = time.perf_counter() - t0
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    path = os.path.join(args.out_dir, f"{name}_{args.tag}.txt")
    with open(path, "w") as f:
        f.write(
            f"== {name} ({args.tag}, tree={args.tree}, sf_dir={args.sf_dir}, "
            f"warm exec {dt:.3f}s) ==\n"
        )
        f.write(buf.getvalue())
    print(f"{name}: {dt:.3f}s -> {path}")
print("done")
