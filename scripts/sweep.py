"""Time EVERY registry query once, noop-sinked, in one warm JVM — the
triage list an optimization round's checklist is built from.

Usage: python scripts/sweep.py <tag> --out-dir DIR --prefix NAME [--sf-dir SF]
  <tag>       names the output file: DIR/sweep_<tag>.json
  --out-dir   directory the JSON goes to (created if missing)
  --prefix    Spark application name and job-description prefix
              (jobs read ``<prefix>:<query>`` in the UI and event log)
  --sf-dir    fixture directory (default: $SPARK_GRAFT_SF_DIR)

Output: {name: {"sec": s, "tags": [...], "chosen": [...]}}, failures
recorded as {"sec": null, "err": ...}; ``chosen`` lists the layout each
router call of the query picked (a projection name, a scan layout,
"bucketed_spine" or "raw"), read off the aggregate router ``route`` and
the scan router ``route_scan`` of plans/routing.py. Single timed pass
per query (triage, not the bench protocol); the bench's numbers stay
authoritative.
"""

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bigdataproj_spark.registry import load_all  # noqa: E402
from bigdataproj_spark.session import get_spark  # noqa: E402

ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
ap.add_argument("tag")
ap.add_argument("--out-dir", required=True)
ap.add_argument("--prefix", required=True)
ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR"))
args = ap.parse_args()
if not args.sf_dir:
    ap.error("--sf-dir or $SPARK_GRAFT_SF_DIR is required")

spark = get_spark(args.prefix)
spark.sparkContext.setLogLevel("ERROR")

# one untimed warm-up so JVM/codegen startup isn't billed to the first query
spark.range(1000).selectExpr("sum(id)").write.format("noop").mode(
    "overwrite"
).save()

queries = load_all()

# Record every routing decision: every routed query reaches the two
# routers through plans/routing.py's own globals (its registry queries
# and route_spec, the dispatcher behind the SQL front door and the
# Engine), so wrapping them there sees every call.
import bigdataproj_spark.plans.routing as _routing  # noqa: E402

_chosen: list[str] = []


def _recording(router):
    def _wrapped(*a, **k):
        df, chosen = router(*a, **k)
        _chosen.append(chosen)
        return df, chosen

    return _wrapped


_routing.route = _recording(_routing.route)
_routing.route_scan = _recording(_routing.route_scan)

out = {}
for name, q in sorted(queries.items()):
    _chosen.clear()
    spark.sparkContext.setJobDescription(f"{args.prefix}:{name}")
    t0 = time.perf_counter()
    try:
        q.build(spark, args.sf_dir).write.format("noop").mode("overwrite").save()
        dt = round(time.perf_counter() - t0, 3)
        out[name] = {"sec": dt, "tags": list(q.tags), "chosen": list(_chosen)}
        print(f"{dt:8.3f}  {name}")
    except Exception as e:  # record, keep sweeping
        out[name] = {"sec": None, "err": str(e)[:200], "tags": list(q.tags)}
        print(f"   ERROR  {name}: {str(e)[:120]}")

os.makedirs(args.out_dir, exist_ok=True)
path = os.path.join(args.out_dir, f"sweep_{args.tag}.json")
with open(path, "w") as f:
    json.dump(out, f, indent=1, sort_keys=True)
timed = {k: v["sec"] for k, v in out.items() if v.get("sec") is not None}
print(f"\ntotal {sum(timed.values()):.1f}s over {len(timed)} queries -> {path}")
for k in sorted(timed, key=timed.get, reverse=True)[:25]:
    print(f"{timed[k]:8.3f}  {k}")
