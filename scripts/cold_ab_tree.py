"""Tree-parameterized cold single-entry runner for CROSS-ROUND A/B.

Answers "did round N regress this entry vs round M?" by pointing one
fresh-process cold measurement at ANY checked-out tree (e.g. a
`git worktree add /tmp/r8tree <sha>`).
One fresh process per invocation: q1 warmup (JVM + parquet footers),
then each named entry once with the bench's noop-sink terminal action.

Usage:
    python scripts/cold_ab_tree.py <tree> <entry> [<entry> ...]

Interleave trees on the same box to cancel drift (run A B A B, not
AA BB) and discard reps whose warmup is an outlier — warmup is printed
for exactly that purpose. This is the tool that adjudicated the four
r9 "regressions" as cross-entry cache subsidies (VERDICT r9 ask #1):
a bench-order number can be subsidized by earlier entries' caches or
Python worker pools; a fresh process per rep removes every such
subsidy by construction, so equal cross-tree numbers mean the code
did not regress — the prior ARTIFACT was flattered.
"""
import json
import os
import sys
import time

tree = sys.argv[1]
names = sys.argv[2:]
sys.path.insert(0, tree)
os.chdir(tree)

from clean_census_acs_data_spark.session import get_spark  # noqa: E402

try:
    from clean_census_acs_data_spark.session import reap_tracked_caches
except ImportError:  # trees before r9 predate the reaper
    def reap_tracked_caches():
        return 0

from clean_census_acs_data_spark.queries import QUERIES  # noqa: E402

sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
spark = get_spark(app_name="cold_ab_tree")
spark.sparkContext.setLogLevel("ERROR")
t0 = time.perf_counter()
QUERIES["q1_pricing_summary"](spark, sf_dir).collect()
warm = time.perf_counter() - t0
out = {}
for name in names:
    t0 = time.perf_counter()
    QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    out[name] = round(time.perf_counter() - t0, 3)
    reap_tracked_caches()
print(
    json.dumps(
        {"tree": os.path.basename(os.path.abspath(tree)), "warmup": round(warm, 3), "timings": out}
    )
)
spark.stop()
