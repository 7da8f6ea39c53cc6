"""Generate PLANS.md: a machine-derived physical-plan fingerprint for
every batch query in the registry.

For each query the table records the operator counts that decide
100-TB behavior: data shuffles (Exchange), broadcast joins, sort-merge
joins, heap top-k (TakeOrderedAndProject), window group limits,
generators, object-hash aggregations, and any degenerate join nodes
(cartesian / broadcast-nested-loop — the latter legitimate only for
documented 1-row/tiny-frame crosses, see
tests/test_plans.py::test_no_degenerate_joins_anywhere).

Run: python scripts/plan_inventory.py   (writes PLANS.md at repo root)
AQE is disabled for the capture so node counts are deterministic; at
runtime AQE is on and only improves these plans.
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.001"

NODES = {
    "exchange": "Exchange",
    "bhj": "BroadcastHashJoin",
    "smj": "SortMergeJoin",
    "bnlj": "BroadcastNestedLoopJoin",
    "cartesian": "CartesianProduct",
    "topk": "TakeOrderedAndProject",
    "wgl": "WindowGroupLimit",
    "window": "Window",
    "generate": "Generate",
    "objagg": "ObjectHashAggregate",
    "hashagg": "HashAggregate",
}


def count_nodes(plan: str, node: str) -> int:
    return len(re.findall(rf"\(\d+\) {re.escape(node)}\b", plan))


def plan_row(spark, name: str) -> dict[str, int] | None:
    """Operator counts of entry ``name``'s physical plan, or None for a
    streaming entry. Shared memos and tracked caches are dropped first,
    so the row does not depend on which entries were planned before."""
    from clean_census_acs_data_spark.queries import QUERIES
    from clean_census_acs_data_spark.session import reap_tracked_caches, teardown_shared_memos

    if name.startswith("streaming"):
        return None
    teardown_shared_memos()
    reap_tracked_caches()
    df = QUERIES[name](spark, SF)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    buf = io.StringIO()
    try:
        with redirect_stdout(buf):
            df.explain(mode="formatted")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    p = buf.getvalue()
    return {k: count_nodes(p, v) for k, v in NODES.items()}


def main() -> None:
    from clean_census_acs_data_spark.queries import QUERIES
    from clean_census_acs_data_spark.session import get_spark

    spark = get_spark(app_name="plan-inventory", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    rows = [(name, plan_row(spark, name)) for name in sorted(QUERIES)]

    out = [
        "# PLANS — physical-plan fingerprints (machine-generated)",
        "",
        "Generated by `scripts/plan_inventory.py` at sf0.001 with AQE",
        "disabled for deterministic node counts, each entry from an empty",
        "session (shared memos and tracked caches dropped, its own caches",
        "not yet filled). Columns: data shuffles",
        "(Exch), broadcast-hash joins (BHJ), sort-merge joins (SMJ),",
        "broadcast-nested-loop joins (BNLJ — legitimate only for the",
        "documented 1-row/tiny-frame crosses), cartesian products (0",
        "everywhere except `kendall_tau_rankings`' 1-row n_items scalar",
        "cross), heap top-k (TopK),",
        "window group limit (WGL), windows,",
        "generators (Gen), object-hash aggs (ObjAgg), hash aggs (HAgg).",
        "Streaming entries execute through the streaming engine and are",
        "marked `stream`; their state shapes are asserted in",
        "tests/test_streaming.py.",
        "",
        "| Query | Exch | BHJ | SMJ | BNLJ | Cart | TopK | WGL | Win | Gen | ObjAgg | HAgg |",
        "|---|---|---|---|---|---|---|---|---|---|---|---|",
    ]
    for name, c in rows:
        if c is None:
            out.append(f"| `{name}` | stream | | | | | | | | | | |")
            continue
        out.append(
            f"| `{name}` | {c['exchange']} | {c['bhj']} | {c['smj']} | "
            f"{c['bnlj']} | {c['cartesian']} | {c['topk']} | {c['wgl']} | "
            f"{c['window']} | {c['generate']} | {c['objagg']} | {c['hashagg']} |"
        )
    out.append("")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    n_batch = sum(1 for _, c in rows if c is not None)
    print(f"wrote PLANS.md: {n_batch} batch plans, {len(rows) - n_batch} streaming entries")
    spark.stop()


if __name__ == "__main__":
    main()
