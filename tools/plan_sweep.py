"""Standing physical-plan hygiene sweep over EVERY registered query.

The round-12 audit found 11 queries whose corpus-scale aggregates had
silently demoted to SortAggregate (string / struct / non-flat buffers
are not UnsafeRow-mutable) — invisible at gate sf, a per-partition sort
of the corpus stream in production.  tests/test_plans.py pins the named
hot shapes; this tool is the mechanical catch-all for the NEXT demotion
variant (a future collect_set, a decimal-typed buffer, a new query):
it builds every registered DataFrame, extracts the formatted
physical plan of each, and fails loudly on

  * any CartesianProduct (never acceptable),
  * any BatchEvalPython (a row-at-a-time Python UDF in a plan — every
    Python seam in this repo is Arrow-batched: ArrowEvalPython /
    MapInPandas / FlatMapGroupsInPandas / FlatMapCoGroupsInPandas;
    no allowlist, zero tolerance),
  * any SortAggregate or BroadcastNestedLoopJoin outside the explicit
    KEEPS allowlists below — each keep carries the reason the shape is
    intended (string min/max has no mutable buffer; a BNLJ over a
    bounded broadcast side is a cross-score, not a cross-join) and a
    node-count ceiling so a keep cannot silently grow new ones,
  * any allowlist entry naming a query that is not registered (a keep
    must not outlive its query).

Run: python tools/plan_sweep.py [sf_dir]        (default sf0.001 — plan
SHAPE is sf-independent; use check_parity/bench for values and timing).
Streaming-replay queries execute their bounded micro-batch runs as a
side effect of building their result DataFrame; the sweep still takes
only a few minutes at sf0.001.
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

#: query -> (max SortAggregate nodes, why the sorted buffer is
#: unavoidable).  Every entry is a DOCUMENTED-BOUNDED keep: the sorted stream
#: is vocab/group-scale, or exact string min/max has no
#: UnsafeRow-mutable buffer form.  Grow this list only with a reason.
SORT_AGG_KEEPS: dict[str, tuple[int, str]] = {
    "orders_profile": (
        8,
        "string min/max in table_profile has no mutable-buffer form; "
        "once-per-load audit, sort key is the Expand's (gid, col)",
    ),
    "events_profile": (
        8,
        "same string min/max profile shape over the events table",
    ),
    "hapax_stats": (
        4,
        "string-valued head-token min_by over the ALREADY REDUCED "
        "(source, token) tf table — vocab-bounded, not corpus scale",
    ),
    "source_token_stats": (
        4,
        "same vocab-bounded head-token min_by as hapax_stats",
    ),
    "max_drawdown": (
        4,
        "partial SortAggregate rides the window's existing (symbol, "
        "bucket) order — no Sort node inserted; final sorts only "
        "symbols x partitions partial rows",
    ),
    "streaming_running_bars": (
        4,
        "max_by(struct) picking the final row per symbol from the "
        "update-mode running bars read back from the sink — symbols x "
        "micro-batches rows, bounded small",
    ),
}

#: query -> (max BroadcastNestedLoopJoin nodes, why the nested loop is
#: the intended plan).  A BNLJ is fine exactly when the build side is a
#: broadcast of a relation bounded by construction (k query vectors, a
#: centroid table, a one-row scalar) — the loop is then a cross-SCORE,
#: not a cross-JOIN; what the sweep must never admit is a
#: CartesianProduct (both sides shuffled) or a BNLJ over an unbounded
#: build side (which would OOM the broadcast long before 100 TB).
BNLJ_KEEPS: dict[str, tuple[int, str]] = {
    "ann_brute_force_topk": (
        2, "corpus x broadcast(k query vectors) cosine cross-score"),
    "ann_ivf_topk": (
        4, "corpus x broadcast(queries + probed centroid rows)"),
    "ann_ivf_kmeans_topk": (
        4, "corpus x broadcast(queries + learned centroids)"),
    "ann_ivf_multiprobe_topk": (
        4, "corpus x broadcast(queries + probed centroid rows)"),
    "ann_ivfpq_topk": (
        4, "codes x broadcast(queries + per-query ADC lookup tables)"),
    "ann_recall_report": (
        10, "four approximate rungs + brute-force truth, each a "
            "broadcast(query-set) cross-score"),
    "semdedup_recall_report": (
        2, "recall harness: pairs x broadcast(truth-cap query rows)"),
    "kmeans_cell_report": (
        2, "members x broadcast(ncells centroid rows)"),
    "label_centroid_similarity": (
        2, "vectors x broadcast(per-label centroid rows)"),
    "bm25_scores": (
        2, "per-term tf x broadcast(one-row corpus stats: N, avgdl)"),
    "source_kl_divergence": (
        2, "per-source dist x broadcast(global token distribution)"),
    "q22_sales_opportunity": (
        2, "TPC-H Q22 scalar subquery: broadcast(one-row avg acctbal)"),
    "rfm_segments": (
        6, "broadcast(one-row R/F/M quantile boundaries)"),
}


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

    import __spark_entry__ as entry_mod
    from stockpulse_batch_realtime_etl_spark.plans.assertions import (
        formatted_plan,
    )
    from stockpulse_batch_realtime_etl_spark.session import get_spark

    spark = get_spark()
    queries = entry_mod.queries()
    bad: list[str] = [
        f"{kind} allowlist names unregistered query {name!r}"
        for kind, keeps in (("SortAggregate", SORT_AGG_KEEPS),
                            ("BroadcastNestedLoopJoin", BNLJ_KEEPS))
        for name in keeps
        if name not in queries
    ]
    print(f"sweeping {len(queries)} query plans at {sf_dir}")
    for name, fn in queries.items():
        try:
            plan = formatted_plan(fn(spark, sf_dir))
        except Exception as e:  # a query that cannot build is a failure
            bad.append(f"{name}: failed to build plan: {e!r:.200}")
            continue
        n_sort = len(re.findall(r"\bSortAggregate\b", plan))
        n_cart = len(re.findall(r"\bCartesianProduct\b", plan))
        n_bnlj = len(re.findall(r"\bBroadcastNestedLoopJoin\b", plan))
        n_rowudf = len(re.findall(r"\bBatchEvalPython\b", plan))
        flags = []
        if n_cart:
            bad.append(f"{name}: {n_cart} CartesianProduct node(s)")
            flags.append(f"CARTESIAN={n_cart}")
        if n_rowudf:
            bad.append(
                f"{name}: {n_rowudf} BatchEvalPython node(s) — "
                "row-at-a-time Python UDF in the plan"
            )
            flags.append(f"ROWUDF={n_rowudf}")
        if n_bnlj:
            cap, why = BNLJ_KEEPS.get(name, (0, ""))
            if n_bnlj > cap:
                bad.append(
                    f"{name}: {n_bnlj} BroadcastNestedLoopJoin node(s) "
                    f"(allowlist cap {cap}"
                    + (f" — {why}" if why else ", not in allowlist")
                    + ")"
                )
                flags.append(f"BNLJ={n_bnlj}!")
            else:
                flags.append(f"bnlj={n_bnlj} (keep: {why})")
        if n_sort:
            cap, why = SORT_AGG_KEEPS.get(name, (0, ""))
            if n_sort > cap:
                bad.append(
                    f"{name}: {n_sort} SortAggregate node(s) "
                    f"(allowlist cap {cap}"
                    + (f" — {why}" if why else ", not in allowlist")
                    + ")"
                )
                flags.append(f"SORTAGG={n_sort}!")
            else:
                flags.append(f"sortagg={n_sort} (keep: {why.split(';')[0]})")
        print(f"  {name:38s} {' '.join(flags) if flags else 'ok'}")

    if bad:
        print(f"\nPLAN SWEEP FAILED ({len(bad)} finding(s)):")
        for b in bad:
            print(f"  - {b}")
        return 1
    print("\nplan sweep OK: no cartesian products, no row-at-a-time "
          "Python UDFs, no SortAggregate or BroadcastNestedLoopJoin "
          "outside the documented keeps")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
