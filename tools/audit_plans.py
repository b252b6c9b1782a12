"""Automated scale-anti-pattern audit over EVERY registered query.

Walks ``__spark_entry__.queries()``, builds each DataFrame (analysis
and planning only — nothing executes), and greps the physical plan for
the shapes that kill 100 TB jobs:

- ``CartesianProduct``           — all-pairs join, O(n²) rows moved
- ``BroadcastNestedLoopJoin``    — non-equi fallback; fine only for a
                                   deliberately tiny broadcast side
- unpartitioned data-sized ``Window`` — funnels the whole input
                                   through ONE task
- ``BatchEvalPython``            — row-at-a-time Python UDF in the
                                   plan (Arrow ``mapInPandas`` shows
                                   as MapInPandas and is allowed)

Queries that intentionally carry one of these carry an allowlist entry
with the reason printed next to the hit. Exit code 1 on any
unexpected hit — wire-able as a CI gate.

Usage: python tools/audit_plans.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# query → {pattern: reason} for deliberate exceptions
ALLOW: dict[str, dict[str, str]] = {
    # the cross-join demo query IS the pattern, on a 10-row broadcast side
    "cross_join": {
        "BroadcastNestedLoopJoin": "deliberate tiny-dims cross join demo"
    },
    # scalar 1-row threshold/total broadcasts: crossJoin(broadcast(1 row))
    "revenue_share": {"BroadcastNestedLoopJoin": "1-row scalar broadcast"},
    "tpch_q11": {"BroadcastNestedLoopJoin": "1-row scalar threshold"},
    "tpch_q14": {"BroadcastNestedLoopJoin": "1-row scalar total"},
    "tpch_q17": {"BroadcastNestedLoopJoin": "1-row scalar avg"},
    "tpch_q20": {"BroadcastNestedLoopJoin": "1-row scalar threshold"},
    "tpch_q22": {"BroadcastNestedLoopJoin": "1-row scalar avg"},
    "outlier_events": {"BroadcastNestedLoopJoin": "1-row moments broadcast"},
    "rolling_active_users": {
        "BroadcastNestedLoopJoin": "1-row max-day broadcast"
    },
    "decay_agg": {"BroadcastNestedLoopJoin": "1-row max-day broadcast"},
    "pca_power": {
        "BroadcastNestedLoopJoin": "1-row vector-count broadcast (n)"
    },
    "perplexity_gate": {
        "BroadcastNestedLoopJoin": "1-row scored-doc total broadcast (n)"
    },
    "quality_classifier": {
        "BroadcastNestedLoopJoin": (
            "1-row class-total/prior/calibrated-threshold broadcasts"
        )
    },
    "quality_classifier_report": {
        "BroadcastNestedLoopJoin": (
            "1-row class-total/prior/calibrated-threshold broadcasts"
            " (inherited from the classifier pipeline)"
        )
    },
    "stream_quality_gate": {
        "BroadcastNestedLoopJoin": (
            "1-row class-total broadcast in the model-fit weight table"
            " (the twin's fit side; stream side joins only the"
            " broadcast weight table)"
        )
    },
    "hll_bound": {
        "BroadcastNestedLoopJoin": "1-row global exact-distinct broadcast"
    },
    # r09 sketch bound contracts: learned sketch-quantile vectors /
    # merged-estimate scalars broadcast back for the contract booleans
    "kll_quantiles": {
        "BroadcastNestedLoopJoin": "1-row merged-quantile-vector broadcast"
    },
    "hybrid_rrf": {
        "BroadcastNestedLoopJoin":
            "1-row query-vector + 1-row BM25-stats broadcasts"
    },
    "hll_distinct": {
        "BroadcastNestedLoopJoin":
            "1-row merged/fine-estimate + exact-distinct broadcasts"
    },
    # same 3-way 1-row crossJoin of (nodes, edges, triangles) counts
    # as triangle_count (allowlisted below)
    "triangle_count_sampled": {
        "BroadcastNestedLoopJoin": "1-row count crossjoins"
    },
    "topk_similarity": {"BroadcastNestedLoopJoin": "1-row query vector"},
    # ann_lsh/embedding_neardup: no BNLJ since r04 — the signature
    # build is a map-only Arrow matmul and the query side is a literal
    # predicate (ann_lsh) / equi-join (neardup); entries removed so a
    # reintroduced nested-loop join FAILS the audit.
    "ann_ivf": {"BroadcastNestedLoopJoin": "1-row query vector"},
    "quality_deciles": {"BroadcastNestedLoopJoin": "1-row count broadcast"},
    "mixture_rebalance": {
        "BroadcastNestedLoopJoin": "1-row totals broadcast feeding rates"
    },
    "unigram_logprob": {
        "BroadcastNestedLoopJoin": "1-row corpus-token-total broadcast"
    },
    "bigram_logprob": {
        "BroadcastNestedLoopJoin": "1-row corpus-token-total broadcast"
    },
    "trigram_logprob": {
        "BroadcastNestedLoopJoin": "1-row trigram-type-total broadcast"
    },
    "tfidf": {"BroadcastNestedLoopJoin": "1-row n_docs broadcast (idf)"},
    "bloom_semi_join": {
        "BroadcastNestedLoopJoin": "1-row 128KiB bloom-bitmap broadcast"
    },
    "keyword_extract": {
        "BroadcastNestedLoopJoin": "1-row n_docs broadcast (idf)"
    },
    "kmeans_clusters": {
        "BroadcastNestedLoopJoin": "K-row centroid broadcast (argmin)"
    },
    "semantic_dedup": {
        "BroadcastNestedLoopJoin": "K-row centroid broadcast (argmin)"
    },
    "cluster_silhouette": {
        "BroadcastNestedLoopJoin": "K-row centroid broadcast (a/b argmin)"
    },
    "pps_sample": {
        "BroadcastNestedLoopJoin": "1-row weight-total broadcast (grid step)"
    },
    "bm25_topk": {
        "BroadcastNestedLoopJoin": "1-row corpus-stats broadcast (N, avgdl, df)"
    },
    "zorder_stats": {
        "BroadcastNestedLoopJoin": "1-row custkey-span broadcast (range buckets)"
    },
    "source_divergence": {
        "BroadcastNestedLoopJoin": "1-row corpus-token-total broadcast"
    },
    "knn_join": {
        "BroadcastNestedLoopJoin": "KNN_Q-row query-batch broadcast"
    },
    "stream_late_audit": {
        "BroadcastNestedLoopJoin": (
            "1-row watermark-cutoff + 1-row min-ts broadcasts (the "
            "audit's finalized-window filter and the twin's plant)"
        )
    },
    "ann_recall_report": {
        "BroadcastNestedLoopJoin": (
            "KNN_Q-row query-batch broadcast (the knn_join shape; "
            "exact ground-truth pass of the recall contract)"
        )
    },
    "triangle_count": {
        "BroadcastNestedLoopJoin": "1-row scalar count × count crossJoin"
    },
    "embedding_neardup_exact": {
        "BroadcastNestedLoopJoin":
            "documented O(n²) oracle twin — verification scale only",
        # at sf≥1 the join side exceeds the broadcast threshold and the
        # SAME deliberate all-pairs shape compiles to CartesianProduct
        # instead of BNLJ (found by the r05 sf1 audit); the scale path
        # is embedding_neardup (banded sign-LSH), this twin exists to
        # verify it
        "CartesianProduct":
            "documented O(n²) oracle twin — verification scale only",
    },
}

# windows whose input is O(partitions) or O(groups), not data-sized
WINDOW_OK = {
    "global_rank": "offset frame is O(partitions) rows",
    "dedup_suffix": (
        "offset frame is O(partitions) rows (the one row-number "
        "pass of prefix_scan that builds the suffix array)"
    ),
    "quality_deciles": "offset frame is O(partitions) rows",
    "perplexity_gate": "offset frame is O(partitions) rows",
    "seq_pack": "offset frame is O(partitions) rows",
    "pps_sample": "offset frame is O(partitions) rows",
    "seq_pack_bpe": "offset frame is O(partitions) rows",
    "corpus_to_sequences": "offset frame is O(partitions) rows",
    "retention_cohorts": "window over O(cohorts) aggregate",
    "revenue_share": "window over O(nations) aggregate",
    "skyline": "prefix-min offset frame is O(partitions) rows",
    "max_concurrency": "offset frame is O(partitions) rows",
    "seq_length_histogram": "window over O(length-buckets) aggregate",
    "hybrid_rrf": "rank windows over the <=50-row top-k pools",
}

# ordering token as it appears in plan text: "col#123L ASC NULLS FIRST"
_ORDER_TOKEN = re.compile(r"\s(ASC|DESC)\sNULLS\s")


def audit(sf_dir: str) -> int:
    import __spark_entry__ as E
    from cs422pp_mapreduce_spark.plans.explain import explain_str
    from cs422pp_mapreduce_spark.session import get_spark

    from cs422pp_mapreduce_spark.plans.analysis import analysis_plan_builders

    plan_twins = analysis_plan_builders()
    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    failures = 0
    for name, fn in E.queries().items():
        # streaming contract queries would run a real streaming job and
        # return a memory-sink scan that HIDES the aggregation plan;
        # driver-paced queries (order_stat) would pay real scans and
        # return a LocalTableScan — audit the lazy plan twin instead
        fn = plan_twins.get(name, fn)
        try:
            plan = explain_str(fn(spark, sf_dir), mode="simple")
        except Exception as exc:  # analysis failure is itself a finding
            print(f"FAIL {name}: plan build error: {exc}")
            failures += 1
            continue
        hits: list[str] = []
        for pat in ("CartesianProduct", "BroadcastNestedLoopJoin",
                    "BatchEvalPython"):
            if pat in plan:
                reason = ALLOW.get(name, {}).get(pat)
                if reason:
                    hits.append(f"allowed:{pat} ({reason})")
                else:
                    hits.append(f"HIT:{pat}")
        # unpartitioned window: windowspecdefinition whose FIRST arg is
        # already an ordering spec (no partition columns). The ordering
        # spec renders as "col#123L ASC NULLS FIRST" — match the
        # " ASC NULLS "/" DESC NULLS " token, not a bare substring
        # (a column named e.g. "ascent" must not false-positive).
        # Conservative: flag only when the query isn't in WINDOW_OK.
        if "Window" in plan and "windowspecdefinition(" in plan:
            for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
                first = m.group(1).split(",")[0]
                if _ORDER_TOKEN.search(first) and name not in WINDOW_OK:
                    hits.append("HIT:unpartitioned-window")
                    break
        bad = [h for h in hits if h.startswith("HIT:")]
        status = "FAIL" if bad else "ok"
        if bad or hits:
            print(f"{status:4s} {name}: {'; '.join(hits)}")
        if bad:
            failures += 1
    print(f"\n{failures} unexpected anti-pattern hit(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    raise SystemExit(audit(sf))
