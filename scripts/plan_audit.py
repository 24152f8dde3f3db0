"""Plan-quality audit: dump a per-query summary of the physical plan
for every registered batch query — exchanges (shuffles), broadcast
joins, whole-stage-codegen spans, parquet filter pushdown — into
PLANS.md. The numbers make plan regressions reviewable in diffs the
same way BENCH_r*.json makes time regressions reviewable.

Streaming queries run eagerly through a sink, so they are listed but
not plan-audited (their plan properties are pinned by dedicated
tests). ITERATIVE queries get a second section: the operators expose a
``plan_hook`` that hands the audit one REPRESENTATIVE per-iteration
DataFrame from inside the real loop (k-means update, PageRank rank
update, connected-components propagate+jump, BPE pair-count), so the
rows below are the actual executed iteration plans, not stand-ins.

Usage: python scripts/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SKIP = {
    # streaming: run a query eagerly through a sink; plan pinned by
    # tests/test_events_streaming.py
    "stream_window_agg", "stream_dedup", "stream_interval_join",
    "stream_left_interval_join", "stream_sessionize",
    "stream_sessionize_append", "stream_static_join", "stateful_totals",
    "stream_quality_gate", "stream_minhash_screen",
    "stream_bloom_screen", "stream_funnel", "stream_psi_drift",
    "stream_attribution", "stream_ewma", "stream_srm",
    "stream_topk_users", "stream_msprt", "stream_recovery",
    "stream_cms_ngrams", "stream_p95", "stream_hll",
    "stream_recovery_msprt", "stream_langid_mix", "stream_moments",
    # iterative (driver-side loop): representative per-iteration plans
    # captured via plan_hook in the second section below
    "kmeans", "dedup_resolve", "pagerank", "fuzzy_resolve",
    "triangle_count", "bpe_merges", "bpe_merges_batched", "kcore",
    "mmr_rerank", "hits", "hits_prebuilt", "kcenter_coreset",
    "emb_top_pc", "bt_strengths", "ppr", "bfs_depths", "label_prop",
    "graph_diameter",
}

# which iterative capture covers each skipped query's loop
ITER_COVERAGE = {
    "kmeans": "kmeans[assign+update]",
    "pagerank": "pagerank[iteration]",
    "triangle_count": "triangle_count[enumerate]",
    "dedup_resolve": "cc[propagate+jump]",
    "fuzzy_resolve": "fuzzy_join row + cc[propagate+jump]",
    "bpe_merges": "bpe[pair-count]",
    "bpe_merges_batched": "bpe[pair-count] (same per-pass plan)",
    "kcore": "kcore[peel]",
    "mmr_rerank": "bm25_topk row (pool scan; pick rounds are "
    "checkpointed joins over <= queries x pool rows)",
    "hits": "hits[iteration]",
    "hits_prebuilt": "hits[iteration] (same loop over the staged "
    "dual-orientation edge copies)",
    "kcenter_coreset": "kcenter[update] (map-only least() vs a "
    "literal center + one global top-1 per round)",
    "emb_top_pc": "top_pc[matvec] (d^2-row checkpointed cov join "
    "per step; corpus touched once in the cov build)",
    "bt_strengths": "bt[mm-update] (top_n-row checkpointed join per "
    "step; corpus touched once for the contestant cut)",
    "ppr": "ppr[iteration] (pagerank loop with the seed-CASE restart "
    "term — identical join/agg shape)",
    "bfs_depths": "bfs[frontier] (per-level broadcast-gated frontier "
    "join + visited anti-join)",
    "label_prop": "label_prop[round] (node-keyed equi-join + "
    "min-groupBy + left join per round, checkpointed)",
    "graph_diameter": "bfs[frontier] (two _bfs_from sweeps over one "
    "persisted edge build; driver traffic two single rows)",
}


def metrics(plan: str, name: str) -> tuple[int, int, int, int, int, list[str]]:
    """(shuffles, bcast, wscg, pushed, scans, flags) from a physical
    plan string. Distinct-line counting throughout: cached-branch
    lineage is re-printed under every InMemoryTableScan reference, so
    raw occurrence counts over-report persisted plans (expression ids
    make genuinely distinct nodes distinct lines)."""
    shuffles = len(
        set(re.findall(r"Exchange (?:hash|range)partitioning[^\n]*", plan))
    )
    # a SinglePartition exchange is benign when it merges a global
    # ungrouped aggregate (keys=[]) — one row per upstream partition,
    # model-parameter scale; flag only the data funnels
    plan_lines = plan.splitlines()
    single = 0
    for i, ln in enumerate(plan_lines):
        if "Exchange SinglePartition" in ln:
            nxt = plan_lines[i + 1] if i + 1 < len(plan_lines) else ""
            # any partial ungrouped aggregate qualifies — Catalyst
            # picks Hash/Sort/ObjectHash per aggregate function mix
            if not re.search(r"Aggregate\(keys?=\[\]", nxt):
                single += 1
    bcast = len(set(re.findall(r"BroadcastExchange[^\n]*", plan)))
    wscg = len(set(re.findall(r"\*\((\d+)\)", plan)))
    # DISTINCT scan nodes: a persisted branch's lineage is re-printed
    # verbatim inside every InMemoryTableScan reference (runtime reads
    # parquet once to fill the cache), and a reused subquery repeats
    # its text too — identical lines collapse to the true number of
    # distinct scans. Pushed filters are counted PER DISTINCT SCAN
    # LINE (the scan line carries the expression ids; the bare
    # 'PushedFilters: [...]' substring does not, so deduping it used
    # to collapse distinct same-table same-filter scans and
    # under-report pushdown coverage).
    scan_lines = set(re.findall(r"FileScan parquet[^\n]*", plan))
    scans = len(scan_lines)
    pushed = sum(
        1 for ln in scan_lines if re.search(r"PushedFilters: \[[^\]]+\]", ln)
    )
    flags = []
    if single:
        flags.append(f"{single} single-partition exchange")
    if "CartesianProduct" in plan:
        flags.append("cartesian")
    # intentional broadcast-the-tiny-side cross joins (mirrors
    # tests/test_plan_quality.py allowed_bnlj): ann_brute scores the
    # small query set against the corpus, ann_recall composes it,
    # source_divergence expands the Zipf-small vocab
    if "BroadcastNestedLoopJoin" in plan and name not in (
        "ann_brute", "ann_recall", "source_divergence",
        "source_semantic_map", "pq_topk", "knn_classify",
        "rank_fusion", "source_jaccard", "ann_sq", "maxsim_topk",
        "bootstrap_ci",
        # broadcast-LUT ADC probe over the prebuilt codes (pq_topk shape)
        "ann_pq_prebuilt",
        # pairwise one-row-per-group threshold join (groups² rows)
        "theta_sketch",
        # class × m-row global value histogram grid (model-parameter
        # broadcast side)
        "t_closeness",
        # compose brute_force_topk (the ann_brute intentional
        # broadcast cross join); their own joins are equi-joins
        "rbo_overlap", "matryoshka_recall",
        # day-pair inequality self-join over the CALENDAR-sized daily
        # aggregate (days² rows, never data-proportional); its 1-row
        # totals are scalar subqueries since r13
        "kendall_tau",
        # 1-row margins x 1-row units crossJoin kept by measurement
        # (single-tree exchange reuse beats a separately-planned
        # subquery 2x)
        "judge_alpha",
        # broadcast range join of draws vs the Zipf-small vocab CDF
        "negative_samples",
        # HNSW's cells x cells entry grid + 1-row global-entry seed —
        # intentional tiny broadcast cross joins (model-parameter
        # scale; mirrors the test_plan_quality allowlist entry)
        "ann_hnsw",
    ):
        flags.append("bnlj")
    return shuffles, bcast, wscg, pushed, scans, flags


def row(name: str, plan: str) -> str:
    shuffles, bcast, wscg, pushed, scans, flags = metrics(plan, name)
    return (
        f"| {name} | {shuffles} | {bcast} | {wscg} |"
        f" {pushed}/{scans} | {', '.join(flags) or 'ok'} |"
    )


def main() -> None:
    import __spark_entry__ as entry
    from banking_data_etl_pipeline_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("plan_audit", cpus=8)
    qs = entry.queries()

    lines = [
        "# Physical-plan audit (generated by scripts/plan_audit.py)",
        "",
        f"Scale factor dir: `{sf_dir}`. Columns: shuffle exchanges /",
        "broadcast exchanges / WholeStageCodegen spans / parquet scans",
        "with pushed filters / total parquet scans.",
        "",
        "Flagged single-partition exchanges are POST-REDUCTION sizing",
        "decisions, not data funnels: score_auc reduces to DISTINCT",
        "scores, calibration_bins/lift_deciles to their bins/bands,",
        "bootstrap_ci to one base-stats row, msprt_monitor to day-count",
        "rows before its cumulative walk. benford_audit's window runs",
        "over the 9-row digit spine. (r13: curriculum_order now uses",
        "the distributed-rank construction and quantile_normalize the",
        "candidate-bucket compressed CDF — both former flags are",
        "plan-asserted gone in tests/test_plan_quality.py.)",
        "survival_km's flagged windows run over the duration spine",
        "(<= horizon_days+1 rows after the per-user reduction);",
        "heaps_law's cumulative windows run over per-doc rows",
        "(doc-count scale — range-partition the running sum at 100 TB,",
        "per its docstring); negative_samples' flagged windows build",
        "the Zipf-small vocab CDF (model-parameter scale — bucket the",
        "CDF at 100 TB, per its docstring).",
        "",
        "| query | shuffles | bcast | wscg | pushed/scans | flags |",
        "|---|---|---|---|---|---|",
    ]
    for name, fn in qs.items():
        if name in SKIP:
            cover = ITER_COVERAGE.get(name)
            note = (
                f"iterative — see `{cover}` below"
                if cover
                else "streaming (plan pinned by tests)"
            )
            lines.append(f"| {name} | — | — | — | — | {note} |")
            continue
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # noqa: BLE001
            lines.append(f"| {name} | ? | ? | ? | ? | ERROR {type(e).__name__} |")
            continue
        lines.append(row(name, plan))
        spark.catalog.clearCache()

    # ---- representative ITERATION plans, captured from inside the
    # real driver-side loops via each operator's plan_hook
    lines += [
        "",
        "## Iterative operators — one representative iteration each",
        "",
        "Captured via `plan_hook` from inside the real loop (first",
        "iteration), so these are executed plans, not reconstructions.",
        "InMemoryTableScans of loop-persisted state appear as cached",
        "reads, exactly as at runtime. Note: `cc` right-sizes its loop",
        "shuffle width to the MEASURED edge count (edges_per_partition),",
        "which is 1 partition on this tiny fixture pair-graph — its",
        "single-partition exchanges are that sizing decision, not a",
        "data funnel (at a real pair-set scale the same code picks a",
        "proportional width).",
        "",
        "| loop stage | shuffles | bcast | wscg | pushed/scans | flags |",
        "|---|---|---|---|---|---|",
    ]
    captured: list[tuple[str, str]] = []

    def hook_for(label):
        def hook(stage, df):
            captured.append(
                (f"{label}[{stage}]",
                 df._jdf.queryExecution().executedPlan().toString())
            )
        return hook

    from banking_data_etl_pipeline_spark.operators import (
        bpe, clustering, dedup, graph,
    )
    from banking_data_etl_pipeline_spark.sources import tables
    from pyspark.sql import functions as F

    emb = tables.load(spark, sf_dir, "embeddings")
    docs = tables.load(spark, sf_dir, "documents")
    lineitem = tables.load(spark, sf_dir, "lineitem")
    clustering.train_centroids(
        emb, k=8, iterations=1, plan_hook=hook_for("kmeans")
    )
    graph.pagerank(lineitem, iters=1, plan_hook=hook_for("pagerank"))
    spark.catalog.clearCache()
    graph.ppr(lineitem, iters=1, plan_hook=hook_for("ppr"))
    spark.catalog.clearCache()
    graph.bfs_depths(lineitem, max_depth=1, plan_hook=hook_for("bfs"))
    spark.catalog.clearCache()
    graph.triangle_counts(lineitem, plan_hook=hook_for("triangle_count"))
    spark.catalog.clearCache()
    pairs = dedup.minhash_lsh_pairs(docs).filter(F.col("est_jaccard") >= 0.5)
    dedup.connected_components(pairs, plan_hook=hook_for("cc"))
    spark.catalog.clearCache()
    bpe.learn_bpe_merges(docs, n_merges=1, plan_hook=hook_for("bpe"))
    spark.catalog.clearCache()
    graph.kcore(lineitem, plan_hook=hook_for("kcore"))
    spark.catalog.clearCache()
    orders = tables.load(spark, sf_dir, "orders")
    graph.hits(
        edges=graph.purchase_edges(orders, lineitem),
        iters=1,
        plan_hook=hook_for("hits"),
    )
    spark.catalog.clearCache()
    from banking_data_etl_pipeline_spark.operators import sampling, similarity
    sampling.kcenter_coreset(emb, k=2, plan_hook=hook_for("kcenter"))
    spark.catalog.clearCache()
    similarity.top_principal_component(
        emb, iters=1, plan_hook=hook_for("top_pc")
    )
    spark.catalog.clearCache()
    from banking_data_etl_pipeline_spark.operators import profiling
    profiling.bt_strengths(docs, iters=1, plan_hook=hook_for("bt"))
    spark.catalog.clearCache()
    graph.label_prop(lineitem, iters=1, plan_hook=hook_for("label_prop"))
    spark.catalog.clearCache()

    for label, plan in captured:
        lines.append(row(label, plan))

    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"
    )
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out} ({len(qs)} queries + {len(captured)} iteration plans)")


if __name__ == "__main__":
    main()
