#!/usr/bin/env python
"""Physical-plan audit: verify the scale posture of every query.

For each ``queries()`` entry, inspects the formatted physical plan
and asserts/records the properties that matter at 100 TB:

- dim joins are BroadcastHashJoin (no fact-side shuffle for lookups)
- parquet scans carry PushedFilters / a pruned ReadSchema
- aggregations are partial+final HashAggregate pairs
- no CartesianProduct except where declared (brute-force knn)
- WholeStageCodegen spans cover the hot path

Writes PLANS.md (plan-property table + flagship plan excerpts).
Usage: python tools/explain_audit.py [--sf DIR] [names...]
"""

from __future__ import annotations

import argparse

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Queries where a cross join IS the declared algorithm (exactness
# baseline), not an accident — plus scalar attaches: a crossJoin
# against a 1-row aggregate (corpus stats) compiles to
# BroadcastNestedLoopJoin with a single build row, i.e. |L| x 1
# pass-through, the DataFrame spelling of an uncorrelated scalar
# subquery.
CROSS_JOIN_OK = {
    "knn_bruteforce",      # declared exactness baseline
    "knn_ivf_recall",      # embeds knn_bruteforce as its ground truth
    "knn_ivf_quantized_recall",  # same: brute-force ground-truth side
    "bm25_scores",         # 1-row corpus-stats scalar attach
    "tfidf_top_terms",     # 1-row n_docs scalar attach
    "sketch_accuracy",     # 1-row exact/sketch scalar attaches
    "lang_mixture_resample",  # 1-row weight-sum + T scalar attaches
    "knn_ivf",             # 1-row centroid-matrix broadcast attach
    "knn_ivf_lloyd",       # same similarity.knn_ivf search and attach
    "token_budget_select",  # 1-row corpus token-budget scalar attach
    "knn_quantized",       # exactness demo of the quantized read path
    "knn_ivf_quantized_recall_p6",  # brute ground truth + 1-row cost attaches
    "knn_ivf_persisted",   # 1-row codec/centroid + contract attaches
    "knn_ivf_appended",    # same contract shape over the appended index
    "knn_ivf_streamed",    # same contract shape over the stream-built index
    "knn_ivf_compacted",   # same contract shape over the compacted index
    "hard_negative_mining",  # declared exactness baseline (broadcast anchors)
    "knn_ivf_manycell_recall",  # brute ground truth + contract attaches
    "hard_negative_mining_ivf",  # brute ground truth + contract attaches
    "knn_pq_adc_exact",    # declared full-scan ADC baseline (codes-only scan)
    "knn_pq_rerank_recall",  # brute ground truth + broadcast query attaches
    "knn_ivf_pq_exact",    # knn_ivf over a PQ codec: 1-row centroid attaches
    "knn_ivf_pq_residual",  # same search and attaches, residual PQ codec
    "knn_pq_residual_persisted",  # same attaches over the persisted index
    "knn_ivf_pq_persisted",  # same attaches over the persisted index
    "knn_pq_persisted_rerank",  # same attaches + broadcast query re-rank
    "knn_pq_streamed",     # same attaches over the stream-built index
    "knn_pq_appended",     # same attaches over the batch-appended index
    "knn_pq_compacted",    # same attaches over the compacted index
    "knn_pq_fitted_exact",  # full-scan ADC baseline, fitted codebooks
    "knn_ivf_probe_tuned",  # brute ground truth + 1-row tuned attach
    "knn_ivf_persisted_tuned",  # same truth side + 1-row identity attaches
    "lm_perplexity_filter",  # 1-row bigram-model map broadcast attach
    "lm_perplexity_filter_3gram",  # same attach, three-map model row
    "lm_perplexity_filter_kn",  # same attach, four-map KN model row
    # the composed pretraining pipeline embeds lm_perplexity_filter's
    # 1-row model attach (plus token-budget-style scalar attaches from
    # its packing stage)
    "pretrain_corpus_prep",
    # SemDeDup: nearest-centroid assignment is the 1-row (sids, smat)
    # broadcast attach (the cmat convention). The batch-verdict row
    # (semantic_dedup) cuts its plan with a localCheckpoint after the
    # assignment, so only the incremental row's audited plan shows
    # the two attaches (batch side + corpus side).
    "semantic_dedup",
    "semantic_dedup_incremental",
}
# Queries allowed a SinglePartition exchange that feeds a Sort/Window
# (the funnel shape): only tiny POST-AGGREGATION inputs (a handful of
# rows by construction), where one task is the right plan. Global
# 1-row aggregates (partials -> single-partition final HashAggregate)
# are NOT funnels and are never flagged — the detector checks the
# exchange's consumer node, because a single-partition exchange
# feeding a Sort/Window over RAW data is the classic global-window
# scale killer (WindowExec requires SinglePartition when partitionBy
# is empty).
SINGLE_PARTITION_OK = {
    "monthly_revenue_moving_avg",   # window over ~100 month rows (post-agg)
}
# Streaming-to-completion queries: plan inspection happens inside the
# stream runner; skip static audit.
SKIP = {
    "hot_section_stream",
    "hot_article_stream",
    "client_ip_access_stream",
    "hourly_event_stats_stream",
    "stateful_sessions",
    "windowed_event_counts_stream",
}


def _single_partition_funnels(plan: str) -> tuple[int, int]:
    """(total SinglePartition exchanges, how many feed a Sort/Window).

    Formatted plans carry each exchange's distribution in its detail
    block ("Arguments: SinglePartition, ..."); the tree section gives
    the consumer: the nearest line above the exchange's tree line with
    a strictly smaller marker depth. A SinglePartition exchange whose
    consumer is the final HashAggregate of a global 1-row aggregate is
    the CORRECT plan (partials reduce to one row per partition); one
    whose consumer is a Sort/Window serializes raw rows through a
    single task — the global-window funnel this audit exists to catch.
    """
    sp_ids: set[str] = set()
    for m in re.finditer(r"^\((\d+)\) Exchange\b", plan, re.M):
        tail = plan[m.end():]
        nxt = re.search(r"^\(\d+\) ", tail, re.M)
        block = tail[: nxt.start()] if nxt else tail
        if "SinglePartition" in block:
            sp_ids.add(m.group(1))
    if not sp_ids:
        return 0, 0
    tree = plan.split("\n\n", 1)[0].splitlines()

    marker = re.compile(r"[+:]- ")

    def depth_and_name(line: str) -> tuple[int, str]:
        m = marker.search(line)
        if m is None:  # root node, no marker
            return -1, line.strip().split(" ")[0]
        return m.start(), line[m.end():].strip().split(" ")[0]

    funnels = 0
    for i, line in enumerate(tree):
        if not any(f"Exchange ({nid})" in line for nid in sp_ids):
            continue
        d, _ = depth_and_name(line)
        for j in range(i - 1, -1, -1):
            pd, pname = depth_and_name(tree[j])
            if pd < d:
                if pname in ("Sort", "Window", "WindowGroupLimit"):
                    funnels += 1
                break
    return len(sp_ids), funnels


def _explain(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def audit(name: str, df, codegen_plan: str | None = None) -> dict:
    """Audit one query's formatted plan.

    ``codegen_plan`` is an optional SECOND formatted plan of the same
    query built with AQE disabled: under AQE the static plan is an
    unexecuted ``AdaptiveSparkPlan`` wrapper that carries NO codegen
    annotations at all (CollapseCodegenStages runs per-stage at
    runtime), so codegen coverage must be measured on the non-adaptive
    twin. The marker in formatted output is ``[codegen id : N]`` —
    counting the literal string ``WholeStageCodegen`` (as this audit
    did through round 6) always reads 0 in formatted mode.
    """
    plan = _explain(df)
    single_part, funnels = _single_partition_funnels(plan)
    codegen_src = codegen_plan if codegen_plan is not None else plan
    codegen_ids = set(re.findall(r"\[codegen id : (\d+)\]", codegen_src))
    props = {
        "broadcast_joins": len(re.findall(r"BroadcastHashJoin", plan)),
        "shuffle_joins": len(re.findall(r"SortMergeJoin|ShuffledHashJoin", plan)),
        "cartesian": len(re.findall(r"CartesianProduct|BroadcastNestedLoop", plan)),
        "hash_aggs": len(re.findall(r"HashAggregate", plan)),
        "pushed_filters": len(re.findall(r"PushedFilters: \[[^\]]", plan)),
        "codegen_spans": len(codegen_ids),
        "exchanges": len(re.findall(r"Exchange", plan)),
        "single_part": single_part,
        "sp_funnels": funnels,
        "python_udf": len(re.findall(r"ArrowEvalPython|BatchEvalPython|MapInPandas", plan)),
    }
    flags = []
    if props["cartesian"] and name not in CROSS_JOIN_OK:
        flags.append("UNEXPECTED-CROSS-JOIN")
    if props["python_udf"] and name not in (
        "media_features", "media_resize", "media_frames",
        # real-codec round-trips: Arrow-batched encode/decode IS the
        # operator (stdlib codecs run in Python by construction)
        "wav_roundtrip", "bmp_roundtrip", "png_roundtrip",
        # large-vocab BPE: the pandas tier IS the declared dispatch
        # above the native chain's measured 384-merge analyzer ceiling
        # (operators/bpe.py token_digests); the 768-merge LEARNED-table
        # contract rides the same tier
        "bpe_large_vocab", "bpe_learned_deep",
        # streamed tokenization applies the same pandas tier per batch
        "corpus_tokenize_stream",
        # perceptual image dedup: the Arrow-batched codec decode IS
        # the operator's Python (the multimodal round-trip
        # convention); the hash fold and banding joins are relational
        "phash_signatures", "phash_near_dups", "dct_phash_signatures",
        "phash_incremental",
    ):
        flags.append("PYTHON-IN-HOT-PATH")
    if props["sp_funnels"] and name not in SINGLE_PARTITION_OK:
        # A partitionless Window / global Sort funnel: the whole input
        # serializes through a single task at scale. (Global 1-row
        # aggregates also exchange to SinglePartition but only move
        # one row per partition — counted in single_part, not flagged.)
        flags.append("SINGLE-PARTITION-EXCHANGE")
    if (
        codegen_plan is not None
        and not codegen_ids
        and "Scan parquet" in codegen_src
        and not props["python_udf"]
    ):
        # Floor assertion: any JVM-only query that scans parquet must
        # compile at least one whole-stage span — zero means either a
        # codegen-breaking expression landed on the hot path or Spark's
        # explain format changed and this audit went blind again.
        flags.append("NO-CODEGEN")
    props["flags"] = ",".join(flags) or "-"
    return props, plan


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default=os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"))
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from flink_log_analysis_spark import get_spark

    spark = get_spark("explain-audit")
    spark.sparkContext.setLogLevel("ERROR")

    qs = entrymod.queries()
    partial = bool(args.names)
    names = args.names or [n for n in qs if n not in SKIP]

    from flink_log_analysis_spark.session import scoped_conf

    rows = []
    excerpts = {}
    bad = 0
    for name in names:
        df = qs[name](spark, args.sf)
        # Codegen coverage is invisible on the AQE static plan (see
        # audit()): build a non-adaptive twin of the same query and
        # measure [codegen id : N] spans there. Everything else is
        # audited on the production (AQE) plan.
        with scoped_conf(spark, {"spark.sql.adaptive.enabled": "false"}):
            try:
                cg_plan = _explain(qs[name](spark, args.sf))
            except Exception:
                cg_plan = ""
        props, plan = audit(name, df, codegen_plan=cg_plan)
        rows.append((name, props))
        if props["flags"] != "-":
            bad += 1
        if name in ("hot_section", "pricing_summary", "near_dup_pairs",
                    "knn_lsh", "regional_revenue",
                    # prefix-sum family: the plans that must show NO
                    # single-partition Sort/Window funnel (VERDICT r5)
                    "pack_chunks", "corpus_shards"):
            excerpts[name] = plan

    if partial and os.path.exists(args.out):
        # Named-subset run: MERGE into the standing table instead of
        # clobbering it (a single-name re-audit used to overwrite the
        # whole 180-row PLANS.md with one row — r15 footgun). Rows for
        # re-audited names are replaced in place; everything else and
        # the excerpts section survive untouched.
        import re as _re

        text = open(args.out).read()
        for name, p in rows:
            newline = (
                f"| {name} | {p['broadcast_joins']} | {p['shuffle_joins']} | "
                f"{p['cartesian']} | {p['hash_aggs']} | {p['pushed_filters']} | "
                f"{p['codegen_spans']} | {p['exchanges']} | "
                f"{p['single_part']}/{p['sp_funnels']} | "
                f"{p['python_udf']} | {p['flags']} |"
            )
            pat = _re.compile(rf"^\| {_re.escape(name)} \|.*$", _re.M)
            if pat.search(text):
                text = pat.sub(newline.replace("\\", "\\\\"), text, count=1)
            elif "\n## Flagship plan excerpts" in text:
                text = text.replace(
                    "\n## Flagship plan excerpts",
                    f"{newline}\n\n## Flagship plan excerpts",
                    1,
                )
            else:
                # No anchor section in the standing file: a silent
                # str.replace no-op would drop the freshly audited
                # row while still reporting it merged. Append it.
                text = text.rstrip("\n") + f"\n{newline}\n"
        with open(args.out, "w") as f:
            f.write(text)
        print(f"{len(rows)} plans merged, {bad} flagged -> {args.out}")
        spark.stop()
        sys.exit(1 if bad else 0)

    with open(args.out, "w") as f:
        f.write(
            "# PLANS — physical-plan audit\n\n"
            f"Generated by `tools/explain_audit.py` at `{args.sf}`.\n"
            "Properties that matter at 100 TB: dim joins broadcast, filters\n"
            "pushed into parquet scans, partial+final hash aggregation, no\n"
            "accidental cross joins, hot path inside WholeStageCodegen.\n"
            "The codegen column counts distinct `[codegen id : N]` spans on\n"
            "an AQE-disabled twin of each plan (the AQE static plan carries\n"
            "no codegen annotations); a parquet-scanning JVM-only query with\n"
            "zero spans is flagged NO-CODEGEN.\n\n"
            "| query | bcast joins | shuffle joins | cartesian | hash aggs | "
            "pushed filters | codegen | exchanges | 1-part/funnel | python | "
            "flags |\n"
            "|---|---|---|---|---|---|---|---|---|---|---|\n"
        )
        for name, p in rows:
            f.write(
                f"| {name} | {p['broadcast_joins']} | {p['shuffle_joins']} | "
                f"{p['cartesian']} | {p['hash_aggs']} | {p['pushed_filters']} | "
                f"{p['codegen_spans']} | {p['exchanges']} | "
                f"{p['single_part']}/{p['sp_funnels']} | "
                f"{p['python_udf']} | {p['flags']} |\n"
            )
        f.write("\n## Flagship plan excerpts\n")
        for name, plan in excerpts.items():
            f.write(f"\n### {name}\n\n```\n{plan.strip()}\n```\n")

    print(f"{len(rows)} plans audited, {bad} flagged -> {args.out}")
    spark.stop()
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
