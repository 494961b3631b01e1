"""Physical-plan inspector: asserts the scale-critical plan properties.

For each checked query: is the filter pushed to the parquet scan, is
the scan column-pruned (ReadSchema), did small dims go broadcast, and
how many shuffles (Exchange) does the plan contain. Prints a table and
exits non-zero if an expectation fails — run after plan-affecting
changes.

Usage: python tools/explain_plans.py [sf_dir]
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

# query -> expectations
EXPECT: dict[str, dict] = {
    "pricing_summary": {
        "pushed_filter": "l_shipdate",          # predicate reaches the scan
        "read_cols_max": 6,                      # column pruning
        "max_exchanges": 2,                      # one agg shuffle (+AQE read)
    },
    "revenue_by_nation": {
        "broadcasts": 2,                         # customer + nation dims
        "read_cols_max": 4,
    },
    "orders_referential_violations": {
        "broadcasts": 1,                         # anti-join build side
        "plan_contains": "BroadcastHashJoin.*LeftAnti",
    },
    "doc_column_stats": {
        "read_cols_max": 4,
        "max_exchanges": 3,                      # two-phase distinct agg
    },
    "suite_verdicts": {
        "plan_contains": "HashAggregate",
    },
    "top_orders_per_nation": {
        "broadcasts": 2,
    },
    "minhash_lsh_candidates": {
        "read_cols_max": 2,                      # doc_id + text only
    },
    "embedding_near_dups": {
        # the whole point of the LSH re-plan: NO cartesian anywhere
        "plan_not_contains": "CartesianProduct|BroadcastNestedLoopJoin",
        "read_cols_max": 2,                      # vec_id + embedding
    },
    "combined_similar_pairs_low": {
        "plan_not_contains": "CartesianProduct|BroadcastNestedLoopJoin",
    },
    "grammar_checks_docs": {
        # explode-then-aggregate: tagging must run inside codegen stages,
        # and the only wide op is the final (doc_id) sum
        "plan_contains": r"Generate explode",
        "max_exchanges": 3,
        "read_cols_max": 2,
    },
    "phrase_bigram_scores": {
        "plan_contains": "HashAggregate",
        "read_cols_max": 2,
    },
    "multi_model_eval": {
        "read_cols_max": 2,                      # doc_id + text
        "max_exchanges": 3,                      # explode dim -> one grouped agg
    },
    "ann_lsh_topk": {
        "plan_not_contains": "CartesianProduct|BroadcastNestedLoopJoin",
    },
    "events_asof_clicks": {
        # union+window asof: one narrow shuffle, no range explosion
        "plan_not_contains": "CartesianProduct|BroadcastNestedLoopJoin",
    },
    "events_in_incident_windows": {
        # bucketed range join: equi-join on epoch buckets, never BNLJ
        "plan_not_contains": "CartesianProduct|BroadcastNestedLoopJoin",
    },
    # --- round-4 queries ---
    "lda_doc_term_matrix": {
        # kept vocabulary joins broadcast; corpus never shuffles on text
        "plan_contains": "BroadcastHashJoin",
        "read_cols_max": 2,                      # doc_id + text
    },
    "doc_topic_entropy": {
        # top-10 words broadcast into the counts join; no cartesian
        "plan_contains": "BroadcastHashJoin",
        "plan_not_contains": "CartesianProduct",
        "read_cols_max": 2,
    },
    "topic_coherence_weighted": {
        "plan_not_contains": "CartesianProduct",
        "read_cols_max": 2,
    },
    "media_decode_features": {
        # real decode path: Arrow mapInPandas stages, id column only
        "plan_contains": "MapInPandas",
        "read_cols_max": 1,                      # doc_id only
    },
    "sanitized_preview": {
        "plan_contains": "ArrowEvalPython",      # vectorized UDF, not BatchEval
        "read_cols_max": 2,
    },
    "nchars_digest": {
        # small groups: JVM window read-off; no per-group Python unless
        # a group exceeds k distinct values
        "plan_not_contains": "CartesianProduct",
        "read_cols_max": 2,                      # lang + n_chars
    },
    "split_assignments": {
        # pure scan -> hash project -> grouped agg; partial agg map-side
        "plan_not_contains": "CartesianProduct|Exchange SinglePartition",
        "read_cols_max": 2,                      # doc_id + lang only
        "max_exchanges": 2,                      # agg shuffle + final sort
    },
    "sequence_packing": {
        # the whole point of the two-pass shape: the running sum never
        # funnels through one reducer — no SinglePartition exchange
        "plan_not_contains": "Exchange SinglePartition",
        "read_cols_max": 2,                      # doc_id + text
    },
    "domain_cap_sample": {
        # two-phase salted reservoir: the hot domain never hits one
        # window task, and nothing funnels through a single reducer
        "plan_not_contains": "CartesianProduct|Exchange SinglePartition",
        "read_cols_max": 2,                      # doc_id + source
        "max_exchanges": 4,
    },
    "cleaning_verdicts": {
        # per-row flags on the scan + one doc_id-keyed repetition agg
        # joined back; no funnel, no cartesian
        "plan_not_contains": "CartesianProduct|Exchange SinglePartition",
        "max_exchanges": 4,
        "read_cols_max": 2,                      # doc_id + text
    },
    "source_upsample": {
        # the lone SinglePartition exchange + 1-row BNLJ here belong to
        # the scalar max(n) over pre-aggregated ~|sources| rows (one row
        # per map partition reaches the single reducer), never the
        # corpus; the rep table then joins back broadcast
        "plan_contains": "BroadcastHashJoin",
        "read_cols_max": 2,                      # doc_id + source
        "max_exchanges": 5,
    },
    "token_budget_sample": {
        # two-phase prefix-sum reservoir: no one-reducer funnel
        "plan_not_contains": "CartesianProduct|Exchange SinglePartition",
        "max_exchanges": 4,
        "read_cols_max": 3,                      # doc_id + text + source
    },
    "repeated_lines": {
        # explode -> fingerprint count -> skew-splittable equi join back
        # -> per-doc agg; two deliberate pruned scans (see docstring)
        "plan_not_contains": "CartesianProduct|Exchange SinglePartition",
        "max_exchanges": 3,
        "read_cols_max": 2,                      # doc_id + text
    },
    "packed_examples": {
        # per-bin ordered concat after the two-pass bin assignment:
        # bounded by the token budget per group, no one-reducer funnel
        "plan_not_contains": "CartesianProduct|Exchange SinglePartition",
        "max_exchanges": 3,
    },
    # --- round-5 queries ---
    "tfidf_top_terms": {
        # tf JOIN df-by-term is the deliberate AQE-skew-splittable shape;
        # the lone 1-row attach is the corpus count N
        "plan_not_contains": "CartesianProduct",
        "plan_contains": "HashAggregate",
        "read_cols_max": 2,                      # doc_id + text
    },
    "dsir_log_weights": {
        # <=1024-row bucket model broadcast into the feature stream;
        # the only corpus shuffle is the doc_id aggregate
        "plan_contains": "BroadcastHashJoin",
        "plan_not_contains": "CartesianProduct",
        "read_cols_max": 3,                      # doc_id + text + source
    },
    "perplexity_buckets": {
        # LM totals and tertile cuts broadcast; cut windows run over the
        # (lang, nll) value aggregate, never the corpus
        "plan_contains": "BroadcastHashJoin",
        "plan_not_contains": "CartesianProduct",
        "read_cols_max": 3,                      # doc_id + text + lang
    },
    "dup_ngram_spans": {
        # gram-hash aggregates + equi-joins only: no funnel, no cartesian
        "plan_not_contains": "CartesianProduct|Exchange SinglePartition",
        "read_cols_max": 2,                      # doc_id + text
    },
    "drift_kl_daily": {
        # the (window, category) histogram is the only distributed step;
        # ranking and side alignment run on one partition (|windows| x
        # |categories| rows) — no join, no broadcast, no range sort
        "plan_not_contains": "SortMergeJoin|BroadcastHashJoin|BroadcastExchange",
        "max_exchanges": 2,                      # histogram agg + single-partition rank
    },
    "numeric_drift_psi_daily": {
        # decile edges from the distinct-value aggregate (bounded grid)
        # broadcast back as one row; histograms are 10-bucket aggregates
        "plan_not_contains": "CartesianProduct",
        "read_cols_max": 2,                      # ts + value
    },
    "url_blocklist_verdicts": {
        # blocklist dim broadcast; path rule is a pure expression —
        # scan reads only the URL-synth inputs
        "plan_contains": "BroadcastHashJoin",
        "plan_not_contains": "CartesianProduct",
        "read_cols_max": 3,                      # doc_id, source, lang
    },
    "suite_profile_verdicts": {
        # referential check joins the source dim broadcast; distinct /
        # p50 floors are (partition, value)-keyed aggregates — no
        # cartesian, text column pruned from the scan
        "plan_contains": "BroadcastHashJoin",
        "plan_not_contains": "CartesianProduct",
        "read_cols_max": 4,                      # doc_id, lang, source, n_chars
    },
    "semdedup_keep": {
        # r6 shape: sign-cell assignment via Arrow UDF, within-cell pair
        # stage is ONE grouped pandas pass emitting (vec_id, cell, keep)
        # directly — the old broadcast join-back of the dropped set is
        # gone (strictly fewer joins), and there is still no cartesian
        "plan_contains": "FlatMapGroupsInPandas",
        "plan_not_contains": "CartesianProduct|BroadcastNestedLoopJoin",
        "read_cols_max": 2,                      # vec_id + embedding
    },
    "eval_holdout_sample": {
        # exact-size top-K: per-partition top-K merged on the driver —
        # no global sort, no exchange at all over the corpus
        "plan_contains": "TakeOrderedAndProject",
        "plan_not_contains": "Exchange SinglePartition",
        "read_cols_max": 1,                      # doc_id only
    },
    "quality_classifier_scores": {
        # weights are closed-form md5 expressions of the bucket —
        # NO model join at all; one scan, one doc_id aggregate
        "plan_not_contains": "Join",
        "read_cols_max": 2,                      # doc_id + text
        "max_exchanges": 2,                      # agg + presentation sort
    },
    "bloom_decontamination_hits": {
        # bitmap words + test shingles both broadcast; corpus side
        # streams through — no cartesian, no shuffled join
        "plan_contains": "BroadcastHashJoin",
        "plan_not_contains": "CartesianProduct|SortMergeJoin",
        "read_cols_max": 2,
    },
    "lang_temperature_sample": {
        # |langs|-row rate table broadcast; no window over the corpus
        "plan_contains": "BroadcastHashJoin",
        "plan_not_contains": "Window|CartesianProduct",
        "read_cols_max": 2,                      # doc_id + lang
    },
    "doc_chunks": {
        # explode map-only: zero shuffles beyond the presentation sort
        "plan_contains": "Generate explode",
        "plan_not_contains": "Join",
        "read_cols_max": 2,
        "max_exchanges": 1,                      # range sort only
    },
    "suite_violations": {
        # violation rows = array_compact/explode over the flag
        # projection: no join, output bounded by defect rate
        "plan_contains": "Generate explode",
        "plan_not_contains": "Join",
        "read_cols_max": 4,                      # doc_id,text,lang,n_chars
        "max_exchanges": 1,                      # presentation sort only
    },
    "extraction_parity": {
        # html -> text is one Arrow-batched UDF on the scan; no shuffle
        # before the presentation sort
        "plan_contains": "ArrowEvalPython",
        "plan_not_contains": "Join",
        "read_cols_max": 2,                      # doc_id + text
        "max_exchanges": 1,                      # presentation sort only
    },
    "url_canonical_dupes": {
        # canonicalization is pure expression work on the scan; the
        # collapse is one map-side-combinable groupBy on the canonical
        # key — no join anywhere
        "plan_not_contains": "Join",
        "read_cols_max": 1,                      # doc_id only (synth URL)
        "max_exchanges": 3,                      # agg + distinct + sort
    },
    "snapshot_churn": {
        # one full-outer shuffle join on unique url keys, then a
        # combinable count — no broadcast possible (both sides corpus)
        "plan_contains": "SortMergeJoin .*FullOuter",
        "plan_not_contains": "CartesianProduct|Window",
        "read_cols_max": 4,                      # doc_id, lang, text, source
    },
    "lang_adaptive_floor": {
        # corpus-sized work is ONLY the (lang, n_chars) combinable
        # aggregate; the window runs over distinct value pairs
        "plan_contains": "Window",
        "plan_not_contains": "Join",
        "read_cols_max": 2,                      # lang + n_chars
    },
    "constraint_suggestions": {
        # suggestion assembly is a literal plan: the returned frame must
        # not re-scan the corpus (profiling ran in two bounded passes at
        # build time) and must not drag in a Python-RDD scan
        "plan_not_contains": "Scan parquet|Join|BatchEvalPython",
        "max_exchanges": 1,                      # presentation sort only
    },
    "schema_check_documents": {
        # schema comes from footers/catalog: the verdict frame must not
        # scan any data rows
        "plan_not_contains": "Scan parquet|Join",
        "max_exchanges": 1,                      # presentation sort only
    },
    "freshness_verdicts": {
        # one combine-effective max() per partition + the row-check
        # groupBy; no window, no join
        "plan_not_contains": "Join|Window|CartesianProduct",
        "read_cols_max": 3,                      # event_id, ts, event_type
    },
    "corr_nchars_words": {
        # one combine-effective sums aggregate per lang; no join/window
        "plan_not_contains": "Join|Window|CartesianProduct",
        "read_cols_max": 3,                      # lang, n_chars, text
        "max_exchanges": 3,
    },
    "fd_verdicts": {
        # two-phase distinct on (key, dep), key-grouped count — never a
        # self-join; bounded by key cardinality
        "plan_not_contains": "Join|CartesianProduct|Window",
        "read_cols_max": 3,                      # doc_id, source, lang
    },
    "incremental_profile": {
        # states are per-partition combinable aggregates; the merge runs
        # on O(partitions x columns) state rows — no join anywhere
        "plan_not_contains": "Join|CartesianProduct|Window",
        "read_cols_max": 5,
    },
    "metric_anomalies": {
        # corpus-sized work = two combinable daily aggregates; the
        # anomaly window runs over the tiny per-day series; no join
        "plan_contains": "Window",
        "plan_not_contains": "Join|CartesianProduct",
        "read_cols_max": 2,                      # ts + user_id
    },
}


def analyze(df) -> dict:
    plan = df._jdf.queryExecution().executedPlan().toString()
    simple = df._jdf.queryExecution().simpleString()
    info = {
        "exchanges": len(
            re.findall(r"Exchange (?:hash|range|Single)", plan)
        ),  # Single = SinglePartition (the one-reducer funnel)
        "broadcasts": len(re.findall(r"BroadcastExchange|BroadcastHashJoin", plan)),
        "wholestage": len(re.findall(r"\*\(\d+\)", plan)),
        "pushed": re.findall(r"PushedFilters: \[([^\]]*)\]", plan),
        "read_schemas": re.findall(r"ReadSchema: struct<([^>]*)>", plan),
        "plan": plan,
    }
    info["bcast_joins"] = len(re.findall(r"BroadcastHashJoin", plan))
    return info


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from reviews_quality_check_spark.queries import QUERIES
    from reviews_quality_check_spark.session import get_spark

    spark = get_spark(cores=4, shuffle_partitions=8)
    failures = []
    for name, exp in EXPECT.items():
        df = QUERIES[name](spark, sf_dir)
        info = analyze(df)
        problems = []
        if "pushed_filter" in exp:
            if not any(exp["pushed_filter"] in p for p in info["pushed"]):
                problems.append(f"filter on {exp['pushed_filter']} NOT pushed: {info['pushed']}")
        if "read_cols_max" in exp:
            widths = [len(s.split(",")) for s in info["read_schemas"] if s]
            if widths and max(widths) > exp["read_cols_max"]:
                problems.append(
                    f"scan reads {max(widths)} cols (max {exp['read_cols_max']}): {info['read_schemas']}"
                )
        if "broadcasts" in exp and info["bcast_joins"] < exp["broadcasts"]:
            problems.append(f"expected >= {exp['broadcasts']} broadcast joins, saw {info['bcast_joins']}")
        if "max_exchanges" in exp and info["exchanges"] > exp["max_exchanges"]:
            problems.append(f"{info['exchanges']} exchanges (max {exp['max_exchanges']})")
        if "plan_contains" in exp and not re.search(exp["plan_contains"], info["plan"], re.S):
            problems.append(f"plan missing /{exp['plan_contains']}/")
        if "plan_not_contains" in exp and re.search(exp["plan_not_contains"], info["plan"], re.S):
            problems.append(f"plan CONTAINS forbidden /{exp['plan_not_contains']}/")
        status = "OK " if not problems else "FAIL"
        print(
            f"[{status}] {name}: exchanges={info['exchanges']} "
            f"broadcast_joins={info['bcast_joins']} wholestage={info['wholestage']} "
            f"pushed={info['pushed'][:2]}"
        )
        for p in problems:
            print(f"       - {p}")
        if problems:
            failures.append(name)
    spark.stop()
    print(f"\n{len(failures)} plan failures: {failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
