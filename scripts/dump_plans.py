#!/usr/bin/env python
"""Regenerate PLANS.md: physical plans of headline queries + why each plan is
the one we want at 100 TB. Run after changing operators: the plan text is the
review artifact (`python scripts/dump_plans.py`)."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: (query name, what to look for in the plan)
COMMENTARY = {
    "range_scan": (
        "The reference's summary binary search as Parquet row-group pruning: "
        "`PushedFilters` carries both range bounds into the scan; on a sorted "
        "cluster only covering row groups are read. No shuffle before the "
        "bounded sort."
    ),
    "day_limit": (
        "Partial `WindowGroupLimit` BEFORE the exchange: each map task keeps "
        "at most N rows per (key, day) before shuffling — the top-N never "
        "moves more than N*groups rows, the property that makes the 111-"
        "captures cap viable on a full global index."
    ),
    "tpch_q3": (
        "Both dimension joins are `BroadcastHashJoin` (no shuffle of "
        "lineitem); filters on o_orderdate/l_shipdate are pushed to the "
        "scans; Catalyst rewrites the top-N window into "
        "`TakeOrderedAndProject` — a bounded-memory global top-10."
    ),
    "tpch_q5": (
        "Six-way join: big fact side stays un-shuffled through broadcast "
        "joins of every dim; the region filter prunes nation/customer "
        "upstream via constraint propagation."
    ),
    "minhash_pairs": (
        "Shingles are computed ONCE (InMemoryTableScan of the persisted set "
        "feeds signatures AND Jaccard verification); the only wide exchange "
        "is the band-bucket self-join; hash aggregation of 16 mins is "
        "map-side partial."
    ),
    "ann_ivf": (
        "Centroids broadcast twice (assignment + probe); cell assignment is "
        "a partial-aggregatable max_by, so the corpus shuffles once on "
        "vec_id, and the probe join is `BroadcastHashJoin` with the inferred "
        "cell-id constraint pushed into the corpus side."
    ),
    "asof_join": (
        "The custom as-of join as ONE window pass over the union of both "
        "sides: a single Exchange on the key, one Sort, `last(ignorenulls)` "
        "in `Window` — no Python workers anywhere in the plan (the "
        "method='pandas' fallback would show ArrowEvalPython/FlatMapCoGroups "
        "nodes instead)."
    ),
    "quality_rules": (
        "Both repetition stats are two-level `HashAggregate` chains with "
        "partial aggregation: only (doc_id, token) pairs shuffle — the "
        "document text never leaves the map side. The final assembly is "
        "joins of skinny per-doc stat tables back to the id list."
    ),
    "dedup_lines": (
        "Corpus-wide first-occurrence line dedup: lines shuffle ONCE on the "
        "line value for the min-(doc,pos) window, then once on doc_id for "
        "ordered reassembly — the same two movements a groupBy+rebuild "
        "formulation needs, with no Python anywhere."
    ),
    "neardup_clusters": (
        "Pairs -> components -> verdicts: the iterative label propagation "
        "runs eagerly (checkpointed per round, label-sum convergence probe); "
        "the final plan is the tiny component table joined back to the "
        "corpus ids — `BroadcastHashJoin`, the corpus never shuffles."
    ),
    "kvstore_scan": (
        "The HBase-pattern scan: the sortedkv DataSource prunes regions via "
        "pushFilters BEFORE any I/O (the scan node carries the rowkey "
        "bounds), Spark re-applies the filters row-level, and the pivot is "
        "one hash aggregation over the surviving cells."
    ),
    "tpch_q4": (
        "The EXISTS shape: date-filtered orders BROADCAST into the lineitem "
        "probe, then a left-semi join back — no duplicate-row inflation, "
        "no distinct. The fact table never shuffles before the semi."
    ),
    "tpch_q10": (
        "Chained BroadcastHashJoins into the filtered fact scan (returnflag "
        "pushed to parquet), one partial-aggregated groupBy, and Catalyst's "
        "TakeOrderedAndProject for the bounded global top-20."
    ),
    "decontam": (
        "Benchmark windows dedupe into a tiny table that BROADCASTS into "
        "the corpus-window join — the corpus text never shuffles; the only "
        "exchange aggregates the matching (doc, window) rows, then the "
        "per-doc stats join back broadcast."
    ),
    "cdx_server_closest": (
        "Wayback's nearest-to-T lookup: the exact-key predicate is a plain "
        "string literal (pushable to `PushedFilters` on a parquet cluster — "
        "pinned by test_cdx_query), and the nearest-k ranking is ONE "
        "`TakeOrderedAndProject` on the tz-free seconds-distance expression "
        "— per-partition bounded heaps, no shuffle, no full sort, O(k) "
        "memory."
    ),
    "cdx_server_query": (
        "Day-segmented collapse (round 4): the lag window partitions by "
        "(urlkey, day) — task size bounded by captures PER DAY, so a "
        "100M-capture mega-URL spreads over ~9k tasks instead of one — and "
        "the boundary stitch is a `BroadcastHashJoin` of the tiny per-"
        "(urlkey, segment) last-value aggregate back onto the captures. The "
        "only data-sized exchanges are the window's own hash partition and "
        "the final presentation sort; results are bit-identical to the "
        "single-window path (differential test)."
    ),
    "tpch_q2": (
        "Correlated scalar-min subquery decorrelated: the per-part minimum "
        "is a SKINNY aggregate (partkey, min_cost) that broadcasts back "
        "into the candidate join, and every dimension (filtered part, "
        "nation, region, supplier) broadcasts into the lineitem-derived ps "
        "scan — the fact-sized side never shuffles for a dim."
    ),
    "tpch_q9": (
        "Composite-key fact-to-ps join (partkey, suppkey): ps is a partial-"
        "aggregated projection of the same lineitem scan, so the join "
        "shuffles skinny (key, cost) rows, not full rows; part/supplier/"
        "nation all broadcast; profit accumulates in exact decimal."
    ),
    "semdedup": (
        "SemDeDup's scale contract: centroid assignment is a broadcast "
        "(nested-loop) join — the corpus never shuffles to pick a cluster — "
        "and the only corpus-sized exchange hashes on cluster_id for the "
        "within-cluster self-join, so the quadratic verify is bounded by "
        "the largest cluster. The dup-mark join back is skinny (ids only)."
    ),
    "tpch_q21": (
        "EXISTS / NOT-EXISTS multi-self-join planned as LeftSemi + "
        "LeftAnti on the orderkey equi-key with the suppkey<>suppkey "
        "conjunct attached as a join residual — no cartesian product, and "
        "the 'late' relation computes once per side from a pushed-filter "
        "scan (status F, shipdate>orderdate)."
    ),
    "pagerank": (
        "Pregel supersteps as relational ops: the persisted edge table is "
        "`InMemoryTableScan`-ed once per iteration; the rank-vector side of "
        "each superstep join is `BroadcastHashJoin` at this SF (AQE decides; "
        "at web scale it degrades to a node-keyed shuffle join — the "
        "canonical cost). One `HashAggregate` pair (partial + final) per "
        "superstep carries the contribution sums; integer arithmetic means "
        "no accumulation-order sensitivity anywhere in the plan."
    ),
    "triangles": (
        "The quadratic step (per-day user pairing) happens AFTER the "
        "active-days pruning aggregate, so the self-join input is the "
        "qualified-user slice only. The oriented edge table is persisted "
        "and scanned three times (e1/e2/e3); wedge join + closing join are "
        "both key-shuffles bounded by the degree orientation, never a "
        "cartesian."
    ),
    "kmv_distinct": (
        "Sketch build = one `HashAggregate` dedup of (group, hash) with "
        "partial aggregation map-side, then two bounded `WindowGroupLimit`-"
        "class windows (salted stage caps candidates at salts*k per group). "
        "No data-proportional state reaches any single task."
    ),
    "dsir_weights": (
        "The exploded bigram table persists once (skinny id/flag/bucket "
        "rows); bucket scores aggregate over <= n_buckets keys and come "
        "back as a `BroadcastHashJoin` — the corpus-side pass is "
        "embarrassingly parallel, and nothing shuffles more than the "
        "1024-row score table plus per-doc partial sums."
    ),
    "funnel": (
        "Each funnel step is a conditional-min `HashAggregate` over the "
        "events scan joined to the previous step's per-user frame — k "
        "user-keyed shuffles for k steps, all partial-aggregated; no "
        "per-user window over raw events anywhere."
    ),
    "scd2": (
        "One full-outer `SortMergeJoin` on the dimension key between the "
        "current slice and the snapshot; closed history rows bypass the "
        "join entirely through the union. Column pruning cuts both scans "
        "to key+tracked columns."
    ),
    "collocations": (
        "Two vocabulary-keyed `HashAggregate`s (pair counts, unigram "
        "counts) with map-side combine; the unigram joins come back as "
        "`BroadcastHashJoin`s CHOSEN BY AQE at this scale (no forced "
        "hint — a web-scale vocabulary degrades to a shuffle join "
        "instead of OOMing the driver), and the score arithmetic runs "
        "in decimal(38,0), overflow-free at any corpus size."
    ),
    "bloom_join": (
        "The probe scan carries the Arrow bit-test `Filter` (ArrowEvalPython "
        "over two JVM-side xxhash64 columns) BELOW the join: only the ~20% "
        "of rows that pass the 1 MiB broadcast mask reach the semi-join. "
        "The verify join itself broadcasts here (small build); at the "
        "too-big-to-broadcast scale it becomes an SMJ whose shuffle volume "
        "the mask has already cut 5x. (Constraint propagation mirrors the "
        "bit-test onto the build side too — semantically a no-op, since "
        "every build key is in its own mask, and one extra vectorized pass.)"
    ),
    "bpe_pairs": (
        "Two `HashAggregate` pairs with map-side combine: corpus->vocab "
        "(the only corpus-sized shuffle) then vocab->pair counts. The "
        "char-pair `Generate` sits between them, so its input is "
        "vocabulary-bounded — replicating the corpus 10x leaves the "
        "explode's row count unchanged."
    ),
    # --- round-7 pending entries (pending_queries.py) ---
    "bpe_encode_counts": (
        "The merge-table fold (`aggregate(...)` over the bound literal "
        "array) runs AFTER the distinct-word `HashAggregate`, so the "
        "n-merge encoder executes once per DISTINCT word, not per "
        "occurrence; the only corpus-sized exchanges are the (doc, word) "
        "groupBys, both map-side partial. Merge count changes the "
        "expression, never the plan shape."
    ),
    "doc_chunks": (
        "Zero `Exchange` operators: split -> sequence -> `Generate` "
        "(posexplode) -> slice is a pure narrow pipeline inside one "
        "WholeStageCodegen span — a 100 TB corpus chunks at scan speed "
        "with output partitioning inherited from the scan."
    ),
    "tfidf_topk": (
        "One tokenize explode feeds both the (doc, token, tf) aggregate "
        "and the token-keyed df aggregate (both map-side partial); the "
        "corpus count broadcasts; the per-doc top-k window partitions by "
        "doc_id — bounded by each doc's distinct terms, never a global "
        "sort."
    ),
    "hll_distinct_bound": (
        "`approx_count_distinct` (HLL++ partials) and the exact distinct "
        "audit share one group-keyed aggregation pass — the production "
        "shape drops the audit column and keeps the single-scan sketch."
    ),
    "corpus_split": (
        "One codegen CASE over a salted md5 bucket, zero `Exchange` — "
        "split assignment at scan speed, and the content-addressed "
        "bucket makes it growth-stable (no sort/row_number scheme can "
        "promise that)."
    ),
    "corpus_shuffle": (
        "Column-pruned scan (only the id when only ids are selected), "
        "ONE hash exchange on the content-addressed shard id, then a "
        "per-shard sort + row_number window — the sort any shard writer "
        "pays anyway. No sampling pass (the determinism contract forbids "
        "repartitionByRange), no global window, no Python."
    ),
    "lm_word_score": (
        "Skinny (id, ctx, nxt) word-bigram rows via zip-of-two-slices; "
        "the fixed model and its floors projection both "
        "`BroadcastHashJoin` (left) so the corpus never shuffles for "
        "scoring; one map-side-combinable aggregation back to per-doc "
        "means. The doc text itself stays in the scan stage."
    ),
    "lm_backoff_score": (
        "THREE broadcast left joins (orders 3/2/1 of the vocab-bounded "
        "model) feed one coalesce — the stupid-backoff cascade as pure "
        "codegen; per-trigram scores become integer micro-nats BEFORE "
        "the aggregate, so the sum is associative and the cross-engine "
        "value is exact (a float avg drifted a ULP). No corpus shuffle."
    ),
    "split_leakage": (
        "The text reduces to md5 map-side (skinny rows into the ONE "
        "groupBy); every aggregate is partial/map-side-combinable and "
        "the output is bounded by duplicate-group count, not corpus "
        "size. The split CASE is the same zero-Exchange codegen "
        "projection as corpus_split."
    ),
    # --- round-8 pending entries (pending_queries.py) ---
    "split_leakage_near": (
        "The MinHash-LSH pair detector dominates and keeps its bucketed "
        "shape (band self-join on skinny (id, bucket) rows, hot-bucket "
        "cap, verify-once); the split labels are NOT joined back — the "
        "content-addressed split CASE re-evaluates as a codegen "
        "projection on each surviving pair side, so cross-split "
        "filtering adds zero exchanges to the detector's plan."
    ),
    "lm_word_buckets": (
        "The backoff scorer's three broadcast joins + integer micro-nat "
        "aggregate feed the bucket step unchanged; the tercile cutoffs "
        "come from the BOUNDED calibration slice (single-partition "
        "window over <= LM_CAL_DOCS rows, never the corpus), broadcast "
        "back as one row — the corpus side of bucketing is a pure "
        "comparison, embarrassingly parallel."
    ),
    "source_cap": (
        "One window per stratum keyed on the salted content hash, and "
        "the rank-<=-N filter plans as `WindowGroupLimit` (asserted in "
        "test_sampling): each map task pre-prunes to its local top-N "
        "per stratum BEFORE the exchange, so a 10k-page domain ships N "
        "rows, not 10k — the day_limit shape on the documents table."
    ),
    "nb_quality": (
        "The (<= vocab_size)-row model `BroadcastHashJoin`s (left) "
        "against the exploded tokens — the text column is projected "
        "away before the only exchange, a partial-aggregated groupBy "
        "of skinny (id, micro) LONG rows; per-token weights become "
        "integer micro-nats before the sum (associative, engine-exact) "
        "and the mean is one fixed-order division. A linear classifier "
        "whose hot path is entirely codegen — no Python anywhere."
    ),
    "prototype_prune": (
        "Nearest-centroid assignment is the broadcast join + a "
        "partial-aggregated max_by groupBy (one skinny row per id "
        "survives map-side combine); the prune itself adds exactly one "
        "more exchange — the per-cluster window over (id, cluster, cos) "
        "rows, the embedding column projected away first. Keep verdicts "
        "are pure 64-bit integer ppm arithmetic inside the same window "
        "stage."
    ),
    "corpus_stats": (
        "ONE aggregation job: the token/char/digest projections are "
        "codegen map-side work, the groupBy keys on the bounded source "
        "set with partial aggregation, and the only distinct-sized "
        "shuffle is the skinny (source, md5) pairs for the exact "
        "unique count — `distinct='approx'` (HLL++) removes even that "
        "at 100 TB. Output rows = number of sources, metadata-sized."
    ),
    "curriculum_shuffle": (
        "corpus_shuffle's plan plus one bounded count aggregation (the "
        "phase census — driver collect bounded by the phase count) and "
        "a broadcast join of the P-row allocation table; the shard "
        "expression stays pure integer codegen and the only "
        "corpus-sized exchange remains the per-shard position window. "
        "Phase ranges come from exact counts, so the plan has no "
        "sampling pass and honors the any-parallelism contract."
    ),
    # --- round-9 pending entries (pending_queries.py) ---
    "lang_nb": (
        "The dense (vocab x langs) model BroadcastHashJoins against the "
        "exploded char n-grams of a BOUNDED text slice (max_chars caps "
        "per-doc fan-out); every exchange after that carries skinny "
        "rows bounded by docs x n_langs — the per-(doc, lang) "
        "partial-aggregated micro-nat sums, the (id, n_total) x langs "
        "side, and the argmax window, which plans as WindowGroupLimit "
        "so the top-1 prune happens map-side before its exchange. The "
        "text column never shuffles; scores are integer micro-nats "
        "(engine-exact argmax)."
    ),
    "normalize_text": (
        "A pure codegen regexp_replace chain — one narrow projection, "
        "zero exchanges, zero Python. The scan must show only "
        "(doc_id, text) in ReadSchema; there is nothing else to keep."
    ),
    "hash_embed": (
        "One narrow explode (Generate) feeds a partial-aggregated "
        "groupBy on (id, dim-index) — map-side combine collapses token "
        "repeats BEFORE the exchange, so at most docs x dim skinny "
        "LONG rows ship — then one more (id)-keyed exchange assembles "
        "the map and the dense normalized array is a codegen "
        "transform. The join back to docs is AQE-adaptive (broadcast "
        "at small SF, SMJ at scale); the text column never shuffles."
    ),
    # --- round-11 pending entries (pending_queries.py) ---
    "decontam_fuzzy": (
        "Cross-corpus minhash: the benchmark's band table and shingle "
        "sets are benchmark-sized and must appear as "
        "BroadcastHashJoins; the corpus side's only wide exchanges are "
        "the signature hash-aggregate (partial min() combine per "
        "permutation) and the candidate-bounded verification join back "
        "to the persisted corpus shingle sets. The corpus text column "
        "never shuffles, and no exchange carries shingle arrays except "
        "the candidate-verify input."
    ),
    "repeat_ngrams": (
        "One Generate explodes every (n, gram) struct from a single "
        "projection (per-length generators gated on word count), the "
        "(doc, n, gram) count partial-aggregates map-side, and the "
        "per-doc rollup is conditional aggregation over skinny count "
        "rows — two exchanges total, both bounded by distinct "
        "(doc, n, gram) keys; the final fraction projection joins one "
        "skinny stats table back to (doc_id, total_chars). No window "
        "functions, no Python."
    ),
    "unigram_counts": (
        "The bpe_token_counts dictionary shape: corpus-sized work is "
        "the codegen chunk-explode + (id, chunk) groupBy; the Viterbi "
        "pandas UDF runs once per DISTINCT chunk (vocabulary-bounded, "
        "never per occurrence — the UDF-slow-path rule doesn't bite), "
        "and the per-doc totals are one more partial-aggregated "
        "groupBy. Lattices are bounded by max_word_len chunking, which "
        "is also what makes the oracle's fixed-depth SQL DP exist."
    ),
    # --- CDX index write path (parse -> filters -> day limit; merge) ---
    "cdx_index": (
        "The cluster build's write path, parse_cdx -> cdx_filter -> "
        "global_wayback_filter -> day_limit: the line is tokenized in ONE "
        "projection (plus the token-count filter) under the `Generate "
        "inline(...)` barrier, and every filter above it reads the typed "
        "columns. Without the barrier Catalyst substituted "
        "`split(regexp_replace(value, ...))` into each pushed-down "
        "predicate (52 copies)."
    ),
    "merge_daylimit": (
        "merge_clusters with a day limit is ONE `Exchange "
        "rangepartitioning` on the key alone: the day-limit window's "
        "(key, day) distribution (and dedup's whole-row one) is already "
        "satisfied, so `WindowGroupLimit` + `Window` + the final "
        "within-partition sort run in the exchange's reduce stage. A key "
        "never straddles two output files."
    ),
}


def _cdx_index(spark, _sf_dir):
    """The cluster build's index pipeline over the registry's CDX lines."""
    from ia_hadoop_tools_spark.driver_queries import CDX_FIXTURE_LINES
    from ia_hadoop_tools_spark.operators.daylimit import day_limit
    from ia_hadoop_tools_spark.operators.filters import cdx_filter, global_wayback_filter
    from ia_hadoop_tools_spark.operators.parse import parse_cdx

    lines = spark.createDataFrame([(l,) for l in CDX_FIXTURE_LINES], "value: string")
    return day_limit(global_wayback_filter(cdx_filter(parse_cdx(lines))), n=5)


def main() -> None:
    from ia_hadoop_tools_spark.driver_queries import QUERIES as _REGISTRY
    from ia_hadoop_tools_spark.pending_queries import PENDING_QUERIES
    from ia_hadoop_tools_spark.session import get_spark

    QUERIES = {**_REGISTRY, **PENDING_QUERIES, "cdx_index": _cdx_index}
    spark = get_spark("dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    out = [
        "# PLANS — physical-plan evidence for headline queries",
        "",
        f"Generated by `scripts/dump_plans.py` at sf_dir={SF_DIR}. Regenerate",
        "after operator changes; the commentary states the property each plan",
        "must keep (the thing to re-check before shipping a change).",
        "",
    ]
    for name, why in COMMENTARY.items():
        df = QUERIES[name](spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df._jdf.queryExecution(), "simple"
        )
        out += [f"## {name}", "", why, "", "```", plan.rstrip(), "```", ""]
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "PLANS.md"), "w", encoding="utf-8") as fh:
        fh.write("\n".join(out))
    print(f"PLANS.md written ({len(COMMENTARY)} plans)")
    spark.stop()


if __name__ == "__main__":
    main()
