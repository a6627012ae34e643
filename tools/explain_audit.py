"""Plan audit: capture formatted physical plans for flagship queries
and ASSERT the scale-critical properties the docs claim — filters
pushed to the parquet scan, column-pruned ReadSchema, broadcast joins
for dimension tables, no cartesian products in dedup, whole-stage
codegen in the relational surface. Writes EXPLAIN.md.

Usage: python tools/explain_audit.py [sf_dir]
Exit code 1 if any assertion fails.
"""

from __future__ import annotations

import functools
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from vector_database_spark import get_spark
from vector_database_spark import workload


def formatted_plan(df) -> str:
    spark = df.sparkSession
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return df._jdf.queryExecution().explainString(mode)


CHECKS = {
    # query -> (must_contain, must_not_contain, note)
    "r01_q1_agg": (
        ["PushedFilters: [IsNotNull(l_quantity), LessThan(l_quantity,50"],
        ["CartesianProduct"],
        "the quantity filter reaches the parquet scan (no full-table read)",
    ),
    "r02_join_revenue": (
        ["BroadcastHashJoin"],
        ["CartesianProduct", "SortMergeJoin"],
        "dimension side broadcasts; the big table never shuffles for the join",
    ),
    "r17_shipping_priority": (
        ["PushedFilters", "BroadcastHashJoin"],
        ["CartesianProduct"],
        "TPC-H Q3 shape: selections below the joins, dims broadcast",
    ),
    "d02_dedup_minhash_lsh": (
        [],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
        "LSH candidate generation is an equi-join — never quadratic",
    ),
    "t01_token_stats": (
        ["ReadSchema: struct<doc_id:bigint,text:string>"],
        ["BatchEvalPython", "ArrowEvalPython"],
        "column-pruned scan, JVM expressions only (no Python eval in "
        "the plan; the array lambdas are interpreted JVM, the "
        "documented trade-off)",
    ),
    "r24_asof_nearest": (
        ["Window"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin"],
        "nearest as-of = ONE union + ONE key-sorted window pass — no "
        "per-row probe join in the plan at all",
    ),
    "t07_tfidf_top_terms": (
        ["ReadSchema: struct<doc_id:bigint,text:string>"],
        ["CartesianProduct", "BatchEvalPython", "ArrowEvalPython"],
        "tf-idf: column-pruned scan, JVM aggregates, no Python eval",
    ),
    "s04_count_min": (
        [],
        ["CartesianProduct", "SortMergeJoin"],
        "count-min probe joins the fixed-size sketch via broadcast, "
        "never a shuffle of the big side",
    ),
    "s05_histogram": (
        ["HashAggregate", "ReadSchema: struct<l_extendedprice"],
        ["CartesianProduct", "Sort"],
        "histogram: column-pruned scan into ONE map-side-combined "
        "aggregate; the only exchange carries <= 32 partial-bin rows "
        "per mapper (no sort anywhere)",
    ),
    "p02_decontaminate": (
        ["BroadcastHashJoin"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
        "decontamination: benchmark shingles broadcast — the training "
        "side never shuffles for the overlap join",
    ),
    "t08_domain_stats": (
        ["ReadSchema: struct<text:string,lang:string,"
         "source:string,n_chars:bigint>"],
        ["CartesianProduct", "BatchEvalPython", "ArrowEvalPython",
         "SortMergeJoin"],
        "domain profile: single scan feeds quality + token metrics, "
        "JVM-only expressions, no shuffle join of the doc table",
    ),
    "p04_chunk_documents": (
        ["ReadSchema: struct<doc_id:bigint,text:string>"],
        ["Exchange", "CartesianProduct", "BatchEvalPython",
         "ArrowEvalPython"],
        "chunking: zero-shuffle narrow projection — tokenize, "
        "sequence/explode chunk starts, slice; nothing leaves the "
        "input partitioning",
    ),
    "t10_pii_scrub": (
        ["ReadSchema: struct<doc_id:bigint,text:string>"],
        ["Exchange", "CartesianProduct", "BatchEvalPython",
         "ArrowEvalPython"],
        "PII scrub: pure JVM regexp projection, no shuffle at all",
    ),
    "t11_hashing_embed": (
        ["ReadSchema: struct<doc_id:bigint,text:string>",
         "HashAggregate"],
        ["CartesianProduct", "BatchEvalPython", "ArrowEvalPython",
         "SortMergeJoin"],
        "feature-hashing embed: column-pruned scan into two map-side "
        "hash aggregates, JVM-only expressions, norm join broadcast",
    ),
    "e07_ewma": (
        ["HashAggregate", "Window"],
        ["CartesianProduct", "BatchEvalPython", "ArrowEvalPython",
         "SortMergeJoin", "BroadcastHashJoin"],
        "EWMA (bounded two-stage chunked fold): ONE key-partitioned "
        "window assigns row numbers (external sort — spills, never "
        "OOMs on a hot key), then per-(key,chunk) and per-key hash "
        "aggregates whose buffers are capped by chunk_rows; no joins",
    ),
    "e08_hypertable_rollup": (
        ["ReadSchema: struct<event_id:bigint,ts:timestamp_ntz,"
         "event_type:string,value:double>"],
        ["CartesianProduct", "BatchEvalPython", "ArrowEvalPython",
         "Window", "SortMergeJoin"],
        "hypertable rollup (OHLC shape): column-pruned scan into two "
        "map-side-combined aggregates (minute then hour), raw data "
        "scanned once, no windows, no joins; the struct first/last "
        "state uses Spark's sort-based aggregation fallback — "
        "first_last=False stays pure HashAggregate (asserted in "
        "tests/test_timeseries.py)",
    ),
    "a04_sq8": (
        [],
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython",
         "ArrowEvalPython"],
        "SQ8: the min/max training aggregate is the only exchange "
        "(bounded by dims); encode+error is a zero-shuffle projection "
        "with the stats closed over as literals, never a join",
    ),
    "a07_filtered_knn": (
        ["BroadcastHashJoin Inner BuildRight", "Right keys [1]: [cell#",
         "OR ((vec_id#"],
        ["CartesianProduct", "SortMergeJoin"],
        "filtered IVF: the (qid, cell) probe frame broadcasts into an "
        "equi-join on `cell` with the assigned table, and the "
        "predicate is evaluated on the scan's own columns, below the "
        "assignment projection — the distance fold only sees "
        "qualifying rows",
    ),
    "a08_knn_join": (
        ["Left keys [1]: [cell#"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "BuildRight"],
        "kNN join: candidates come from an equi-join of the probes "
        "(left) and the corpus members (right) on `cell` — never a "
        "cross product, and the corpus side never builds a broadcast",
    ),
    "e09_gapfill": (
        ["Window"],
        ["CartesianProduct", "BroadcastNestedLoopJoin",
         "BatchEvalPython", "ArrowEvalPython"],
        "gapfill: dense grid via sequence+explode equi-joined to the "
        "rollup (never a cross join), locf/interp as key-partitioned "
        "windows, JVM-only",
    ),
    "e10_funnel": (
        # struct-typed min buffers fall back to SortAggregate (the
        # repo's measured aggregation-buffer rule) — still O(1) state
        ["SortAggregate"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "Window",
         "BatchEvalPython", "ArrowEvalPython"],
        "funnel (bounded conditional-min chain): per-step min "
        "aggregates with O(1) buffers chained through equi-joins on "
        "the user key — no per-key event lists, no windows; a hot "
        "key costs scan time, never memory",
    ),
    "e11_retention": (
        ["HashAggregate"],
        ["CartesianProduct", "BroadcastNestedLoopJoin",
         "BatchEvalPython", "ArrowEvalPython"],
        "retention: distinct + per-user min + user-keyed join + one "
        "count-distinct — all equi-keyed, no quadratic step",
    ),
    "p06_zorder": (
        ["ReadSchema: struct<o_orderkey:bigint,o_custkey:bigint,"
         "o_orderdate:timestamp_ntz>"],
        ["Exchange", "CartesianProduct", "SortMergeJoin",
         "BatchEvalPython", "ArrowEvalPython"],
        "z-order codes: column-pruned scan into a zero-shuffle flat "
        "integer shift/mask projection (bounds pre-collected, closed "
        "over as literals)",
    ),
    "e14_seasonal_profile": (
        ["HashAggregate", "BroadcastHashJoin"],
        ["CartesianProduct", "Window", "SortMergeJoin",
         "BatchEvalPython", "ArrowEvalPython"],
        "seasonal profile: two hash aggregates + the tiny profile "
        "broadcast back — no windows, no big-side shuffle join",
    ),
    "e15_transitions": (
        ["Window", "HashAggregate"],
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython",
         "ArrowEvalPython"],
        "transition matrix: one key-partitioned lead window + one "
        "map-side-combinable aggregate over |types|^2 rows",
    ),
    "r26_scd2_intervals": (
        ["Window"],
        ["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin",
         "HashAggregate", "BatchEvalPython", "ArrowEvalPython"],
        "SCD2 intervals: ONE window (lead + row_number share the "
        "frame) — no joins, no aggregates, one sort per key partition",
    ),
    "p07_shards": (
        ["HashAggregate"],
        ["CartesianProduct", "Window", "SortMergeJoin",
         "BroadcastHashJoin", "BatchEvalPython", "ArrowEvalPython"],
        "sharding: zero-shuffle md5 projection + one profile "
        "aggregate; the physical shuffle happens only at write time "
        "on the shard key",
    ),
    "p08_pack_sequences": (
        ["FlatMapGroupsInPandas"],
        ["CartesianProduct", "Window", "SortMergeJoin",
         "BroadcastHashJoin"],
        "sequence packing: token counts are JVM expressions computed "
        "BEFORE the shuffle, so the single exchange moves only "
        "(id, shard, n_tok) rows — never the text — into the "
        "per-shard greedy kernel",
    ),
    "t14_bpe_encode": (
        ["MapInPandas", "ReadSchema: struct<doc_id:bigint,text:string>"],
        ["CartesianProduct", "Exchange", "Window"],
        "BPE encoding under a fixed vocab: ONE Arrow kernel pass over "
        "a column-pruned scan, zero shuffles",
    ),
    "v23_mmr_rerank": (
        ["FlatMapGroupsInPandas"],
        ["SortMergeJoin"],
        "MMR re-rank: one applyInPandas group per query over a "
        "bounded pool (the greedy loop is sequential per query, "
        "parallel across queries); the pool's broadcast-panel cross "
        "join is the deliberate knn scan shape",
    ),
    "s08_drift_chi2": (
        ["HashAggregate", "BroadcastHashJoin"],
        ["CartesianProduct", "Window",
         "BatchEvalPython", "ArrowEvalPython"],
        "drift: two map-side histogram aggregates, totals broadcast "
        "back, ordered fold — no windows, nothing quadratic (the one "
        "sort-merge join is the FULL OUTER bin-coalesce over two "
        "ALREADY-AGGREGATED n_bins×groups tables — bounded rows, "
        "full-outer can't broadcast)",
    ),
    "e16_seasonal_anomaly": (
        ["HashAggregate", "BroadcastHashJoin"],
        ["Window", "CartesianProduct", "SortMergeJoin",
         "BatchEvalPython", "ArrowEvalPython"],
        "seasonal volume anomalies: two map-side-combinable hash "
        "aggregates + the tiny baseline broadcast back — no windows, "
        "raw table scanned once",
    ),
    "p09_temperature_mix": (
        ["Window", "BroadcastHashJoin"],
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython",
         "ArrowEvalPython"],
        "temperature mixing: one per-source hash-rank window + the "
        "tiny quota table broadcast — the draw is the only shuffle",
    ),
    "t16_bm25": (
        ["BroadcastHashJoin", "HashAggregate", "TakeOrderedAndProject"],
        ["CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin",
         "BatchEvalPython", "ArrowEvalPython"],
        "BM25: one token explode into map-side-combinable tf/df/dl "
        "aggregates, df broadcast back, JVM-only expressions — no "
        "quadratic step, no Python eval",
    ),
    "d10_containment": (
        ["BroadcastHashJoin"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin"],
        "containment pairs: inverted-index equi-join candidates, one "
        "intersection count per unordered pair — never an all-pairs "
        "product",
    ),
    "v21_hybrid_rrf": (
        [],
        ["CartesianProduct", "SortMergeJoin"],
        "RRF fusion: union of two slim top-k rank lists + one "
        "aggregate + one per-qid window (the dense leg's broadcast "
        "panel cross join is the deliberate knn scan shape)",
    ),
    "v19_filtered_search": (
        ["% 3) = 0",
         "ReadSchema: struct<vec_id:bigint,embedding:array<float>>"],
        ["SortMergeJoin"],
        "filtered flagship search: the metadata predicate sits as a "
        "Filter directly on the column-pruned vectors scan — applied "
        "before any distance work, under every routing strategy "
        "(mod-arithmetic predicates aren't parquet-pushable, so the "
        "scan-adjacent Filter IS the pushed position)",
    ),
    "m04_image_grid": (
        ["MapInPandas"],
        ["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin",
         "Window", "HashAggregate"],
        "media featurization: generate -> encode -> decode -> "
        "feature entirely inside mapInPandas workers; the only "
        "exchange is the deliberate corpus hash-distribution, and no "
        "aggregate/join touches the payload bytes",
    ),
    "g07_blocked_knn_graph": (
        [],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
        "blocked kNN-graph construction: candidates come from an "
        "equi-join on the IVF cell — never the n^2 product g04's "
        "oracle path deliberately uses, and nothing is collected to "
        "the driver (the round-6 scale fix)",
    ),
    "s09_quantile_sketch": (
        ["MapInPandas"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
        "mergeable quantile sketch: the Arrow pre-reduction cuts each "
        "batch to its per-key bottom-m BEFORE the exchange, counts "
        "join the packed state on the key — nothing quadratic, the "
        "shuffle carries batches x keys x m rows",
    ),
    "e18_rolling_range": (
        ["Window"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin"],
        "time-RANGE rolling aggregate: ONE per-key window pass — "
        "never the range self-join that shuffles |events| x window",
    ),
    "d12_tfidf_cosine": (
        [],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
        "sparse tf-idf cosine: candidates from the inverted-index "
        "equi-join on terms (df-capped), dots per generated pair — "
        "never the doc x doc product",
    ),
    "v24_bq_hamming": (
        ["BroadcastHashJoin"],
        ["CartesianProduct", "SortMergeJoin"],
        "BQ two-stage: Hamming scan against the broadcast query "
        "codes; the rerank joins the tiny candidate set back to the "
        "vectors via broadcast — the corpus never shuffles",
    ),
    "e20_ltob_downsample": (
        ["Window"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin"],
        "LTOB: neighbor lag/lead and the per-bucket argmax are window "
        "passes over one partitioned sort — no self-join",
    ),
    "e21_attribution": (
        ["Window"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin"],
        "last-touch attribution: the as-of-join-without-the-join — "
        "one per-user window carry, zero joins in the plan",
    ),
    "e22_ohlc_bars": (
        [],
        ["Window", "CartesianProduct", "SortMergeJoin",
         "BroadcastNestedLoopJoin"],
        "OHLC bars: ONE mergeable aggregate over the bucketed frame "
        "— no window, no join (the struct open/close carry takes the "
        "documented SortAggregate fallback)",
    ),
    "p10_semantic_decontaminate": (
        ["BroadcastNestedLoopJoin"],
        ["SortMergeJoin", "Window", "CartesianProduct"],
        "semantic decontamination: eval set broadcast against one "
        "train scan (the deliberate knn scan shape); per-train "
        "argmax is an aggregate, never a window — the train side "
        "shuffles only per-train partials",
    ),
    "v26_mips_ivf": (
        ["BroadcastHashJoin"],
        ["CartesianProduct", "SortMergeJoin"],
        "MIPS via norm augmentation: probes broadcast against the "
        "assigned corpus (an equi-join on cell), the corpus never "
        "shuffles for the candidate join; the only crossJoin is the "
        "panel x centroids probe ranking (both broadcast-tiny)",
    ),
    "v27_filtered_mips": (
        ["BroadcastHashJoin"],
        ["CartesianProduct", "SortMergeJoin"],
        "filtered MIPS: the predicate prunes the assigned table "
        "BEFORE the candidate join (filter-then-rank); same "
        "broadcast-probe plan as v26, never a corpus shuffle",
    ),
    "v28_bq_cells": (
        ["BroadcastHashJoin"],
        ["CartesianProduct", "SortMergeJoin"],
        "cell-pruned BQ: the probed-cell candidate stage is an "
        "equi-join of the code table against the broadcast "
        "(qid, cell) probe frame — the code scan covers nprobe "
        "cells, never the whole table, and the corpus never "
        "shuffles; the rerank joins the tiny candidate set back "
        "via broadcast (the v24 tail)",
    ),
    "v30_bq_asym": (
        ["BroadcastHashJoin"],
        ["CartesianProduct", "SortMergeJoin"],
        "asymmetric cell-pruned BQ: same probed-cell equi-join + "
        "broadcast-rerank plan as v28 — the asym estimator swaps "
        "the candidate ordering expression only, never the join "
        "shape; the corpus still never shuffles",
    ),
    "v32_bq_hd": (
        ["BroadcastHashJoin", "shiftright"],
        ["CartesianProduct", "SortMergeJoin", "BatchEvalPython",
         "ArrowEvalPython"],
        "randomized-Hadamard BQ: the HD encode + asym score are pure "
        "Catalyst integer folds (the `shiftright` bit-extract fold "
        "sits in a JVM Project — no Python UDF eval nodes anywhere; "
        "the only Arrow node is the shared results-preserving top-m "
        "pre-reduction) and the probed-cell join / broadcast-rerank "
        "shape is exactly v28/v30's",
    ),
}

# Facade serving-plan checks: plan properties of `VectorDatabase`'s
# per-call serving DataFrames (not workload gates — these need a built
# layout, so each builder constructs a tiny store in a temp dir).
# Keyed like CHECKS but the first element is a (spark, sf_dir) ->
# DataFrame builder instead of a workload name lookup.


def _tiny_store(spark, index_type, **kw):
    """A tiny all-compacted facade store over 80 x 8 synthetic rows in
    2 documents. sf_dir is unused by every facade builder (synthetic
    corpus) — kept for the shared (spark, sf_dir) builder shape."""
    import tempfile

    from pyspark.sql import functions as F

    from vector_database_spark.api import VectorDatabase
    from vector_database_spark.sources.generators import random_uniform

    rows = random_uniform(spark, 80, 8, seed=5).select(
        (F.col("id") % 2).alias("doc_id"),
        F.col("id").alias("text_id"),
        "vector",
    )
    db = VectorDatabase(
        spark, f"{tempfile.mkdtemp()}/s", index_type=index_type, **kw
    )
    db.add_documents(rows)
    return db


def _facade_bq_serving_hd_df(spark, sf_dir, scoring="hamming"):
    """A tiny HD-coded 'bq' facade store; returns the candidate-stage
    DataFrame one `search` call plans."""
    db = _tiny_store(
        spark, "bq", n_cells=4, bq_nprobe=2, bq_route="cells",
        bq_hd_blocks=1, bq_scoring=scoring,
    )
    return db._bq_candidate_ids([0.1] * 8)


def _facade_bsp_search_df(spark, sf_dir):
    """One `search` call's full plan over a tiny all-compacted 'bsp'
    store: the query vector is an inlined literal, so the plan is the
    text scan and the exact distance filter alone."""
    return _tiny_store(spark, "bsp").search([0.1] * 8, 0.6)


def _facade_ivf_search_df(spark, sf_dir):
    """One `search` call's full plan over a tiny all-compacted 'ivf'
    store (round-14 verdict item 3: pin the cached-reader serving
    shape in CI). Centroids and radii are invalidation-cycle-cached
    driver literals — the plan may scan the cell-pruned vectors
    layout and the text table, never the centroid/cells parquets."""
    return _tiny_store(spark, "ivf", n_cells=4).search([0.1] * 8, 0.6)


def _facade_ivfadc_search_df(spark, sf_dir):
    """One `search` call's full plan over a tiny all-compacted
    'ivfadc' store: the cell-pruned candidates come off the codes
    layout, with centroids and radii as cached driver literals."""
    return _tiny_store(spark, "ivfadc", n_cells=4, pq_m=2).search(
        [0.1] * 8, 0.6
    )


def _facade_mips_knn_dot_df(spark, sf_dir):
    """One `knn_dot` call's full plan over a tiny all-compacted
    'mips' store: centroids, radii and the m2 augmentation constant
    are cached driver values (the round-12 rule: no per-call serving
    path may re-read layout metadata parquets)."""
    return _tiny_store(spark, "mips", n_cells=4).knn_dot([0.1] * 8, 5, nprobe=2)


FACADE_CHECKS = {
    "facade_bsp_search_serving": (
        _facade_bsp_search_df,
        ["/s/text]"],
        ["Scan ExistingRDD", "BatchEvalPython", "ArrowEvalPython",
         "BroadcastNestedLoopJoin", "IdentityBroadcastMode", "Exchange",
         "LocalTableScan"],
        "facade 'bsp' search: one query is an inlined literal, so the "
        "plan is the text scan alone — no query table (neither a "
        "`Scan ExistingRDD` over a Python-parallelized list nor a "
        "broadcast LocalTableScan, which under AQE is a Spark job of "
        "its own) and no exchange: one job per call",
    ),
    "facade_ivf_search_serving": (
        _facade_ivf_search_df,
        ["ivf_index/vectors"],
        ["ivf_index/centroids", "ivf_index/cells", "BatchEvalPython",
         "ArrowEvalPython", "CartesianProduct", "Scan ExistingRDD"],
        "facade 'ivf' search: the serving plan scans the cell-pruned "
        "vectors layout + text only — centroid/cells parquets are "
        "cached driver literals, never per-call scans; no "
        "Python-parallelized query panel",
    ),
    "facade_ivfadc_search_serving": (
        _facade_ivfadc_search_df,
        ["ivfadc_index/codes"],
        ["ivfadc_index/centroids", "ivfadc_index/cells",
         "BatchEvalPython", "ArrowEvalPython", "CartesianProduct",
         "Scan ExistingRDD"],
        "facade 'ivfadc' search: the serving plan scans the cell-pruned "
        "codes layout + text only — centroid/cells parquets are cached "
        "driver literals, never per-call scans; no Python-parallelized "
        "query panel",
    ),
    "facade_mips_knn_dot_serving": (
        _facade_mips_knn_dot_df,
        ["mips_index/vectors", "PartitionFilters: [cell#",
         "TakeOrderedAndProject"],
        ["mips_index/centroids", "mips_index/cells",
         "mips_index/mips_meta", "BatchEvalPython", "ArrowEvalPython",
         "Scan ExistingRDD", "BroadcastNestedLoopJoin",
         "IdentityBroadcastMode", "Exchange", "LocalTableScan"],
        "facade 'mips' knn_dot: the probe cells are picked on the "
        "driver from the cached centroids, so the plan scans the stored "
        "layout alone under a static `cell IN (...)` partition filter, "
        "the query is an inlined literal, and the global top-k is a "
        "TakeOrderedAndProject — no metadata parquet, no query or "
        "centroid table, no exchange: one job per call",
    ),
    "facade_bq_serving_hd": (
        _facade_bq_serving_hd_df,
        ["bq_index/codes"],
        ["bq_index/centroids", "bq_index/meta", "BatchEvalPython",
         "ArrowEvalPython", "MapInPandas", "CartesianProduct"],
        "facade 'bq' serving over an HD layout: the candidate plan "
        "scans ONLY the cell-partitioned codes table — centroids and "
        "HD meta are invalidation-cycle-cached driver literals, never "
        "a per-call metadata parquet scan (the round-12 serving rule) "
        "— and the transformed-query Hamming cut is JVM-only",
    ),
    "facade_bq_serving_asym": (
        functools.partial(_facade_bq_serving_hd_df, scoring="asym"),
        ["bq_index/codes", "PartitionFilters: [cell#",
         "TakeOrderedAndProject"],
        ["bq_index/centroids", "bq_index/meta", "MapInPandas",
         "ArrowEvalPython", "BatchEvalPython", "Exchange",
         "LocalTableScan"],
        "facade 'bq' asym serving over an HD layout: the query's "
        "transformed weights are inlined literals of the one asym "
        "fold, so the plan scans the codes table alone under a static "
        "`cell IN (...)` partition filter and cuts the top-m with a "
        "TakeOrderedAndProject — no metadata parquet, no Python "
        "kernel, no query table, no exchange",
    ),
}


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(app_name="explain-audit", extra_conf={"spark.ui.enabled": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    qs = workload.queries()
    out = [
        "# EXPLAIN audit — plan properties the engine promises\n",
        f"Generated by `tools/explain_audit.py` at {sf_dir}. Each query's",
        "formatted physical plan is checked for the properties below;",
        "this file records the verdicts (full plans are long — rerun the",
        "tool to see them).\n",
    ]
    failed = 0
    all_checks = dict(CHECKS)
    all_checks.update(
        {n: (b, m, mn, note) for n, (b, m, mn, note) in FACADE_CHECKS.items()}
    )
    for name, entry in all_checks.items():
        if len(entry) == 4:
            builder, must, must_not, note = entry
            plan = formatted_plan(builder(spark, sf_dir))
        else:
            must, must_not, note = entry
            plan = formatted_plan(qs[name](spark, sf_dir))
        problems = []
        for frag in must:
            if frag not in plan:
                problems.append(f"MISSING `{frag}`")
        for frag in must_not:
            if frag in plan:
                problems.append(f"FORBIDDEN `{frag}` present")
        status = "OK" if not problems else "FAIL: " + "; ".join(problems)
        if problems:
            failed += 1
            print(f"FAIL {name}: {problems}")
            print(plan[:4000])
        else:
            print(f"OK   {name}: {note}")
        out.append(f"- **{name}** — {note}: **{status}**")
    out.append("")
    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "EXPLAIN.md"), "w") as f:
        f.write("\n".join(out))
    print(f"{len(all_checks) - failed}/{len(all_checks)} plan checks OK")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
