"""Physical-plan regression audit: FileScan counts stay bounded.

Spark inlines every CTE reference, so a WITH subtree referenced N times
plans N times — the round-3 audit caught minhash banding at 18 FileScans
(8 s -> 150 s at SF0.1), the funnel at 14, and IVF/SemDeDup re-running the
whole k-means chain per reference. These bounds pin the fixed shapes;
plan-building only (no execution), so the whole file runs in seconds.
"""

from __future__ import annotations

import pytest

# entry -> max allowed parquet FileScans in the executed plan
SCAN_BOUNDS = {
    "dedup_minhash_lsh": 4,
    "dedup_incremental_batch": 5,
    "dedup_edit_distance": 6,
    "dedup_simhash_pairs": 4,
    "dedup_embedding_cosine": 4,
    "funnel_view_click_purchase": 1,
    "semdedup_clusters": 0,   # reads the materialized _km_cells views
    "ann_ivf_topk": 3,        # probe/query/candidate sides of embeddings
    "exact_substring_dedup": 2,
    "dedup_exact": 1,
    "text_quality": 1,
    "cdc_apply_changes": 2,   # ordered CTE feeds stats + last-change sides
    "sample_domain_cap": 1,   # two-phase salted top-N reads documents once
    # exact arm (q + c) + probe/ivf query sides; index via _km views. All
    # but the exact-arm candidate scan carry the pushed vec_id < N_QUERIES
    # filter, so only one full corpus read remains.
    "ann_recall_at_k": 5,
    "dedup_lsh_quality": 4,  # sampled chain: LSH arm x2 + truth arm x2
    "dedup_simhash_quality": 2,   # fp subtree reused via exchange reuse
    "mixture_domain_cap_shift": 1,
    "text_novelty_ratio": 2,      # exploded shingles + first-occurrence side
    "event_path_trigrams": 1,
    "mixture_source_gini": 1,
    "skew_key_report": 1,
    "ann_probe_sweep": 5,         # exact arm (q+c) + probe/sweep query sides
    "dedup_embedding_quality": 5,  # sampled sig/cand/truth arms (pushed filter)
    "event_gap_histogram": 1,
    # pos CTE inlines into the eval-set + hits sides, + final doc join
    "contamination_span_max": 3,
    "embedding_dim_stats": 1,
    "user_recency_weighted_value": 2,  # 1-row ref-date scan + scored scan
    "mm_frame_dedup": 1,  # one scan -> mapInPandas -> one agg shuffle
    # one scan per power iteration (exchange reuse covers v1's two refs)
    "embedding_top_component": 2,
    # token explode feeds train counts + scoring; exchange reuse folds the
    # counts/stats/odds subtree, leaving the two token scans (r6)
    "text_nb_quality_classifier": 3,
    # r6 wave 2: sketch/hash subtrees fold under exchange reuse
    "sketch_set_overlap": 3,        # distinct-hash scan + pair spine
    "text_bigram_logprob": 5,       # toks x2 + bigram model sides
    "pagerank_event_graph": 3,      # edges + nodes (iterations reuse edges)
    "timeseries_interpolate": 3,    # daily + bounds-spine sides
    "anomaly_daily_zscore": 2,      # daily subtree reused via exchange
    "dedup_ssjoin_prefix": 4,       # shingle explode + prefix/verify sides
}


@pytest.mark.parametrize("name", sorted(SCAN_BOUNDS))
def test_scan_count_bounded(spark, sf_dir, name):
    import __spark_entry__ as entry_mod

    fn = entry_mod.queries()[name]
    df = fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    scans = plan.count("FileScan parquet")
    assert scans <= SCAN_BOUNDS[name], (
        f"{name}: {scans} FileScans (bound {SCAN_BOUNDS[name]}) — a CTE "
        f"reference is re-inlining an expensive subtree; see README "
        f"'CTE-inlining audit'"
    )


def test_power_iteration_plan_stays_folded(spark, sf_dir):
    """embedding_top_component's Spark side is the array-fold form (r10):
    the 64-dim unrolled original produced a 253 KB formatted plan whose
    Catalyst analysis + codegen dominated the entry (~4 s at sf0.01 for
    milliseconds of data work — tools/probe_r10_decomp.json). Pin the plan
    size so an edit can't silently reintroduce per-column 64-term chains;
    results are oracle-pinned (the DuckDB side keeps the unrolled text)."""
    import __spark_entry__ as entry_mod

    df = entry_mod.queries()["embedding_top_component"](spark, sf_dir)
    formatted = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert len(formatted) < 80_000, (
        f"embedding_top_component plan is {len(formatted)} chars — the "
        "unrolled expression tree is back (fold form plans at ~23 KB)"
    )


def test_merge_pruned_slice_partition_prunes(spark, tmp_path, monkeypatch):
    """The bucket-pruned MERGE's target scan must read exactly the touched
    buckets' listed files (read-side twin of the byte-identity write test,
    VERDICT r7 #2). Pinned by executing a pruned MERGE and checking the
    files its target scan binds against the catalog's list."""
    from bemidb_spark.pgcompat import dml as dml_mod
    from bemidb_spark.pgcompat.session import PgSession
    from bemidb_spark.sources.catalog import Catalog, bucket_of
    from bemidb_spark.sources.writer import _bucket_expr, write_bucketed_table

    cat = Catalog(str(tmp_path / "wh"))
    base = spark.range(400).selectExpr("id AS k", "id AS n")
    write_bucketed_table(spark, cat, "public", "pp", base, ["k"], n_buckets=8)
    listed = cat.files("public", "pp")
    touched = [r[0] for r in spark.createDataFrame([(3,)], "k bigint")
               .select(_bucket_expr(["k"], 8).alias("b")).collect()]

    scans = []

    def spy(*args):
        files, df = dml_mod.bucket_slice.__wrapped__(*args)
        scans.append((files, df))
        return files, df

    spy.__wrapped__ = dml_mod.bucket_slice
    monkeypatch.setattr(dml_mod, "bucket_slice", spy)
    pg = PgSession(spark, cat)
    pg.execute("CREATE TABLE ppd AS SELECT CAST(3 AS BIGINT) AS k, "
               "CAST(30 AS BIGINT) AS n")
    pg.execute("MERGE INTO pp USING ppd d ON pp.k = d.k "
               "WHEN MATCHED THEN UPDATE SET n = d.n")
    pg.dispose()
    assert dml_mod.LAST_MERGE_REGIME == "pruned"
    assert len(scans) == 1
    files, df = scans[0]
    want = [f for f in listed if bucket_of(f) in touched]
    assert files == want and 0 < len(want) < len(listed)
    # the scan binds those files and nothing else: no directory listing
    assert sorted(f.replace("file://", "") for f in df.inputFiles()) == sorted(want)


# Entries whose generators were switched to OUTER explode in r9: the plain
# form let InferFiltersFromGenerate add a size(arr)>0 filter that predicate
# pushdown rewrote into the FULL shingle/bigram pipeline and pushed below
# the repartition — re-running the expensive per-row work a second/third
# time at raw-scan (single-file = single-task) parallelism. Measured:
# dedup_minhash_lsh 2.15 s -> 0.70 s at sf0.1. This pins the fix: no Filter
# node in the executed plan may contain the shingle-pipeline expression.
_NO_INFERRED_SHINGLE_FILTER = [
    "dedup_minhash_lsh",
    "dedup_lsh_quality",
    "dedup_incremental_batch",
    "dedup_ssjoin_prefix",
    "text_novelty_ratio",
    "text_bigram_logprob",
    "decontaminate_eval_overlap",
    "contamination_span_max",
    "repetition_filter",
    "bigram_familiarity",
    "exact_substring_dedup",
]


@pytest.mark.parametrize("name", sorted(_NO_INFERRED_SHINGLE_FILTER))
def test_no_inferred_filter_reruns_shingle_pipeline(spark, sf_dir, name):
    import __spark_entry__ as entry_mod

    df = entry_mod.queries()[name](spark, sf_dir)
    # explainString carries full Filter conditions; scan every Filter
    # condition line for the shingle-pipeline marker
    formatted = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    for line in formatted.splitlines():
        if line.startswith("Condition"):
            assert "transform(sequence" not in line, (
                f"{name}: an inferred filter re-evaluates the shingle "
                f"pipeline — a Generate lost its OUTER (see dedup._minhash_sql)"
            )
