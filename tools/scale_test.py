"""Scale-stress: replicate sf0.1 N× (shifted keys, written to /tmp as
multi-file parquet) and compare headline query wall time at 1× vs N×.
Near-linear growth = the plan scales; super-linear growth exposes a
bottleneck (driver work, single hot partition, O(n²) candidate blowup).

    python tools/scale_test.py [N]        # default 10
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, "/root/repo")

import __spark_entry__ as entrymod  # noqa: E402
from gem_data_wrangle_spark import get_spark  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

QUERIES = [
    "agg_sum_groups",
    "expand_years",
    "harmonize_coordinates",
    "window_count_share",
    "split_ownership_equal",
    "gem_coal_pipeline",
    "minhash_lsh_pairs",
    "stream_tumbling_window",
    "chunk_documents",
    "normalized_dedup",
    "json_extract_props",
    # round 4 (VERDICT r3 item 6): the five remaining per-fuel
    # pipelines + the all-8-fuel consolidation capstone — they share
    # run_fuel_pipeline, so a non-flat ratio here indicts a fuel's
    # config knobs, not the kernel
    "gem_nuclear_pipeline",
    "gem_solar_pipeline",
    "gem_wind_pipeline",
    "gem_bioenergy_pipeline",
    "gem_geothermal_pipeline",
    "gem_total_consolidation_all8",
    # round 6: the span/line dedup family — position fan-out is the
    # scale risk (≈ len/16 rows per doc for spans, one row per line
    # for line dedup); a super-linear ratio here indicts the df-gate
    # or the join-back, not the per-doc merge windows
    "duplicate_spans",
    "cut_duplicate_spans",
    "dedup_lines",
    # round 6 continuation: the web-ingestion / training-order family
    # — all narrow or single-exchange shapes, so anything non-linear
    # here indicts per-row work (the html parser, the md5/conv chain),
    # not a shuffle
    "c4_filters",
    "corpus_shuffle",
    "kmeans_assign",
    "warc_html_extract",
    # round 6 continuation: scoring family — unigram_logprob's vocab
    # count and bm25's postings are both partial-combined before their
    # shuffles; kmeans_lloyd adds two bounded k-row collects on top of
    # the narrow assignment, so its ratio tracks the scan
    "kmeans_lloyd",
    "unigram_logprob",
    "bm25_rank",
    # round 6 continuation: DSIR — the lambda table is capped at 4096
    # buckets regardless of corpus size, so the only data-proportional
    # work is the two explode shuffles; a super-linear ratio would
    # indict the per-doc bucket-count groupBy, not the broadcast join
    "dsir_logweights",
    "dsir_resample",
    # round 6 continuation: PQ — encode is a narrow literal-codebook
    # argmin (should track the scan); ADC top-k is corpus×5-probes
    # over the code column + one top-k window
    "pq_encode",
    "pq_topk_adc",
    # round 6 continuation: the newly-oracled maintenance/analytics
    # family — all one-to-two-shuffle shapes; geo fan-out is the
    # latitude-dependent neighbor-cell constant, not data
    "boilerplate_removal",
    "geo_radius_join",
    "resample_events",
    "orders_upsert",
    "scd2_history",
    "blocked_domains",
    # fixed-iteration graph + sliding-frame analytics: pagerank cost =
    # iterations × (edge-join + groupBy) over the edge set; rolling =
    # one window shuffle with span-bounded frame state
    "host_pagerank",
    "rolling_event_sums",
    # heavy hitters: sketch pass (partial-combined, pool-bounded) +
    # exact recount of candidates only
    "heavy_hitter_keys",
    # exact jaccard: prefix-token equi-join fan-out bounded by per-
    # token df; pair OUTPUT is quadratic in near-dup clique size by
    # definition (documented)
    "exact_jaccard_pairs",
    # sparse cosine: posting join fan-out bounded by per-term df
    # (max_df gate at real vocabularies; degenerate-closed-vocab
    # corpus graded at frac=1.0)
    "cosine_pairs",
    # round 7: CDC after the rolling-hash rewrite — narrow mapInPandas,
    # per-byte cost ~2 int ops; a super-linear ratio would indict the
    # Arrow batch shape, not the hash
    "cdc_chunks",
    # round 7 additions: char stats + decontam (narrow/semi-join),
    # event analytics (bounded-frame windows under hot-group growth),
    # OLAP batch (single-exchange aggregates), sketches (bounded
    # register exchanges), MP4 probe (mdat-independent), cleaning
    # (quantile pass + broadcast join-back)
    "char_entropy",
    "script_fractions",
    "ngram_decontaminate",
    "event_zscores",
    "event_funnel",
    "event_transitions",
    "rollup_sum_groups",
    "pivot_event_values",
    "group_value_quantiles",
    "cohort_retention",
    "hll_distinct_counts",
    "hll_union_rollup",
    "mp4_probe",
    "zorder_keys",
    "pairwise_corr",
    "value_histogram",
    "impute_median",
    "winsorized_values",
    "rrf_hybrid_rank",
    "salted_enrich",
    "cube_sum_groups",
    "table_checksum",
    "orders_diff",
    "mean_pool_embeddings",
    # round 9: graph/sketch/quality/streaming-mirror families — the
    # scale risks are the wedge-join fan-out (degree-capped by
    # orientation), the per-key pair fan-out (items-per-key bound),
    # and the dedup-state shuffle; everything else is one-to-two
    # exchange shapes or narrow binary walks
    "host_triangles",
    "sketch_quantiles",
    "constraint_report",
    "windowed_distinct_users",
    "event_cooccurrence",
    "heavy_hitters_batch",
    "incremental_daily_totals",
    "exif_probe",
    "golden_user_profile",
    "privacy_audit",
    "socket_json_tumbling",
    "gif_metadata",
    "doc_readability",
    "kn_doc_scores",
    # round 9 session batch: banded/bucketed candidate joins
    # (simhash bands, containment slot-hash), fixed-iteration graph
    # rounds (LPA), narrow literal projections (JL), and window-median
    # / rank / frame-fold shapes — the scale risks are band-bucket
    # population (controlled by signature bits) and slot-hash heat
    # (boilerplate shingles), both documented on the operators
    "simhash_pairs",
    "mad_outlier_flags",
    "host_communities",
    "jl_sketch",
    "host_assortativity",
    "rank_normalized_values",
    "containment_screen",
    "ewma_event_values",
    "bmp_metadata",
    "benford_audit",
    "cm_user_counts",
]

BASE = "/root/testdata/sf0.1"


def replicate(spark, n: int, out_dir: str) -> None:
    """N copies with shifted keys so group/window cardinalities grow
    with the data (pure replication would multiply group sizes
    instead, which is a different — easier — scaling mode)."""
    os.makedirs(out_dir, exist_ok=True)
    shifts = {
        "lineitem": ("l_orderkey", 10_000_000),
        "orders": ("o_orderkey", 10_000_000),
        "customer": ("c_custkey", 10_000_000),
        "documents": ("doc_id", 10_000_000),
        "embeddings": ("vec_id", 10_000_000),
        "events": ("event_id", 10_000_000),
    }
    from gem_data_wrangle_spark.sources.io import read_ns_timestamp_parquet

    for name in ["lineitem", "orders", "customer", "supplier", "part", "nation",
                 "region", "documents", "embeddings", "events"]:
        src = f"{BASE}/{name}.parquet"
        dst = f"{out_dir}/{name}.parquet"
        if os.path.exists(dst):
            continue
        if name == "events":
            df = read_ns_timestamp_parquet(spark, src, ["ts"])
        else:
            df = spark.read.parquet(src)
        if name in shifts and n > 1:
            key, stride = shifts[name]
            df = df.withColumn("_i", F.explode(F.sequence(F.lit(0), F.lit(n - 1))))
            df = df.withColumn(key, F.col(key) + F.col("_i") * stride).drop("_i")
            # orders.o_custkey must stay joinable to replicated customers
            if name == "orders":
                pass
        df.repartition(max(4, 4 * n)).write.mode("overwrite").parquet(dst)


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    only = sys.argv[2:]  # optional query-name filter; skips the extras
    out_dir = f"/tmp/scale_sf{n}x"
    spark = get_spark("scale-test")
    replicate(spark, n, out_dir)

    qs = entrymod.queries()
    results = {}
    for name in only if only else QUERIES:
        times = {}
        for label, sf_dir in [("1x", BASE), (f"{n}x", out_dir)]:
            t0 = time.time()
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            times[label] = round(time.time() - t0, 2)
        ratio = round(times[f"{n}x"] / max(times["1x"], 1e-9), 1)
        results[name] = {**times, "ratio": ratio}
        print(json.dumps({name: results[name]}))

    if only:
        return

    # semdedup is the one operator whose cost is quadratic in the
    # quantizer CELL size, so the honest scale measurement lets the
    # operator pick its own resolution (dims auto-derived from the
    # corpus count, similarity.auto_grid_dims) — a fixed dims=3 at 30×
    # measures 154× (recorded in SCALE.md as the motivating
    # anti-pattern), the auto-scaled knob stays ~linear with NO manual
    # dims argument here.
    from gem_data_wrangle_spark.operators import dedup as Dd  # noqa: PLC0415

    times = {}
    for label, sf_dir in [("1x", BASE), (f"{n}x", out_dir)]:
        t0 = time.time()
        Dd.semdedup(
            spark.read.parquet(f"{sf_dir}/embeddings.parquet"),
            "embedding", "vec_id",
        ).write.format("noop").mode("overwrite").save()
        times[label] = round(time.time() - t0, 2)
    results["semdedup (resolution-scaled)"] = {
        **times, "ratio": round(times[f"{n}x"] / max(times["1x"], 1e-9), 1)
    }
    print(json.dumps({"semdedup (resolution-scaled)": results["semdedup (resolution-scaled)"]}))

    # tf_idf hot-term skew case (VERDICT r3 item 2): N× the documents
    # with one term injected into 50% of them, timed under both
    # document-frequency strategies. The window mode funnels every
    # (doc, hot-term) row through ONE task (count grows with df); the
    # agg_join default keeps per-task work bounded (map-side partial
    # combine + broadcast join-back) at the price of a second corpus
    # pass. Wall times + the hot task's row count are printed so the
    # crossover stays measured, not asserted.
    from gem_data_wrangle_spark.operators.textops import tf_idf  # noqa: PLC0415

    hot_dir = f"{out_dir}/documents_hot.parquet"
    docs = spark.read.parquet(f"{BASE}/documents.parquet")
    if not os.path.exists(hot_dir):
        big = (
            docs.withColumn("_i", F.explode(F.sequence(F.lit(0), F.lit(n - 1))))
            .withColumn("doc_id", F.col("doc_id") + F.col("_i") * 10_000_000)
            .drop("_i")
            .withColumn(
                "text",
                F.when(
                    F.col("doc_id") % 2 == 0,
                    F.concat(F.col("text"), F.lit(" zzhot")),
                ).otherwise(F.col("text")),
            )
        )
        big.repartition(max(4, 2 * n)).write.mode("overwrite").parquet(hot_dir)
    hot = spark.read.parquet(hot_dir)
    for mode in ("agg_join", "window"):
        t0 = time.time()
        tf_idf(hot, "text", "doc_id", df_mode=mode).write.format("noop").mode(
            "overwrite"
        ).save()
        results[f"tfidf hot-term ({mode})"] = {f"{n}x": round(time.time() - t0, 2)}
        print(json.dumps({f"tfidf hot-term ({mode})": results[f"tfidf hot-term ({mode})"]}))

    # hot-KEY window stress (VERDICT r3 item 8): N× lineitem with one
    # key forced onto 10% of rows, window_count_share and
    # dedup_first_per_key timed in both formulations. The window paths
    # buffer the whole hot partition in one task (linear in hot-key row
    # count); the skew_safe paths keep per-task work bounded.
    from gem_data_wrangle_spark.operators import aggregates as Agg  # noqa: PLC0415

    hotkey_dir = f"{out_dir}/lineitem_hotkey.parquet"
    if not os.path.exists(hotkey_dir):
        li = spark.read.parquet(f"{BASE}/lineitem.parquet")
        big = (
            li.withColumn("_i", F.explode(F.sequence(F.lit(0), F.lit(n - 1))))
            .withColumn("l_orderkey", F.col("l_orderkey") + F.col("_i") * 10_000_000)
            .drop("_i")
            .withColumn(
                "l_orderkey",
                F.when(F.rand(7) < 0.10, F.lit(424242)).otherwise(F.col("l_orderkey")),
            )
        )
        big.repartition(max(4, 2 * n)).write.mode("overwrite").parquet(hotkey_dir)
    hk = spark.read.parquet(hotkey_dir)
    order = [c for c in hk.columns if c != "l_orderkey"]
    cases = {
        "wcs window": Agg.window_count_share(hk, ["l_orderkey"]),
        "wcs skew_safe": Agg.window_count_share(hk, ["l_orderkey"], skew_safe=True),
        "dedup window": Agg.dedup_first_per_key(hk, ["l_orderkey"], order),
        "dedup skew_safe": Agg.dedup_first_per_key(
            hk, ["l_orderkey"], order, skew_safe=True
        ),
    }
    for label, df in cases.items():
        t0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        results[f"hotkey {label}"] = {f"{n}x": round(time.time() - t0, 2)}
        print(json.dumps({f"hotkey {label}": results[f"hotkey {label}"]}))

    # degenerate-document stress (VERDICT r5 item 4): ONE multi-MB
    # random-token document through gopher_quality. The linear metrics
    # scan all 1.5M tokens; the top-bigram count sorts only the first
    # max_scan_tokens (5000) tokens' bigrams, so the whole job must
    # finish in seconds.
    from gem_data_wrangle_spark.operators import textops as Tx  # noqa: PLC0415

    degen = spark.range(1).select(
        F.lit(0).cast("long").alias("doc_id"),
        F.concat_ws(
            " ",
            F.transform(
                F.sequence(F.lit(1), F.lit(1_500_000)),
                lambda i: F.concat(
                    F.lit("w"),
                    ((i * 2654435761) % 9999991).cast("string"),
                ),
            ),
        ).alias("text"),
    )
    t0 = time.time()
    Tx.gopher_quality(degen, "text", "doc_id").select(
        "doc_id", "n_words", "top_bigram_frac", "quality_pass"
    ).write.format("noop").mode("overwrite").save()
    results["gopher degenerate 13MB doc"] = {"sec": round(time.time() - t0, 2)}
    print(json.dumps({"gopher degenerate 13MB doc": results["gopher degenerate 13MB doc"]}))

    print(json.dumps({"n": n, "results": results}))


if __name__ == "__main__":
    main()
