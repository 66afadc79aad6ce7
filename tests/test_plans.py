"""Physical-plan regression guards: the scale-relevant properties
documented in PLANS.md must survive refactors."""

import re

import __spark_entry__ as entrymod


def _plan(spark, name, sf_dir, mode="simple"):
    df = entrymod.queries()[name](spark, sf_dir)
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return df._jdf.queryExecution().explainString(jmode)


def test_filter_isin_pushdown(spark, sf_dir):
    plan = _plan(spark, "filter_isin", sf_dir)
    assert re.search(r"DataFilters: \[l_returnflag#\d+ IN \(A,R\)", plan)


def test_pipeline_prunes_columns_and_pushes_year_filter(spark, sf_dir):
    plan = _plan(spark, "gem_coal_pipeline", sf_dir)
    # only the two referenced orders columns reach the scan
    scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
    assert scans and all(
        set(re.sub(r"#\d+L?", "", s).split(",")) <= {"o_orderkey", "o_custkey"}
        for s in scans
    )
    # year filter sits below the aggregation, above the year explode
    filt = plan.index("Filter production_year")
    agg = plan.index("HashAggregate")
    assert filt > agg  # plans print top-down: filter appears under the agg


def test_fallback_chain_broadcasts_both_dims(spark, sf_dir):
    plan = _plan(spark, "join_fallback_chain", sf_dir)
    assert plan.count("BroadcastExchange") >= 2
    assert "SortMergeJoin" not in plan


def test_expand_years_is_narrow(spark, sf_dir):
    plan = _plan(spark, "expand_years", sf_dir)
    assert "Generate explode" in plan
    assert "Exchange hashpartitioning" not in plan  # no shuffle at all
    assert "Join" not in plan                        # no cross join


def test_gem_pipelines_shuffle_once(spark, sf_dir):
    """Every fuel pipeline hash-exchanges only its unit-grain rows, on
    the location key: the harmonize window sets that partitioning, the
    ownership share needs no row-id window, and the location group-sum
    reuses it — the 28×-expanded rows never cross a shuffle."""
    names = sorted(
        n for n in entrymod.queries()
        if n.startswith("gem_") and n.endswith("_pipeline")
    )
    assert len(names) == 8
    for name in names:
        plan = _plan(spark, name, sf_dir)
        assert plan.count("Exchange hashpartitioning") == 1, name
        assert "monotonically_increasing_id" not in plan, name


def test_harmonize_has_no_expand(spark, sf_dir):
    # the min/max-struct rewrite must not regress to count_distinct's
    # Expand + double aggregate
    plan = _plan(spark, "harmonize_coordinates", sf_dir)
    assert "Expand" not in plan


def test_harmonize_broadcast_is_aqe_gated(spark, sf_dir):
    """harmonize_coordinates must NOT force a broadcast: the
    per-location summary grows with the data (a broadcast of it runs
    out of memory at 100× location cardinality). The kernel evaluates
    it as a window, so no plan of it broadcasts; this pins that no
    hint comes back."""
    from pyspark.sql import functions as F

    from gem_data_wrangle_spark.operators.kernels import harmonize_coordinates

    df = (
        spark.range(2000)
        .select(
            F.concat(F.lit("L"), (F.col("id") % 500).cast("string")).alias("loc"),
            (F.col("id") % 90).cast("double").alias("Latitude"),
            (F.col("id") % 180).cast("double").alias("Longitude"),
        )
    )
    out = harmonize_coordinates(df, "loc")
    # logical plan carries no user hint — broadcast decisions are left
    # to the planner/AQE
    logical = out._jdf.queryExecution().optimizedPlan().toString()
    assert "ResolvedHint" not in logical and "hints=[broadcast" not in logical
    # with the threshold off, nothing in the plan may broadcast
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        big_plan = harmonize_coordinates(df, "loc")._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" not in big_plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_lsh_topk_builds_plan_without_running_jobs(spark):
    """lsh_topk takes the embedding width as a parameter; building the
    plan must execute no Spark action (the old version peeked at the
    data with .first() at plan time)."""
    from pyspark.sql import functions as F

    from gem_data_wrangle_spark.operators import similarity as V

    emb = spark.range(100).select(
        F.col("id").alias("vec_id"),
        F.array(*[(F.col("id") % 7 + i).cast("double") for i in range(4)]).alias("embedding"),
    )
    sc = spark.sparkContext
    sc.setJobGroup("lsh-plan-build", "plan construction only")
    try:
        out = V.lsh_topk(emb, emb.limit(3), "embedding", "vec_id", dim=4, k=2)
        out.explain()  # forces full plan resolution, still no action
        tracker = sc.statusTracker()
        assert tracker.getJobIdsForGroup("lsh-plan-build") == []
    finally:
        sc.setJobGroup("", "")
    assert out.count() >= 0  # the plan is actually runnable


def test_surrogate_ids_has_no_single_partition_exchange(spark, sf_dir):
    """The two-phase numbering must never funnel the distinct names
    through one partition (the r2 verdict's scale-killer): every
    exchange in the plan is a distributed range/hash partitioning."""
    plan = _plan(spark, "surrogate_ids", sf_dir)
    assert "Exchange SinglePartition" not in plan
    assert "Window" not in plan or "PartitionBy: []" not in plan


_BOUNDED_EXCHANGE_CHILDREN = (
    # partial aggregate: the exchange moves one row per partition
    "HashAggregate",
    "SortAggregate",
    "ObjectHashAggregate",
    # limit family: the exchange moves <= k rows per partition
    "LocalLimit",
    "TakeOrderedAndProject",
    "CollectLimit",
)


def _single_partition_violations(plan: str) -> list[str]:
    """Lines where an ``Exchange SinglePartition`` funnels UNBOUNDED
    data into one partition. A single-partition exchange is fine when
    its direct child provably bounds the rows per input partition
    (partial aggregate → 1 row, limit → k rows); anything else — a
    global Window over raw rows being the classic case — is the
    scale-killer ``surrogate_ids`` was rewritten to avoid."""
    lines = plan.splitlines()
    bad = []
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" not in line:
            continue
        child = lines[i + 1] if i + 1 < len(lines) else ""
        if not any(tok in child for tok in _BOUNDED_EXCHANGE_CHILDREN):
            bad.append(f"{line.strip()}  <-  {child.strip()}")
    return bad


def test_registry_has_no_unbounded_single_partition_exchange(spark, sf_dir):
    """Sweep EVERY registered query's physical plan (r7 verdict item 4:
    rrf_hybrid_rank shipped a whole-corpus row_number over an empty
    window spec — nothing guarded entry-level queries). Global ranks
    must ride a bounded child: ranked_top_k's TakeOrderedAndProject,
    the surrogate_ids two-phase offsets, or a partial aggregate."""
    failures = {}
    for name, fn in entrymod.queries().items():
        df = fn(spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "simple"
            )
        )
        bad = _single_partition_violations(plan)
        if bad:
            failures[name] = bad
    assert not failures, failures


def test_chunk_documents_is_map_only(spark, sf_dir):
    plan = _plan(spark, "chunk_documents", sf_dir)
    assert "Generate explode(sequence" in plan
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_semdedup_joins_within_cells_only(spark, sf_dir):
    # pairwise cosine must run behind an equi-join on the cell id —
    # never a cartesian/nested-loop pair enumeration
    plan = _plan(spark, "semdedup", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_normalized_dedup_shuffles_digests_not_documents(spark, sf_dir):
    # the exchange key must be the md5 digest; the text column must not
    # survive past the partial aggregate
    plan = _plan(spark, "normalized_dedup", sf_dir)
    m = re.search(r"Exchange hashpartitioning\(canon_hash", plan)
    assert m, plan
    post = plan[: m.start()]  # printed above the exchange = after it
    assert "text#" not in post
