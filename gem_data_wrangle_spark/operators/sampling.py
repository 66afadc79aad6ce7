"""Deterministic sampling / splitting for training-data pipelines.

``hash_split`` assigns each row to a named split from the md5 of its
key — stable across runs, engines, partitionings, and cluster sizes
(no RNG, no state), which is the property a reproducible train/val/
test split actually needs. Bucket granularity is one hex nibble
(16ths); compose two nibbles for 1/256ths.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def hash_bucket(key: Column, nibbles: int = 1) -> Column:
    """Deterministic bucket 0..16^nibbles-1 from the md5 of the key
    (cast to string). Portable: identical in any engine with md5.
    ``nibbles`` is capped at 7: 16^8-1 exceeds int32 and the overflow
    would be silent bucket corruption, not an error (round-11 width
    audit) — at 8+ hex digits use a long-typed hash expression
    instead."""
    if not 1 <= nibbles <= 7:
        raise ValueError("nibbles must be in 1..7 (16^8-1 overflows int32)")
    return F.conv(F.substring(F.md5(key.cast("string")), 1, nibbles), 16, 10).cast("int")


def hash_split(
    df: DataFrame,
    key_col: str,
    splits: dict[str, int] | None = None,
    out_col: str = "split",
) -> DataFrame:
    """Assign rows to named splits by 16ths: ``splits`` maps name →
    number of nibble-buckets (must sum to 16). Default 12/2/2 =
    train 75% / val 12.5% / test 12.5% (in expectation)."""
    splits = splits or {"train": 12, "val": 2, "test": 2}
    if sum(splits.values()) != 16:
        raise ValueError("split buckets must sum to 16")
    bucket = hash_bucket(F.col(key_col))
    expr = None
    lo = 0
    for name, width in splits.items():
        cond = (bucket >= lo) & (bucket < lo + width)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
        lo += width
    return df.withColumn(out_col, expr)


def bernoulli_sample(
    df: DataFrame,
    key_col: str,
    rate: float,
    salt: str = "",
) -> DataFrame:
    """Deterministic Bernoulli sampling: keep a row iff the first four
    md5 nibbles of its (salted) key fall under ``rate`` — stable across
    runs, engines, partitionings, and cluster sizes, unlike
    ``DataFrame.sample`` whose output depends on partition layout.
    Granularity is 1/65536; vary ``salt`` for independent draws.

    Scale: a narrow filter — pushes into the scan's data filters.
    """
    if not 0.0 <= rate <= 1.0:
        raise ValueError("rate must be in [0, 1]")
    threshold = int(rate * 65536)
    bucket = F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), F.col(key_col).cast("string"))), 1, 4),
        16, 10,
    ).cast("int")
    return df.filter(bucket < F.lit(threshold))


def stratified_sample(
    df: DataFrame,
    group_col: str,
    key_col: str,
    n_per_group: int,
) -> DataFrame:
    """Deterministic stratified sample: the ``n_per_group`` rows of
    each group whose md5(key) sorts first — reproducible "random"
    per-stratum quotas (class-balanced eval sets, per-language
    calibration samples).

    Scale: one window shuffle on the group key, and skew-bounded —
    the ``row_number() <= n`` filter plans as ``WindowGroupLimit``
    with a Partial map-side stage (see SCALE.md round 5), so a giant
    stratum ships ≤ n rows per input partition, not its full
    population. md5 order is data-independent so re-partitioning
    never changes the sample.
    """
    from pyspark.sql import Window  # noqa: PLC0415

    w = Window.partitionBy(group_col).orderBy(
        F.md5(F.col(key_col).cast("string")), F.col(key_col)
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n_per_group)
        .drop("_rn")
    )


def pack_documents(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    budget: int,
    num_buckets: int = 256,
    bucket_col: str = "pack_bucket",
    pack_col: str = "pack_id",
) -> DataFrame:
    """Sequence packing: group documents into packs of ≈``budget``
    tokens (the pre-training step that concatenates short documents
    into fixed-length training sequences). Greedy first-fit in a
    deterministic md5 order; a pack may overflow by at most one
    document (the standard streaming approximation — exact bin packing
    is NP-hard and order-dependent).

    Scale: a GLOBAL greedy pack would funnel everything through one
    sorted partition, so documents are first spread over
    ``num_buckets`` deterministic hash buckets and packed within each
    — the window shuffles on the bucket key and each bucket packs
    independently. Pack identity is (bucket, local pack index).
    """
    from pyspark.sql import Window  # noqa: PLC0415

    out = df.withColumn(
        bucket_col,
        F.conv(
            F.substring(F.md5(F.col(id_col).cast("string")), 1, 4), 16, 10
        ).cast("int") % num_buckets,
    )
    w = (
        Window.partitionBy(bucket_col)
        .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(tokens_col).over(w)
    # pack index stays LONG (round-11 width audit): a bucket's token
    # total is corpus-sized / num_buckets, and bucket_tokens/budget
    # crosses 2^31 at ~100 TB with small bucket counts
    return out.withColumn(
        pack_col, F.floor((cum - F.col(tokens_col)) / budget).cast("long")
    )


def sample_to_token_budget(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    budget: int,
    num_buckets: int = 256,
) -> DataFrame:
    """Downsample a corpus to ≈``budget`` total tokens: documents are
    admitted in deterministic md5 order until the budget is reached —
    the mixture-building primitive ("take N billion tokens of source
    X"). Deterministic: the same call always keeps the same documents
    regardless of partitioning.

    Scale: the global budget is split evenly across ``num_buckets``
    md5 buckets and each bucket fills its share independently — the
    cumulative-sum window shuffles on the bucket key only, no global
    sort. The kept total lands within ~num_buckets × max_doc_tokens of
    the budget (each bucket may overshoot by at most one document).
    """
    from pyspark.sql import Window  # noqa: PLC0415

    per_bucket = budget / num_buckets
    out = df.withColumn(
        "_sb",
        F.conv(
            F.substring(F.md5(F.col(id_col).cast("string")), 1, 4), 16, 10
        ).cast("int") % num_buckets,
    )
    w = (
        Window.partitionBy("_sb")
        .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # a document is kept if the budget was not exhausted BEFORE it
    # (window expressions cannot sit in a WHERE — materialize first)
    out = out.withColumn("_before", F.sum(tokens_col).over(w) - F.col(tokens_col))
    return out.filter(F.col("_before") < per_bucket).drop("_sb", "_before")


def rebalance_mixture(
    df: DataFrame,
    group_col: str,
    tokens_col: str,
    id_col: str,
    weights: dict[str, float],
    num_buckets: int = 256,
) -> DataFrame:
    """Rebalance a corpus to a target source mixture (the Pile/Dolma
    "mixing weights" step): downsample each group so the KEPT corpus's
    token distribution across groups matches the RATIOS of
    ``weights``, without upsampling. The feasible total is maximal:
    ``T = min_g tokens_g / w_g`` — the scarcest group keeps
    everything and every other group trims down to ``w_g · T`` tokens
    via the same deterministic bucketed md5-order admission as
    :func:`sample_to_token_budget`. Groups absent from ``weights``
    (or weighted 0) are dropped.

    Weights are deliberately NOT normalized: the budgets
    ``w_g · min_h(t_h / w_h)`` are scale-invariant (multiplying every
    weight by c cancels), and skipping the float division keeps the
    arithmetic bit-identical to a plain SQL replay of the same
    formula — dividing by ``sum(weights)`` first would shift budgets
    by an ulp (e.g. 0.4/0.9999999999999999) and could flip a
    boundary document between engines.

    Driver boundary, documented: one collect of |groups| rows (the
    per-group token totals) — a mixing spec is human-sized by
    definition, so this is a bounded mixture-plan computation, not a
    data collect. Everything row-wise stays distributed: a narrow
    filter on the group set, one (group, bucket)-keyed window, one
    comparison against the group's per-bucket budget.
    """
    if not weights:
        raise ValueError("weights must name at least one group")
    from pyspark.sql import Window  # noqa: PLC0415

    totals = {
        r["g"]: r["t"]
        for r in df.groupBy(F.col(group_col).alias("g"))
        .agg(F.sum(tokens_col).alias("t"))
        .collect()
        if r["t"] is not None
    }
    present = {g: w for g, w in weights.items() if g in totals and w > 0}
    if not present:
        raise ValueError("no weighted group present in the corpus")
    p = {g: float(w) for g, w in present.items()}
    total = min(totals[g] / p[g] for g in p)
    # keep-all short circuit: a group whose budget covers its total
    # (the scarcest group, and any float-ulp neighbor) bypasses the
    # bucketed admission entirely — fixed per-bucket budgets would
    # otherwise trim its over-full md5 buckets and undershoot
    per_bucket = {
        g: (float("inf") if p[g] * total >= totals[g]
            else p[g] * total / num_buckets)
        for g in p
    }

    # NOTE: the admission mechanics below (md5-prefix bucket, (group,
    # bucket)-partitioned cumulative window, `_before < budget`) are
    # deliberately the same scheme as sample_to_token_budget above —
    # keep the two in lockstep (and with their DuckDB oracles) if the
    # hash/order scheme ever changes.
    budget_expr = None
    for g, b in per_bucket.items():
        budget_expr = (
            F.when(F.col(group_col) == g, F.lit(b))
            if budget_expr is None
            else budget_expr.when(F.col(group_col) == g, F.lit(b))
        )
    out = df.filter(F.col(group_col).isin(list(p))).withColumn(
        "_sb",
        F.conv(
            F.substring(F.md5(F.col(id_col).cast("string")), 1, 4), 16, 10
        ).cast("int")
        % num_buckets,
    )
    w = (
        Window.partitionBy(group_col, "_sb")
        .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = out.withColumn("_before", F.sum(tokens_col).over(w) - F.col(tokens_col))
    return out.filter(F.col("_before") < budget_expr).drop("_sb", "_before")


def weighted_sample(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    weight_denominator: int,
    salt: str = "",
) -> DataFrame:
    """Per-row-probability sampling: keep a row with probability
    ``weight_col / weight_denominator`` (≥1 → always kept) — the
    quality-weighted / curriculum sampling primitive (keep long or
    high-quality documents preferentially, downsample boilerplate).

    Determinism contract as ``bernoulli_sample`` (md5 of the salted
    key), plus *zero* float boundaries: the acceptance test is the
    integer cross-multiplication ``bucket · den < weight · 65536``,
    so any engine replays it exactly. ``weight_col`` must be integer-
    valued and non-negative.

    Scale: a narrow filter, pushed into the scan when ``weight_col``
    is a stored column.
    """
    if weight_denominator <= 0:
        raise ValueError("weight_denominator must be positive")
    bucket = F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), F.col(key_col).cast("string"))), 1, 4),
        16, 10,
    ).cast("long")
    return df.filter(
        bucket * weight_denominator < F.col(weight_col).cast("long") * 65536
    )


def deterministic_shuffle(
    df: DataFrame,
    id_col: str,
    seed: int = 0,
    num_partitions: int | None = None,
) -> DataFrame:
    """Content-defined deterministic global shuffle — the
    reproducible-training-order primitive: every epoch's example order
    must be recomputable from (corpus, seed) alone, independent of
    input file layout, cluster size, or prior partitioning.

    Adds ``shuffle_key = md5(seed ':' id)`` and ``shard`` — a RANGE
    bucket of the key's first 16 bits (``floor(prefix·n/65536)``), so
    shard index is MONOTONE in the key: ordering by (shard,
    shuffle_key) IS the global key order. The shard, not the Spark
    partition, is the reproducibility unit: both columns are pure
    functions of (seed, id, num_partitions), so writing with
    ``partitionBy("shard")`` yields byte-identical, internally
    key-sorted shard files on ANY cluster — any engine replays them
    from the md5 alone (same portable-hash trick as
    ``bernoulli_sample``).

    Physical layout: ONE hash exchange on the shard column (hash of a
    small int — deterministic given ``num_partitions``, unlike
    ``repartitionByRange`` whose reservoir-sampled boundaries change
    with input layout and cluster size), then an in-partition sort.
    md5 keys are uniform, so shards are balanced regardless of how
    skewed the id space is. ``num_partitions`` defaults to a FIXED
    256 — not the cluster's parallelism — precisely so the default
    output is cluster-independent.
    """
    n = num_partitions or 256
    key = F.md5(
        F.concat_ws(":", F.lit(str(seed)), F.col(id_col).cast("string"))
    )
    out = (
        df.withColumn("shuffle_key", key)
        .withColumn(
            "shard",
            F.floor(
                F.conv(F.substring("shuffle_key", 1, 4), 16, 10).cast("long")
                * F.lit(n)
                / F.lit(65536)
            ).cast("int"),
        )
    )
    return out.repartition(n, "shard").sortWithinPartitions(
        "shard", "shuffle_key"
    )


def _hashed_ngrams(text: Column) -> Column:
    """Unigram + bigram sequence (WITH multiplicity) — DSIR's bag of
    hashed n-grams. Built with ``zip_with`` over shifted slices, the
    same O(tokens) shape as ``dedup._shingles`` (a lambda referencing
    the token array would re-evaluate the split per element)."""
    toks = F.split(text, " ")
    m = F.greatest(F.size(toks) - 1, F.lit(0))
    bi = F.zip_with(
        F.slice(toks, 1, m), F.slice(toks, 2, m),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    return F.concat(toks, bi)


def dsir_logweights(
    raw: DataFrame,
    target: DataFrame,
    text_col: str,
    id_col: str,
    nibbles: int = 3,
    smoothing: float = 1.0,
) -> DataFrame:
    """DSIR importance weights (Xie et al., *Data Selection for
    Language Models via Importance Resampling*, arXiv:2302.03169):
    score every raw document by how much more likely its hashed
    n-gram bag is under the TARGET distribution than under the RAW
    distribution, ``log w(x) = Σ_b c_b(x)·(log p̂_b − log q̂_b)`` —
    the paper's bag-of-hashed-ngrams importance estimator with
    unigram+bigram features hashed into ``16**nibbles`` buckets
    (default 4096) and Laplace smoothing.

    Plan shape (100 TB-ready): one explode→groupBy per corpus builds
    the two bucket-count tables (each ≤ B rows — B is a CONSTANT, so
    the per-bucket log-ratio table λ is always broadcastable no
    matter the corpus size); per-doc bucket counts partial-combine in
    the same explode shuffle; the λ join is a broadcast hash join and
    the final per-doc sum is the only other shuffle. Zero UDFs; the
    md5-nibble bucket is the package's portable hash, so any engine
    replays the weights exactly. Float discipline (the repo's
    oracle-float rule — exact integer sufficient statistics, one
    final IEEE division): λ rounds to 6 dp (proven cross-engine
    stable) and is then carried as LONG micro-units λ_u = round(λ·1e6),
    so the per-doc score is an EXACT 64-bit ``Σ c·λ_u`` — immune to
    partition fold order, unlike a double ``F.sum`` whose accumulator
    ulp exceeds 1e-6 once the running sum is large — divided by 1e6
    exactly once at the end (a round-7 parity run flagged the
    double-fold variant: DuckDB's sequential fold and Spark's partial-merge fold
    landed on opposite sides of the 6-dp half boundary).

    Returns ``(id_col, log_importance, n_features)`` for every raw
    document (empty-text docs score on their single empty token).
    """
    buckets = 16 ** nibbles
    raw_grams = raw.select(
        F.col(id_col),
        F.explode(_hashed_ngrams(F.col(text_col))).alias("_g"),
    ).select(F.col(id_col), hash_bucket(F.col("_g"), nibbles).alias("_b"))
    target_grams = target.select(
        F.explode(_hashed_ngrams(F.col(text_col))).alias("_g")
    ).select(hash_bucket(F.col("_g"), nibbles).alias("_b"))

    qcnt = raw_grams.groupBy("_b").agg(F.count(F.lit(1)).alias("_qc"))
    pcnt = target_grams.groupBy("_b").agg(F.count(F.lit(1)).alias("_pc"))
    qtot = qcnt.agg(F.sum("_qc").alias("_qn"))
    ptot = pcnt.agg(F.sum("_pc").alias("_pn"))

    lam = (
        qcnt.join(pcnt, on="_b", how="left")
        .crossJoin(F.broadcast(qtot))
        .crossJoin(F.broadcast(ptot))
        .select(
            "_b",
            # 6-dp λ scaled to exact LONG micro-units: round(λ,6) is a
            # double within ~1e-10 of k/1e6, so round(·*1e6) recovers
            # the integer k identically in any IEEE-754 engine.
            F.round(
                F.round(
                    (F.log(F.coalesce(F.col("_pc"), F.lit(0)) + F.lit(smoothing))
                     - F.log(F.coalesce(F.col("_pn"), F.lit(0)) + F.lit(smoothing * buckets)))
                    - (F.log(F.col("_qc") + F.lit(smoothing))
                       - F.log(F.col("_qn") + F.lit(smoothing * buckets))),
                    6,
                ) * F.lit(1e6),
                0,
            ).cast("long").alias("_lam_u"),
        )
    )

    docb = raw_grams.groupBy(id_col, "_b").agg(F.count(F.lit(1)).alias("_c"))
    return (
        docb.join(F.broadcast(lam), on="_b")
        .groupBy(id_col)
        .agg(
            # exact 64-bit integer sum, ONE final division — fold-order-proof
            F.round(
                F.sum(F.col("_c") * F.col("_lam_u")).cast("double") / F.lit(1e6),
                6,
            ).alias("log_importance"),
            F.sum("_c").alias("n_features"),
        )
    )


def dsir_resample(
    raw: DataFrame,
    target: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
    nibbles: int = 3,
    smoothing: float = 1.0,
    salt: str = "dsir",
) -> DataFrame:
    """DSIR's selection step: sample ``k`` raw documents WITHOUT
    replacement, with probability ∝ importance weight, via the Gumbel
    top-k trick — ``argtop_k(log w(x) + g_x)`` with standard Gumbel
    noise ``g = −log(−log u)`` is an exact weighted sample without
    replacement (Vieira 2014). The uniform ``u`` comes from 8 md5
    nibbles of the salted id, so the "noise" — and therefore the
    sample — is deterministic, engine-portable, and independent of
    partition layout, like every sampler in this module.

    Scale: :func:`dsir_logweights`' plan plus one global top-k
    (``orderBy(...).limit(k)`` plans as ``TakeOrderedAndProject`` —
    per-partition heaps of k, no global sort materialization). Ties
    break on the id for full determinism.

    Returns ``(id_col, log_importance, sample_key)`` rows, the k
    selected documents.
    """
    w = dsir_logweights(raw, target, text_col, id_col, nibbles, smoothing)
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string"))),
                1, 8,
            ),
            16, 10,
        ).cast("double")
        + F.lit(0.5)
    ) / F.lit(4294967296.0)
    gumbel = -F.log(-F.log(u))
    return (
        w.withColumn("sample_key", F.round(F.col("log_importance") + gumbel, 4))
        .orderBy(F.desc("sample_key"), F.col(id_col))
        .limit(k)
    )


def temperature_weights(
    df: DataFrame,
    domain_col: str,
    budget: int,
    temperature: float = 0.5,
    weight_scale: int = 1_000_000,
) -> DataFrame:
    """Temperature-scaled mixture targets — the multilingual-corpus
    rebalancing rule (Conneau & Lample 2019, XLM §3.1: sample domain d
    with p_d ∝ n_d^τ, τ < 1 up-weighting low-resource domains): per
    domain, the scaled weight and an exact integer row target summing
    to ≤ ``budget`` by floor allocation.

    Determinism contract (the repo's oracle-float rule): τ defaults to
    0.5 because ``sqrt`` is IEEE correctly rounded — the micro-unit
    weight ``round(sqrt(n_d)·1e6)`` is bit-identical on every engine —
    and everything after is exact integer arithmetic: products as
    ``decimal(38,0)`` (the overflow discipline; long would wrap at
    n_d ~ 1e12 × budget 1e9), one floor division at the end. Other τ
    route through ``pow``, which libm does NOT promise to the last
    ulp — supported, but keep those columns out of hash-compared
    oracles.

    Plan: one grouped count with map-side partial aggregation, then a
    1-row total broadcast-joined back — no unbounded single-partition
    stage, no driver collect.
    """
    counts = df.groupBy(domain_col).agg(F.count(F.lit(1)).alias("n_docs"))
    if temperature == 0.5:
        raw = F.sqrt(F.col("n_docs"))
    else:
        raw = F.pow(F.col("n_docs"), F.lit(float(temperature)))
    wt = counts.withColumn(
        "weight_u", F.round(raw * weight_scale).cast("long")
    )
    tot = wt.agg(F.sum("weight_u").cast("decimal(38,0)").alias("_tot"))
    scaled = (
        F.col("weight_u").cast("decimal(38,0)") * F.lit(int(budget))
    ).cast("decimal(38,0)")
    # EXACT floor, not floor-of-rounded-quotient (ADVICE r8): Spark's
    # decimal division rounds HALF_UP to a finite scale before floor,
    # so a true quotient with fractional part ≥ 1 − 5e-7 would floor
    # one higher than exact integer division. (a − a mod b) / b stays
    # in decimal integer arithmetic throughout — the key_skew_profile
    # precedent.
    exact_floor = (scaled - scaled % F.col("_tot")) / F.col("_tot")
    return (
        wt.crossJoin(F.broadcast(tot))
        .select(
            domain_col,
            "n_docs",
            "weight_u",
            exact_floor.cast("long").alias("target_docs"),
        )
    )


def temperature_resample(
    df: DataFrame,
    domain_col: str,
    id_col: str,
    budget: int,
    temperature: float = 0.5,
) -> DataFrame:
    """Apply :func:`temperature_weights`: keep each domain's first
    ``target_docs`` rows in deterministic hash order — a seeded
    uniform draw within the domain, reproducible across runs and
    engines. The ranking window partitions BY DOMAIN (bounded state
    per partition); a pathologically hot domain is the salted-agg
    story, not this one's."""
    targets = temperature_weights(df, domain_col, budget, temperature)
    w = Window.partitionBy(domain_col).orderBy(
        F.xxhash64(F.col(id_col)), F.col(id_col)
    )
    ranked = df.withColumn("_rn", F.row_number().over(w))
    return (
        ranked.join(F.broadcast(targets.select(domain_col, "target_docs")),
                    on=domain_col)
        .filter(F.col("_rn") <= F.col("target_docs"))
        .drop("_rn", "target_docs")
    )
