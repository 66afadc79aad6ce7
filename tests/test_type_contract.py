"""Graded-output type contract (VERDICT r8 items 1-2).

The driver canonicalizes both engines through pandas before hashing.
DuckDB's ``.df()`` renders HUGEINT and DECIMAL as float64 while Spark
hands pandas int64/Decimal — so a graded projection whose DECLARED
types diverge in kind will hash-mismatch even when every value is
identical (all five round-8 red rows were exactly this). And
list/struct cells crash the driver canonicalizer outright
(``unhashable type: 'list'`` — pq_encode r7, mean_pool r8).

These tests are STATIC — Spark schemas come from plan analysis and
DuckDB types from ``DESCRIBE <query>``; no job runs except inside the
few eagerly-materializing operators — so the sweep covers every
registered query:

* no registered Spark schema contains Decimal/Array/Map/Struct;
* no oracle declares HUGEINT, DECIMAL, or a nested type;
* per column (matched by name), the two engines declare the same KIND
  (integer / float / string / bool / timestamp / date) — the exact
  condition under which pandas renders identical canonical strings.
"""

import duckdb
import pytest
from pyspark.sql import types as T

import __spark_entry__ as entrymod
from gem_data_wrangle_spark.sources import TESTDATA_TABLES

_BANNED_SPARK = (T.DecimalType, T.ArrayType, T.MapType, T.StructType)


def _duck_kind(type_str: str) -> str:
    t = type_str.upper()
    if "[" in t or t.startswith(("STRUCT", "MAP", "LIST", "UNION")):
        return "nested"
    if t in ("HUGEINT", "UHUGEINT") or t.startswith("DECIMAL"):
        return "banned-wide"
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT",
             "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"):
        return "int"
    if t in ("DOUBLE", "FLOAT", "REAL"):
        return "float"
    if t in ("VARCHAR", "TEXT", "STRING", "BLOB"):
        return "str"
    if t == "BOOLEAN":
        return "bool"
    if t.startswith("TIMESTAMP"):
        return "timestamp"
    if t == "DATE":
        return "date"
    return f"other:{t}"


def _spark_kind(dt: T.DataType) -> str:
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "int"
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return "float"
    if isinstance(dt, (T.StringType, T.BinaryType)):
        return "str"
    if isinstance(dt, T.BooleanType):
        return "bool"
    if isinstance(dt, T.TimestampType):
        return "timestamp"
    if isinstance(dt, (T.DateType,)):
        return "date"
    if isinstance(dt, _BANNED_SPARK):
        return "banned"
    return f"other:{dt.simpleString()}"


@pytest.fixture(scope="module")
def registered(spark, sf_dir):
    """(name, Spark schema, oracle declared types) for EVERY registered
    query."""
    oracles = entrymod.oracle_sql()
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.sql(f"CREATE VIEW {t} AS FROM '{sf_dir}/{t}.parquet'")
    out = []
    for name, fn in entrymod.queries().items():
        schema = fn(spark, sf_dir).schema
        duck_types = None
        if name in oracles:
            desc = con.sql("DESCRIBE " + oracles[name]).fetchall()
            duck_types = {r[0]: r[1] for r in desc}
        out.append((name, schema, duck_types))
    con.close()
    return out


def test_graded_spark_schemas_are_scalar_and_exact(registered):
    bad = {
        name: [f.name + ":" + f.dataType.simpleString()
               for f in schema.fields
               if isinstance(f.dataType, _BANNED_SPARK)]
        for name, schema, _ in registered
    }
    bad = {k: v for k, v in bad.items() if v}
    assert not bad, (
        "registered Spark schemas outside the type contract "
        "(Decimal → pandas Decimal-object vs DuckDB float64; "
        "Array/Map/Struct crash the driver canonicalizer): " + str(bad)
    )


def test_graded_oracle_types_are_scalar_and_exact(registered):
    bad = {}
    for name, _, duck_types in registered:
        if not duck_types:
            continue
        rows = [
            c + ":" + t for c, t in duck_types.items()
            if _duck_kind(t) in ("nested", "banned-wide")
        ]
        if rows:
            bad[name] = rows
    assert not bad, (
        "oracles declare HUGEINT/DECIMAL/nested types "
        "(pandas renders them float64/list — hash-mismatch vs Spark): "
        + str(bad)
    )


def test_graded_column_kinds_align_across_engines(registered):
    bad = {}
    for name, schema, duck_types in registered:
        if not duck_types:
            continue
        spark_kinds = {f.name: _spark_kind(f.dataType) for f in schema.fields}
        rows = []
        for col, skind in spark_kinds.items():
            dkind = _duck_kind(duck_types.get(col, "<missing>"))
            if col not in duck_types:
                rows.append(f"{col}: missing from oracle")
            elif skind != dkind and "banned" not in (skind, dkind):
                rows.append(f"{col}: spark={skind} duck={dkind}")
        if rows:
            bad[name] = rows
    assert not bad, (
        "column kind divergence — identical values will still render "
        "different canonical strings at the driver: " + str(bad)
    )


# --------------------------------------------------------------- int32 gate
# VERDICT r10 directive 5: the int32 width class (rank()/size()/lit-int
# arithmetic wrapping past 2^31 at scale — the round-9 rank_normalize
# bug) is gated by freezing today's int32 surface. Every entry below is
# audited one of two kinds:
#   * source passthrough — the column IS int32 in the parquet schema
#     (l_linenumber, *_nationkey, *_regionkey); widening would falsify
#     the source contract;
#   * bounded domain — the value range is structurally small (digit
#     1-9, top-k rank, per-doc token/char counts, codec header fields,
#     group-id bits, bucket indexes bounded by num_buckets).
# A NEW query emitting an int32 column (or a new int32 column on an
# existing query) fails this gate and forces the conscious choice:
# widen at the source (the default — see exact_jaccard_join, pack_id,
# session_idx, all widened round 11) or extend the allowlist with an
# audit note.
_INT32_ALLOWED: dict[str, frozenset] = {
    # production_year: explode(sequence(start, end)) over plant years —
    # bounded calendar domain
    "gem_coal_pipeline": frozenset({"production_year"}),
    "gem_hydro_pipeline": frozenset({"production_year"}),
    "gem_gasoil_pipeline": frozenset({"production_year"}),
    "gem_nuclear_pipeline": frozenset({"production_year"}),
    "gem_solar_pipeline": frozenset({"production_year"}),
    "gem_wind_pipeline": frozenset({"production_year"}),
    "gem_bioenergy_pipeline": frozenset({"production_year"}),
    "gem_geothermal_pipeline": frozenset({"production_year"}),
    "gem_total_consolidation": frozenset({"production_year"}),
    "gem_total_consolidation_all8": frozenset({"production_year"}),
    "expand_years": frozenset({"production_year"}),
    "expand_years_retirement": frozenset({"production_year"}),
    # top-k / small-rank outputs (bounded by the query's own k)
    "key_skew_profile": frozenset({"rank"}),
    "tfidf_top_terms": frozenset({"rank"}),
    "similarity_bruteforce": frozenset({"rank"}),
    "similarity_lsh": frozenset({"rank"}),
    "pq_topk_adc": frozenset({"rank"}),
    "window_rank": frozenset({"price_rank"}),
    "rrf_hybrid_rank": frozenset({"rank_dense", "rank_lex"}),
    # parquet source passthroughs
    "filter_capacity_known": frozenset({"l_linenumber"}),
    "filter_isin": frozenset({"l_linenumber"}),
    "top_k": frozenset({"l_linenumber"}),
    "harmonize_na_poisoning": frozenset({"l_linenumber"}),
    "window_count_share": frozenset({"l_linenumber"}),
    "harmonize_coordinates": frozenset({"l_linenumber"}),
    "join_lookup_dim": frozenset({"n_nationkey"}),
    "union_rows_byname": frozenset({"n_nationkey", "n_regionkey"}),
    "join_left_coalesce": frozenset({"c_nationkey"}),
    "join_fallback_chain": frozenset({"s_nationkey"}),
    # bounded-domain derived values
    "ip_prefix_enrich": frozenset({"matched_len"}),      # ≤ 32 bits
    "embedding_gram": frozenset({"i", "j"}),             # ≤ embedding dim
    "heavy_hitters_batch": frozenset({"shard"}),         # ≤ num shards
    "corpus_shuffle": frozenset({"shard"}),              # ≤ num shards
    "privacy_audit": frozenset({"k"}),                   # anonymity k
    "benford_audit": frozenset({"digit"}),               # 1-9
    "rolling_fingerprint": frozenset({"n_fingerprints"}),  # per-doc
    "multimodal_frames": frozenset({"frame_idx"}),       # per-video
    "pack_documents": frozenset({"pack_bucket"}),        # ≤ num_buckets
    "sample_to_token_budget": frozenset({"n_tokens"}),   # per-doc
    "weighted_sample": frozenset({"n_tokens"}),          # per-doc
    "chunk_documents": frozenset({"chunk_id", "chunk_tokens"}),  # per-doc
    "training_data_pipeline": frozenset({"n_tokens"}),   # per-doc
    "text_quality": frozenset({"n_chars", "n_tokens"}),  # per-doc
    "token_counts": frozenset({"n_ws_tokens", "n_bpe_tokens"}),  # per-doc
    "gopher_quality_flags": frozenset({"n_words"}),      # per-doc
    "embedding_quantize_int8": frozenset({"pos", "q"}),  # dim / int8 val
    "c4_filters": frozenset({"n_lines", "n_kept"}),      # per-doc
    "warc_html_extract": frozenset({"http_status"}),     # 100-599
    "fuzzy_match": frozenset({"edit_distance"}),         # ≤ string len
    "cdc_chunks": frozenset({"chunk_idx", "chunk_start"}),  # per-doc
    "event_funnel": frozenset({"funnel_depth"}),         # ≤ step count
    "cohort_retention": frozenset({"week_offset"}),      # bounded window
    "value_histogram": frozenset({"bin_idx"}),           # ≤ num bins
    "hll_distinct_counts": frozenset(
        {"users_registers_hit", "events_registers_hit"}  # ≤ 2^p registers
    ),
    "hll_union_rollup": frozenset({"users_registers_hit"}),
    # GROUPING() bit outputs (0/1)
    "rollup_sum_groups": frozenset({"g_l_returnflag", "g_l_linestatus"}),
    "cube_sum_groups": frozenset({"g_l_returnflag", "g_l_linestatus"}),
    # codec header fields (spec-bounded widths)
    "exif_probe": frozenset(
        {"width", "height", "orientation", "iso", "n_ifd0_entries"}
    ),
    "gif_metadata": frozenset(
        {"width", "height", "n_frames", "total_delay_cs", "loop_count",
         "has_gct", "n_extensions"}
    ),
    "bmp_metadata": frozenset(
        {"width", "height", "bpp", "compression", "top_down", "row_stride",
         "data_offset", "palette_colors"}
    ),
    "image_dhash_hashes": frozenset(
        {"width", "height"}  # decoded pixel dims; descriptive only —
        # every hash-side product is int64 numpy before it ships
    ),
    "mp4_probe": frozenset({"n_tracks", "width", "height"}),
    "mp4_sample_offsets": frozenset(
        {"sample_idx", "chunk_idx", "size", "is_sync"}
    ),
    "audio_features": frozenset({"rate", "channels"}),
}

_NARROW_INT = (T.IntegerType, T.ShortType, T.ByteType)


def test_no_unaudited_int32_in_any_registered_projection(registered):
    bad = {}
    for name, schema, _ in registered:
        narrow = {
            f.name for f in schema.fields
            if isinstance(f.dataType, _NARROW_INT)
        }
        extra = narrow - _INT32_ALLOWED.get(name, frozenset())
        if extra:
            bad[name] = sorted(extra)
    assert not bad, (
        "unaudited int32 columns in registered projections — widen at "
        "the source (.cast('long') before any arithmetic: the round-9 "
        "rank_normalize wrap class) or add an audited allowlist entry: "
        + str(bad)
    )


def test_int32_allowlist_has_no_stale_entries(registered):
    """The freeze must shrink as sources widen — an allowlist entry
    whose column is no longer int32 (or whose query is gone) is
    stale."""
    current = {name: schema for name, schema, _ in registered}
    stale = {}
    for name, cols in _INT32_ALLOWED.items():
        if name not in current:
            stale[name] = "query no longer registered"
            continue
        narrow = {
            f.name for f in current[name].fields
            if isinstance(f.dataType, _NARROW_INT)
        }
        gone = cols - narrow
        if gone:
            stale[name] = sorted(gone)
    assert not stale, "stale int32 allowlist entries: " + str(stale)
