import pytest
"""End-to-end GEM fuel pipeline on a synthetic mini-tracker exercising
the full operator chain (FIXTURES.md §A1 shape) plus consolidation.

The output grain is the reference's: location-level — ``asset_id`` is
the GEM location ID, ``asset_name`` the Plant/Project name, and units
of one location aggregate together (``GEM/Coalplants_GEM.R:158-171``).
"""

from pyspark.sql import functions as F

from gem_data_wrangle_spark.data.country_codes import country_dim
from gem_data_wrangle_spark.plans.gem import (
    CANONICAL_COLUMNS,
    COAL,
    HYDRO,
    consolidate_total,
    run_fuel_pipeline,
    unique_assets,
)

SCHEMA = (
    "`GEM unit/phase ID` string, `GEM location ID` string, `Plant name` string, "
    "`Country/Area` string, "
    "Owner string, `Capacity (MW)` string, Status string, `Start year` string, "
    "`Planned retirement` string, Latitude string, Longitude string, "
    "Region string, `Plant age (years)` string"
)

ROWS = [
    # operating units, two owners with pct, shared location L1
    ("U1", "L1", "Plant One", "France", "A Corp [60%]; B Ltd [40%]", "1000",
     "operating", "2000", None, "48.1", "2.1", "Europe", "24"),
    ("U2", "L1", "Plant One", "France", "A Corp [100%]", "500", "operating",
     "2005", None, "48.3", "2.3", "Europe", "24"),
    # announced with unknown start → dropped by coal variant
    ("U3", "L2", "Plant Two", "Germany", "C GmbH [100%]", "800", "announced",
     "unknown", None, "52.0", "13.0", "Europe", None),
    # retired status → dropped by status filter
    ("U4", "L3", "Plant Three", "Spain", "D SA [100%]", "300", "retired",
     "1980", "2010", "40.0", "-3.0", "Europe", "44"),
    # owner without pct → capacity dropped (coal strict variant)
    ("U5", "L4", "Plant Four", "Kosovo", "E Co; F Co", "400", "operating",
     "2010", None, "42.6", "21.1", "Europe", "14"),
    # retirement before 2024 → dropped
    ("U6", "L5", "Plant Five", "France", "G SARL [100%]", "200", "operating",
     "1990", "2020", "47.0", "3.0", "Europe", "34"),
    # capacity sentinel → dropped
    ("U7", "L6", "Plant Six", "France", "H SA [100%]", "N/A", "operating",
     "2001", None, "46.0", "4.0", "Europe", "23"),
    # retirement inside horizon zeroes later years
    ("U8", "L7", "Plant Seven", "India", "I Ltd [100%]", "600", "operating",
     "2010", "2030", "20.0", "77.0", "Asia", "14"),
]


def _units(spark):
    return spark.createDataFrame(ROWS, SCHEMA)


def test_coal_pipeline_end_to_end(spark):
    out = run_fuel_pipeline(_units(spark), COAL, country_dim(spark))
    assert out.columns == CANONICAL_COLUMNS
    rows = out.collect()
    by_key = {(r["asset_id"], r["company_name"], r["production_year"]): r for r in rows}

    # year expansion: every surviving location-owner × 28 years
    years = sorted({r["production_year"] for r in rows})
    assert years[0] == 2023 and years[-1] == 2050 and len(years) == 28

    # location-level aggregation: U1 (60% of 1000) and U2 (100% of 500)
    # both feed (L1, A Corp) — same plant age, so one row per year
    assert by_key[("L1", "A Corp", 2025)]["capacity"] == 1100.0
    assert by_key[("L1", "B Ltd", 2025)]["capacity"] == 400.0
    assert by_key[("L1", "A Corp", 2025)]["asset_name"] == "Plant One"

    # dropped rows: unknown-start announced, retired status, pre-2024
    # retirement, N/A capacity
    gone = {"L2", "L3", "L5", "L6"}
    assert gone.isdisjoint({r["asset_id"] for r in rows})

    # coal strict variant: no-pct owners contribute 0 capacity
    assert by_key[("L4", "E Co", 2025)]["capacity"] == 0.0

    # retirement inside horizon zeroes from the retirement year on
    assert by_key[("L7", "I Ltd", 2029)]["capacity"] == 600.0
    assert by_key[("L7", "I Ltd", 2030)]["capacity"] == 0.0
    assert by_key[("L7", "I Ltd", 2023)]["capacity"] == 600.0

    # enrichment: ISO2 + Kosovo override + constants
    assert by_key[("L1", "A Corp", 2023)]["country_iso2"] == "FR"
    assert by_key[("L4", "E Co", 2023)]["country_iso2"] == "XK"
    r = by_key[("L1", "A Corp", 2023)]
    assert r["sector"] == "Power" and r["technology"] == "CoalCap"
    assert r["capacity_unit"] == "MW" and r["plant_age_years"] == 24.0
    # U1+U2 share L1 with disagreeing coords → harmonized to the mean
    assert r["coordinates"] == "48.2, 2.2"


def test_empty_start_drop_sentinels(spark):
    """An empty sentinel tuple builds a valid drop predicate that keeps
    the rows ``isin([])`` keeps: no start value is a sentinel, so the
    announced unknown-start unit (L2) survives coal's drop step."""
    from dataclasses import replace

    def asset_ids(cfg):
        out = run_fuel_pipeline(_units(spark), cfg, country_dim(spark))
        return {r["asset_id"] for r in out.collect()}

    assert asset_ids(replace(COAL, start_drop_sentinels=())) == asset_ids(COAL) | {"L2"}


def test_coal_keeps_null_and_zero_capacity(spark):
    """Coal's capacity filter drops only the string sentinels
    (Coalplants_GEM.R:54) — NULL and zero survive; the gas/oil-family
    variant drops both (GasOilplants_GEM.R:88-92)."""
    extra = [
        ("U9", "L8", "Plant Eight", "France", "J SA [100%]", None, "operating",
         "2001", None, "45.0", "5.0", "Europe", "10"),
        ("U10", "L9", "Plant Nine", "France", "K SA [100%]", "0", "operating",
         "2001", None, "44.0", "6.0", "Europe", "11"),
    ]
    df = spark.createDataFrame(ROWS + extra, SCHEMA)
    out = run_fuel_pipeline(df, COAL, country_dim(spark))
    kept = {r["asset_id"] for r in out.collect()}
    assert {"L8", "L9"} <= kept
    hydro_df = df.withColumnsRenamed(
        {"GEM unit/phase ID": "GEM unit ID", "Country/Area": "Country 1",
         "Start year": "Start Year", "Plant name": "Project Name"}
    )
    hydro_out = run_fuel_pipeline(hydro_df, HYDRO, country_dim(spark))
    hydro_kept = {r["asset_id"] for r in hydro_out.collect()}
    assert {"L8", "L9"}.isdisjoint(hydro_kept)


def test_hydro_equal_share_variant(spark):
    df = _units(spark).withColumnsRenamed(
        {"GEM unit/phase ID": "GEM unit ID", "Country/Area": "Country 1",
         "Start year": "Start Year", "Plant name": "Project Name"}
    )
    # hydro imputes exactly NULL | 'not found' (Hydroplants_GEM.R:102-107)
    df = df.replace("unknown", "not found", subset=["Start Year"])
    out = run_fuel_pipeline(df, HYDRO, country_dim(spark))
    rows = {(r["asset_id"], r["company_name"], r["production_year"]): r for r in out.collect()}
    # equal-share fallback: U5 owners get 200 each (hydro semantics)
    assert rows[("L4", "E Co", 2025)]["capacity"] == 200.0
    assert rows[("L4", "F Co", 2025)]["capacity"] == 200.0
    # location-level: U1+U2 aggregate under (L1, A Corp)
    assert rows[("L1", "A Corp", 2025)]["capacity"] == 1100.0
    assert rows[("L1", "A Corp", 2025)]["asset_name"] == "Plant One"
    assert rows[("L1", "A Corp", 2025)]["technology"] == "HydroCap"
    # hydro imputes missing start year (2030 for announced) instead of dropping
    assert ("L2", "C GmbH", 2029) in rows and rows[("L2", "C GmbH", 2029)]["capacity"] == 0.0
    assert rows[("L2", "C GmbH", 2030)]["capacity"] == 800.0


def test_consolidation_surrogate_ids_and_emission_factors(spark):
    coal_out = run_fuel_pipeline(_units(spark), COAL, country_dim(spark))
    ef = spark.createDataFrame(
        [("coal", "FRA", 0.9), ("coal", "Global", 1.1)],
        "source_type string, iso3_country string, emissions_factor double",
    )
    total = consolidate_total([coal_out], emission_factors=ef, country_dim=country_dim(spark))
    rows = total.collect()
    assert total.columns == CANONICAL_COLUMNS
    ids = {r["company_name"]: r["company_id"] for r in rows}
    assert all(v and v.startswith("TFL") for v in ids.values())
    assert len(set(ids.values())) == len(ids)  # unique per company
    by = {(r["company_name"], r["country_iso2"]): r["emission_factor"] for r in rows}
    assert by[("A Corp", "FR")] == 0.9        # country-specific factor
    assert by[("I Ltd", "IN")] == 1.1         # global fallback


def test_consolidation_steel_merge_and_unique_assets(spark):
    """Steel merge (GEM/TotalData_GEM.R:44-59): dedup-first steel ids,
    steel id wins over the minted surrogate, steel rows appended; and
    the distinct (asset_id, coordinates) second output (:143-148)."""
    coal_out = run_fuel_pipeline(_units(spark), COAL, country_dim(spark))
    steel = spark.createDataFrame(
        [
            # A Corp appears in coal too → its steel id must win;
            # two steel rows with different ids → slice(1) keeps min
            ("SA1", "Steel A1", "STL00002", "A Corp", "DE", "Germany", "Europe",
             "50.0, 7.0"),
            ("SA2", "Steel A2", "STL00001", "A Corp", "DE", "Germany", "Europe",
             "50.0, 8.0"),
            # steel-only company → appended, keeps its own id
            ("SB1", "Steel B1", "STL00009", "Steelworks", "DE", "Germany",
             "Europe", "51.0, 7.5"),
        ],
        "asset_id string, asset_name string, company_id string, "
        "company_name string, country_iso2 string, country_name string, "
        "region string, coordinates string",
    ).withColumns(
        {
            "workforce_size": F.lit(None).cast("double"),
            "workforce_source": F.lit(None).cast("string"),
            "sector": F.lit("Steel"),
            "technology": F.lit("SteelCap"),
            "capacity": F.lit(100.0),
            "capacity_unit": F.lit("MW"),
            "production_year": F.lit(2024).cast("int"),
            "plant_age_years": F.lit(None).cast("double"),
            "plant_age_rank": F.lit(None).cast("double"),
            "capacity_factor": F.lit(None).cast("double"),
            "emission_factor": F.lit(None).cast("double"),
        }
    )
    total = consolidate_total([coal_out], steel=steel)
    rows = total.collect()
    ids = {r["company_name"]: r["company_id"] for r in rows}
    assert ids["A Corp"] == "STL00001"          # steel id wins, min id kept
    assert ids["B Ltd"].startswith("TFL")       # non-steel company keeps surrogate
    assert ids["Steelworks"] == "STL00009"      # appended steel row
    assert {r["asset_id"] for r in rows} >= {"SA1", "SA2", "SB1", "L1"}

    uniq = unique_assets(total).collect()
    pairs = {(r["asset_id"], r["coordinates"]) for r in uniq}
    assert len(uniq) == len(pairs)              # genuinely distinct
    # L1's 28 year-rows × owners collapse to one (asset, coords) pair
    assert sum(1 for a, _ in pairs if a == "L1") == 1


def test_all_fuel_configs_run(spark):
    """Every per-fuel FuelConfig is runnable: the remaining fuels are
    column-name/flag permutations of the four oracle-checked variants;
    this instantiates each against a renamed copy of the shared
    fixture and checks the canonical contract."""
    from gem_data_wrangle_spark.plans import gem as G

    base = _units(spark)
    cases = {
        "NUCLEAR": (G.NUCLEAR, {"GEM unit/phase ID": "GEM unit ID",
                                "Planned retirement": "Retirement Year",
                                "Start year": "Start Year",
                                "Plant name": "Project Name"}),
        "SOLAR": (G.SOLAR, {"GEM unit/phase ID": "GEM phase ID",
                            "Country/Area": "Country",
                            "Planned retirement": "Retired year",
                            "Plant name": "Project Name"}),
        "WIND": (G.WIND, {"GEM unit/phase ID": "GEM phase ID",
                          "Planned retirement": "Retired year",
                          "Plant name": "Project Name"}),
        "BIOENERGY": (G.BIOENERGY, {"GEM unit/phase ID": "GEM phase ID",
                                    "Owner": "Owner(s)",
                                    "Planned retirement": "Retired Year",
                                    "Start year": "Start Year",
                                    "Plant name": "Project Name"}),
        "GEOTHERMAL": (G.GEOTHERMAL, {"GEM unit/phase ID": "GEM unit ID",
                                      "Planned retirement": "Retired year",
                                      "Plant name": "Project Name"}),
    }
    for name, (cfg, renames) in cases.items():
        df = base.withColumnsRenamed(renames)
        out = run_fuel_pipeline(df, cfg, country_dim(spark))
        assert out.columns == CANONICAL_COLUMNS, name
        rows = out.limit(5).collect()
        assert rows, name
        assert all(r["technology"] == cfg.technology for r in rows), name


@pytest.mark.slow
def test_prepare_training_corpus_composition(spark, sf_dir):
    from gem_data_wrangle_spark.plans.corpus import prepare_training_corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    relaxed = {"min_words": 10, "max_dup_word_frac": 0.8}
    out = prepare_training_corpus(docs, chunk_size=20, chunk_overlap=5, gopher_kwargs=relaxed)
    n_total = docs.count()
    n_docs = out["documents"].count()
    n_rejects = out["rejects"].count()
    assert 0 < n_docs <= n_total
    # quality gate partitions the corpus (dedup/weighting only shrink further)
    assert n_rejects < n_total
    # chunks reference only surviving documents
    chunk_ids = {r.doc_id for r in out["chunks"].select("doc_id").distinct().collect()}
    doc_ids = {r.doc_id for r in out["documents"].select("doc_id").collect()}
    assert chunk_ids == doc_ids
    # every surviving doc carries a split and its dup-group size
    row = out["documents"].first()
    assert row["split"] in ("train", "val", "test") and row["n_dups"] >= 1
    # deterministic end to end: a second build yields identical ids
    again = prepare_training_corpus(docs, chunk_size=20, chunk_overlap=5, gopher_kwargs=relaxed)
    assert {r.doc_id for r in again["documents"].select("doc_id").collect()} == doc_ids


def test_prepare_training_corpus_complete_audit_trail(spark):
    """ADVICE r2: a doc whose text normalizes to empty scores NULL on
    ratio rules — it must land in ``rejects``, not vanish from both
    outputs."""
    from gem_data_wrangle_spark.plans.corpus import prepare_training_corpus

    docs = spark.createDataFrame(
        [(1, "   "), (2, ""), (3, "word " * 40)], "doc_id bigint, text string"
    )
    out = prepare_training_corpus(docs, gopher_kwargs={"min_words": 10})
    reject_ids = {r.doc_id for r in out["rejects"].select("doc_id").collect()}
    assert {1, 2} <= reject_ids


CURATION_A = "river stones gather moss while quiet farmers plant barley under pale morning skies"
CURATION_DOCS = [
    (1, CURATION_A),
    (2, CURATION_A),  # exact duplicate
    # case, punctuation and whitespace variant: same canonical text
    (3, "River, stones  gather moss while QUIET farmers plant barley under pale morning skies!"),
    (4, "tiny note here"),  # too short
    (5, "@@## $$%% ^^&& **(( ))__ ++== {{}} [[]] ;;::"),  # symbol-heavy
    (6, "  \t \n  "),  # normalizes to empty
    # fails only pass_top_bigram: 'alpha beta' is 4 of 19 bigrams
    (7, "alpha beta river gamma delta alpha beta stone epsilon zeta "
        "alpha beta cloud theta kappa alpha beta field lambda sigma"),
    (8, "copper wires carry signals across mountain valleys toward distant harbor towns"),
    (9, "every autumn the orchard workers sort apples into wooden crates before "
        "trucks haul them north along winding coastal roads"),
    (10, "scientists measured glacier retreat using satellite images collected over "
         "three decades and found melting accelerated sharply after warmer summers arrived"),
    (11, "small bakeries open early selling fresh bread to commuters"),
    (12, "the museum reopened its east wing showing restored paintings from local artists"),
]


def test_prepare_training_corpus_small_pinned(spark):
    """Every stage of the curation recipe on hand-made documents: the
    quality gate, canonical dedup, the weighted sample and chunking,
    with the surviving ids, duplicate counts and column order pinned."""
    from gem_data_wrangle_spark.plans.corpus import prepare_training_corpus

    docs = spark.createDataFrame(CURATION_DOCS, "doc_id bigint, text string")
    out = prepare_training_corpus(docs, chunk_size=8, chunk_overlap=2, weight_denominator=16,
                                  gopher_kwargs={"min_words": 8})
    metrics = ["n_words", "mean_word_len", "symbol_ratio", "dup_word_frac", "top_bigram_frac",
               "pass_word_count", "pass_mean_word_len", "pass_symbol_ratio", "pass_dup_words",
               "pass_top_bigram", "quality_pass"]
    assert out["rejects"].columns == ["doc_id", "text", *metrics]
    assert out["documents"].columns == ["doc_id", "text", *metrics, "n_dups", "split"]
    assert out["chunks"].columns == ["doc_id", "chunk_id", "chunk_text", "chunk_tokens"]

    rejects = {r.doc_id: r for r in out["rejects"].collect()}
    assert sorted(rejects) == [4, 5, 6, 7]
    assert rejects[4].pass_word_count is False
    assert rejects[5].pass_symbol_ratio is False
    assert rejects[6].quality_pass is False and rejects[6].symbol_ratio is None
    failed_7 = [c for c in metrics if c.startswith("pass_") and not rejects[7][c]]
    assert failed_7 == ["pass_top_bigram"] and rejects[7].top_bigram_frac == round(4 / 19, 4)

    # 2 and 3 fold into keeper 1; the sample keeps 9 and 10 (>= 16
    # words) always and draws 1, 11 in and 8, 12 out
    documents = {r.doc_id: r.n_dups for r in out["documents"].collect()}
    assert documents == {1: 3, 9: 1, 10: 1, 11: 1}
    chunks = sorted((r.doc_id, r.chunk_id, r.chunk_tokens) for r in out["chunks"].collect())
    assert chunks == [(1, 0, 8), (1, 1, 7), (9, 0, 8), (9, 1, 8), (9, 2, 7),
                      (10, 0, 8), (10, 1, 8), (10, 2, 8), (11, 0, 8), (11, 1, 3)]
