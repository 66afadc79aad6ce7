"""The per-fuel GEM pipelines as one parameterized lazy plan.

The reference repeats the same ~230-line script eight times with
per-fuel variations (SURVEY §2, §3); here each fuel is a ``FuelConfig``
and the pipeline is a single composition of the engine's operators —
one Catalyst job end-to-end, no intermediate materialization (the
reference materializes ~11 intermediate data.frames per script,
``GEM/Coalplants_GEM.R:17-229``), and one shuffle: the unit rows are
hash-exchanged on the location key for the harmonize window, and the
ownership explode, the 28× year expansion and the location group-sum
all run on that partitioning.

Canonical trace re-expressed (coal):
read → select (:17-38) → status filter (:41) → unknown-start drop
(:46-47) → ">0" sentinel replace (:50) → capacity filter (:54) → cast
(:59-60) → coordinate harmonization (:63-76) → ownership explode +
allocation (:104-119) → key/retirement filters (:122-128) → year
expansion + per-year case (:134-152) → drop unit-level cols +
location-level group-sum (:158-171) → ISO2 + literals (:177-210) →
rename/reorder (:186-223).

Reference-parity notes (each encoded as a ``FuelConfig`` field):

* Status whitelists differ per fuel: coal admits 5 statuses incl.
  ``pre-permit``/``permitted`` but NOT ``pre-construction``
  (``Coalplants_GEM.R:41``); every other fuel admits 4 incl.
  ``pre-construction`` (``Hydroplants_GEM.R:95`` etc.).
* The unknown-start drop differs: coal drops ``Start year ==
  "unknown"`` only — NULL start years are untouched by the ``==``
  under R's NA semantics (``Coalplants_GEM.R:46-47``; base-R ``[``
  with an NA index would actually inject all-NA rows — a reference
  bug we document, not replicate); gas/oil drops ``"not found"`` OR
  NULL (``GasOilplants_GEM.R:79-80``). The hydro family *imputes*
  instead of dropping (2030 future / 2024 operating,
  ``Hydroplants_GEM.R:102-107``).
* The global ``">0" → "unknown"`` replace runs AFTER the start-year
  drop/impute (``Coalplants_GEM.R:46→50``), so a future-status row
  with ``Start year == ">0"`` survives the drop.
* The capacity filter differs: coal drops only the literal sentinels
  ``'N/A'/'unknown'`` (``Coalplants_GEM.R:54``); every other fuel
  also drops NULL and zero (``GasOilplants_GEM.R:88-92``).
* Ownership-percent grammar differs: coal/gasoil extract bare
  digits-before-``%``; the hydro family requires integer-bracketed
  ``[NN%]`` (see ``functions.strings.owner_pct``).
* The aggregation is at LOCATION level: the unit/phase ID is dropped
  before the group-by (``Coalplants_GEM.R:158-171``), the output's
  ``asset_id`` is the GEM location ID and ``asset_name`` the
  Plant/Project name.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gem_data_wrangle_spark.functions import cleaning as C
from gem_data_wrangle_spark.functions import strings as S
from gem_data_wrangle_spark.functions.conditional import classify_first_mention
from gem_data_wrangle_spark.operators import aggregates as A
from gem_data_wrangle_spark.operators import kernels as K
from gem_data_wrangle_spark.operators.joins import join_lookup_dim
from gem_data_wrangle_spark.operators.kernels import _q, _sql_str


def _sql_in(col_sql: str, values) -> str:
    """``col_sql IN (values)`` as SQL. ``in ()`` does not parse, so an
    empty sequence renders ``false`` — what ``F.col(c).isin([])``
    evaluates to on every row, NULL included."""
    if not values:
        return "false"
    return f"{col_sql} in ({', '.join(_sql_str(v) for v in values)})"

# The 19-column output contract, identical in every reference script
# (``GEM/Coalplants_GEM.R:214-219``, ``GEM/TotalData_GEM.R:38-41``).
CANONICAL_COLUMNS = [
    "asset_id", "asset_name", "company_id", "company_name", "country_iso2",
    "country_name", "region", "coordinates", "workforce_size",
    "workforce_source", "sector", "technology", "capacity", "capacity_unit",
    "production_year", "plant_age_years", "plant_age_rank",
    "capacity_factor", "emission_factor",
]

# Per-fuel status whitelists (grep of the 8 scripts, see module docstring).
COAL_STATUSES = ("construction", "operating", "announced", "pre-permit", "permitted")
COAL_FUTURE_STATUSES = ("announced", "construction", "pre-permit", "permitted")
NONCOAL_STATUSES = ("construction", "operating", "announced", "pre-construction")
NONCOAL_FUTURE_STATUSES = ("announced", "construction", "pre-construction")


@dataclass
class FuelConfig:
    """Per-fuel variation points (SURVEY §1.4, §2.10)."""

    technology: str | None               # e.g. "CoalCap"; None → the input
                                         # carries a per-row `technology`
                                         # column (gas/oil classification,
                                         # GEM/GasOilplants_GEM.R:225-229) —
                                         # add it to extra_group_cols
    unit_id_col: str                     # "GEM unit/phase ID" | "GEM unit ID" | "GEM phase ID"
    plant_name_col: str = "Project Name"  # "Plant name" for coal/gasoil
    owner_col: str = "Owner"             # "Owner(s)" for gas/oil + bioenergy
    retirement_col: str | None = "Retired year"  # None → hydro (always-NA)
    # only coal/gasoil DROP rows retiring before 2024 (Coalplants:127-128,
    # GasOilplants:154-155); the others use retirement only to zero the
    # expanded series (solarplants:165 etc.)
    retirement_row_filter: bool = False
    status_allowed: tuple[str, ...] = NONCOAL_STATUSES
    future_statuses: tuple[str, ...] = NONCOAL_FUTURE_STATUSES
    equal_share: bool = True             # False → coal/gasoil drop-capacity variant
    impute_missing_years: bool = True    # False → coal/gasoil drop such rows instead
    start_drop_sentinels: tuple[str, ...] = ("not found",)  # drop variant only
    start_drop_null: bool = True         # gasoil drops NULL starts; coal keeps them
    capacity_drop_null_zero: bool = True  # coal keeps NULL/zero capacities
    pct_grammar: str = "ref_hydro"       # coal/gasoil use "ref_coal"
    location_col: str = "GEM location ID"
    country_col: str = "Country/Area"
    capacity_col: str = "Capacity (MW)"
    start_year_col: str = "Start year"
    plant_age_col: str | None = None
    extra_group_cols: tuple[str, ...] = field(default_factory=tuple)


COAL = FuelConfig(
    technology="CoalCap", unit_id_col="GEM unit/phase ID",
    plant_name_col="Plant name",
    retirement_col="Planned retirement", retirement_row_filter=True,
    equal_share=False,
    impute_missing_years=False,
    status_allowed=COAL_STATUSES, future_statuses=COAL_FUTURE_STATUSES,
    start_drop_sentinels=("unknown",), start_drop_null=False,
    capacity_drop_null_zero=False,
    pct_grammar="ref_coal",
    plant_age_col="Plant age (years)",
)
GASOIL = FuelConfig(
    # technology=None: per-row GasCap/OilCap from the fuel classification
    # (GEM/GasOilplants_GEM.R:225-229) — see run_gasoil_pipeline.
    technology=None, unit_id_col="GEM unit ID", owner_col="Owner(s)",
    plant_name_col="Plant name",
    retirement_col="Planned retire", retirement_row_filter=True,
    equal_share=False,
    impute_missing_years=False,
    pct_grammar="ref_coal",
    extra_group_cols=("technology",),
)
HYDRO = FuelConfig(
    technology="HydroCap", unit_id_col="GEM unit ID",
    retirement_col=None, country_col="Country 1",
    start_year_col="Start Year",
)
NUCLEAR = FuelConfig(
    technology="NuclearCap", unit_id_col="GEM unit ID",
    retirement_col="Retirement Year", start_year_col="Start Year",
)
SOLAR = FuelConfig(technology="RenewablesCap", unit_id_col="GEM phase ID", country_col="Country")
WIND = FuelConfig(technology="RenewablesCap", unit_id_col="GEM phase ID")
BIOENERGY = FuelConfig(
    technology="RenewablesCap", unit_id_col="GEM phase ID", owner_col="Owner(s)",
    retirement_col="Retired Year", start_year_col="Start Year",
)
GEOTHERMAL = FuelConfig(technology="RenewablesCap", unit_id_col="GEM unit ID")


def run_fuel_pipeline(df: DataFrame, cfg: FuelConfig, country_dim: DataFrame) -> DataFrame:
    """units table → owner-level capacity time series (19-col contract).

    Lazy end-to-end: Catalyst prunes the scan to the referenced columns
    and pushes the status/sentinel filters below the ownership explode
    and the 28× year expansion — the two cardinality multipliers — so
    the expansion happens on the minimal surviving set, exactly the
    manual optimization order the reference hand-codes (SURVEY §4).
    """
    # --- clean, in reference order (GEM/Coalplants_GEM.R:41-60) ---
    out = C.filter_isin(df, "Status", cfg.status_allowed)
    if cfg.impute_missing_years:
        # hydro family imputes (Hydroplants_GEM.R:102-107); exactly
        # NULL | 'not found' qualifies — 'unknown' does not.
        out = C.impute_year(
            out, cfg.start_year_col, "Status",
            future_statuses=cfg.future_statuses,
            missing_sentinels=("not found",),
        )
    else:
        # one server-side expr parse per conjunct (r17 construction-
        # latency work — analyzed plan identical to the Column form,
        # same mechanism as the kernels.py rewrite)
        start = _q(cfg.start_year_col)
        missing_sql = _sql_in(start, cfg.start_drop_sentinels)
        if cfg.start_drop_null:
            missing_sql = f"({missing_sql} or {start} is null)"
        else:
            # coal (Coalplants_GEM.R:46-47): `start == 'unknown'` under R
            # NA semantics never matches NULL; force the conjunct FALSE so
            # NULL-start rows are kept.
            missing_sql = f"coalesce({missing_sql}, false)"
        out = C.filter_not_and(
            out,
            F.expr(_sql_in("Status", cfg.future_statuses)),
            F.expr(missing_sql),
        )
    # the ">0" sentinel replace runs AFTER the start-year step (:46→:50)
    out = C.replace_value_global(out, ">0", "unknown")
    out = C.filter_capacity_known(
        out, cfg.capacity_col, drop_null_zero=cfg.capacity_drop_null_zero
    )
    out = C.cast_numeric(out, [cfg.capacity_col, "Latitude", "Longitude"])

    # --- coordinate harmonization (:63-76) ---
    out = K.harmonize_coordinates(out, cfg.location_col)

    # --- ownership split (:104-119 / Hydroplants:159-193) ---
    out = K.split_ownership(
        out, cfg.owner_col, cfg.capacity_col,
        equal_share=cfg.equal_share, pct_grammar=cfg.pct_grammar,
    )
    out = C.filter_notnull(out, [cfg.unit_id_col])
    if cfg.retirement_col is not None and cfg.retirement_row_filter:
        out = C.filter_null_or_ge(out, cfg.retirement_col, 2024)

    # --- year expansion + per-year capacity (:134-152) ---
    out = K.expand_years(
        out,
        start_year_col=cfg.start_year_col,
        retirement_col=cfg.retirement_col,
    )

    # --- location-level group-sum (:158-171): the unit/phase ID is
    # dropped BEFORE aggregating — the output row grain is
    # (location, owner, year) plus the carried descriptive columns.
    # The keys include the location, so the aggregate needs no
    # exchange of its own (harmonize already partitioned on it) ---
    group_cols = [
        cfg.location_col, cfg.country_col, cfg.plant_name_col, "Region",
        "company_name", "production_year", "Latitude", "Longitude",
        *cfg.extra_group_cols,
    ]
    if cfg.plant_age_col:
        group_cols.append(cfg.plant_age_col)
    out = A.agg_sum_groups(out, group_cols, {"capacity": "capacity"})

    # --- enrich + canonical contract (:177-223) ---
    out = join_lookup_dim(
        out.withColumnRenamed(cfg.country_col, "country_name"),
        country_dim.select("country_name", "iso2"),
        key="country_name",
        overrides={
            "iso2": F.expr(
                "case when country_name = 'Kosovo' then 'XK' else iso2 end"
            )
        },
    )
    out = (
        out.withColumn(
            "coordinates", F.expr("concat_ws(', ', Latitude, Longitude)")
        )
        .withColumnsRenamed(
            {
                cfg.location_col: "asset_id",
                cfg.plant_name_col: "asset_name",
                "Region": "region",
                "iso2": "country_iso2",
            }
        )
        .withColumns(
            {
                "company_id": F.expr("cast(null as string)"),
                "workforce_size": F.expr("cast(null as double)"),
                "workforce_source": F.expr("cast(null as string)"),
                "sector": F.lit("Power"),
                **(
                    {"technology": F.lit(cfg.technology)}
                    if cfg.technology is not None
                    else {}
                ),
                "capacity_unit": F.lit("MW"),
                "plant_age_years": (
                    F.expr(f"try_cast({_q(cfg.plant_age_col)} as double)")
                    if cfg.plant_age_col
                    else F.expr("cast(null as double)")
                ),
                "plant_age_rank": F.expr("cast(null as double)"),
                "capacity_factor": F.expr("cast(null as double)"),
                "emission_factor": F.expr("cast(null as double)"),
            }
        )
    )
    return out.select(*CANONICAL_COLUMNS)


def classify_gasoil_fuel(df: DataFrame, fuel_col: str = "Fuel") -> DataFrame:
    """Gas/oil fuel classification (``GEM/GasOilplants_GEM.R:20-42``):
    first-mention-wins between ``fossil gas`` and ``fossil liquids``,
    then keep only classified rows (:73) and map the classification to
    the per-row ``technology`` value (:225-229)."""
    out = df.withColumn(
        "classification",
        classify_first_mention(
            F.col(fuel_col),
            [("fossil gas", "Gas Power Plant"), ("fossil liquids", "Oil Power Plant")],
            default="Not Sure",
        ),
    )
    out = C.filter_isin(out, "classification", ["Gas Power Plant", "Oil Power Plant"])
    return out.withColumn(
        "technology",
        F.when(F.col("classification") == "Gas Power Plant", "GasCap").otherwise("OilCap"),
    )


def run_gasoil_pipeline(df: DataFrame, country_dim: DataFrame) -> DataFrame:
    """``GasOilplants_GEM.R`` end-to-end: classification + the shared
    fuel pipeline with the per-row technology column in the grain."""
    return run_fuel_pipeline(classify_gasoil_fuel(df), GASOIL, country_dim)


def consolidate_total(
    fuel_outputs: list[DataFrame],
    steel: DataFrame | None = None,
    emission_factors: DataFrame | None = None,
    country_dim: DataFrame | None = None,
    materialize: bool = True,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """``TotalData_GEM.R`` consolidation: union the fuel outputs, mint
    deterministic surrogate company IDs (:21-34), merge the
    already-wrangled steel dataset (:44-59), and (optionally) attach
    emission factors with the 2-level country→global fallback
    (:101-135) — handled by ``operators.joins.join_fallback_chain``.

    Steel merge semantics (:44-59): dedup steel to one row per
    ``company_name`` (R ``slice(1)`` keeps file order; here the
    deterministic proxy is min ``asset_id``), then steel's
    ``company_id`` WINS over the minted surrogate wherever the company
    also appears in steel, and finally the steel rows themselves are
    appended.

    ``emission_factors`` is the Climate-Trace-shaped table
    (source_type, iso3_country, emissions_factor) with "Global" rows
    for the fallback level; ``country_dim`` supplies the iso2→iso3
    bridge (``GEM/TotalData_GEM.R:101-103``).

    ``materialize`` (default True): the consolidated union feeds TWO
    passes (the surrogate-id dim derivation and the returned join), so
    lazy fuel-output subtrees would execute twice per action — and the
    per-fuel pipelines are the expensive part of this plan. The
    default lets :func:`~gem_data_wrangle_spark.operators.kernels.
    surrogate_ids` truncate the union once (lazy ``localCheckpoint``;
    durable ``DataFrame.checkpoint`` under ``checkpoint_dir`` for
    cluster runs) — measured on the all-8 capstone at sf0.1: 36.0 s
    fully lazy → 19.6 s materialized once (an eager per-pipeline
    thread-pool variant was tried and measured SLOWER, 21-24 s: eight
    separate checkpoint jobs beat none of the shared-plan execution;
    round-16 optimization notes, in git history). ``materialize=False``
    keeps the fully lazy single-plan form for callers that would rather
    recompute the pipelines than store the location-grain intermediate.
    """
    total = A.union_rows(fuel_outputs, allow_missing=True)
    total = total.drop("company_id")
    total = K.surrogate_ids(
        total, "company_name", id_col="company_id",
        materialize=materialize, checkpoint_dir=checkpoint_dir,
    )
    if steel is not None:
        # company_name is open-domain user data, so take the two-phase
        # min_by dedup (VERDICT r4 item 4). Either form is skew-bounded
        # — the window path's rank filter plans as a map-side-partial
        # WindowGroupLimit (SCALE.md r5) — but the aggregate shape
        # needs no sort and composes with the surrounding joins. It
        # needs a plain ascending non-null order column; dropping
        # NULL-id steel rows FIRST is semantics-preserving versus the
        # old asc_nulls_last window (a borrowed NULL id coalesces back
        # to the minted surrogate anyway).
        steel_ids = A.dedup_first_per_key(
            steel.select("company_name", "company_id").filter(
                F.col("company_id").isNotNull()
            ),
            ["company_name"],
            ["company_id"],
            skew_safe=True,
        ).withColumnRenamed("company_id", "_steel_company_id")
        # bounded dim (distinct steel companies) → broadcast is safe
        total = total.join(F.broadcast(steel_ids), on="company_name", how="left")
        total = total.withColumn(
            "company_id",
            F.coalesce(F.col("_steel_company_id"), F.col("company_id")),
        ).drop("_steel_company_id")
        total = A.union_rows(
            [total.select(*CANONICAL_COLUMNS), steel.select(*CANONICAL_COLUMNS)]
        )
    if emission_factors is not None:
        from gem_data_wrangle_spark.operators.joins import join_fallback_chain

        if country_dim is None:
            raise ValueError("country_dim required to bridge iso2→iso3")
        iso_bridge = country_dim.select(
            F.col("iso2").alias("country_iso2"), F.col("iso3").alias("country_iso3")
        ).distinct()
        total = total.join(F.broadcast(iso_bridge), on="country_iso2", how="left")
        # technology → Climate Trace source_type (GEM/TotalData_GEM.R:106-113)
        total = total.withColumn(
            "source_type",
            F.when(F.col("technology") == "CoalCap", "coal")
            .when(F.col("technology") == "GasCap", "gas")
            .when(F.col("technology") == "OilCap", "oil"),
        )
        specific = emission_factors.filter(F.col("iso3_country") != "Global").select(
            F.col("iso3_country").alias("country_iso3"),
            F.col("source_type"),
            F.col("emissions_factor"),
        )
        general = emission_factors.filter(F.col("iso3_country") == "Global").select(
            F.col("source_type"), F.col("emissions_factor")
        )
        total = join_fallback_chain(
            total.drop("emission_factor"),
            specific,
            general,
            specific_on=["country_iso3", "source_type"],
            general_on=["source_type"],
            value_col="emissions_factor",
            out_col="emission_factor",
            default=0.0,
        )
        # non-fossil technologies carry factor 0 (GEM/TotalData_GEM.R:134)
        total = total.withColumn(
            "emission_factor",
            F.when(F.col("source_type").isNotNull(), F.col("emission_factor")).otherwise(F.lit(0.0)),
        )
    return total.select(*CANONICAL_COLUMNS)


def unique_assets(total: DataFrame) -> DataFrame:
    """The consolidation's second output (``GEM/TotalData_GEM.R:143-148``):
    distinct (asset_id, coordinates). The reference computes
    ``data_unique`` but then writes ``data`` — a documented
    write-the-wrong-frame bug (SURVEY §3); this returns the deduped
    frame the reference *intended* to write."""
    return total.select("asset_id", "coordinates").distinct()
