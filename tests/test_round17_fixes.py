"""Round-17 optimization invariants.

The r17 construction-latency work rebuilt the three chattiest GEM
kernels (harmonize_coordinates, split_ownership, expand_years) so each
Column is ONE server-side ``F.expr`` parse instead of a chain of py4j
Column-object round-trips. These tests rebuild the pre-r17 Column
forms inline and pin the equivalence: expand_years by comparing
normalized analyzed plans (expression IDs stripped); harmonize_coordinates
and split_ownership — since rewritten to a location window and a
``size(split(owner))`` share, so their plans differ by design — by
comparing the collected rows on a fixture that carries their edge cases.
"""

from __future__ import annotations

import re
from collections import Counter

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from gem_data_wrangle_spark.functions import strings as S
from gem_data_wrangle_spark.functions.conditional import case_when_capacity
from gem_data_wrangle_spark.operators import kernels as K


def _norm(df) -> str:
    """Analyzed plan with expression IDs normalized."""
    return re.sub(r"#\d+", "#N", df._jdf.queryExecution().analyzed().toString())


@pytest.fixture(scope="module")
def units(spark):
    base = spark.range(0, 40).selectExpr(
        "concat('U', id) as `GEM unit/phase ID`",
        "concat('L', id % 7) as `GEM location ID`",
        "cast(id % 180 - 90 as double) as Latitude",
        "cast(id % 360 - 180 as double) as Longitude",
        "case id % 3 when 0 then concat('A', id % 5, ' [40%]; B', id % 5, ' [60%]') "
        "when 1 then concat('A', id % 5, ' [100%]') "
        "else concat('A', id % 5, '; B', id % 5) end as Owner",
        "cast(id % 500 as string) as `Capacity (MW)`",
        "cast(1990 + id % 45 as string) as `Start year`",
        "case when id % 11 = 0 then cast(2015 + id % 25 as string) end as `Planned retirement`",
    )
    edge = spark.createDataFrame(
        [
            # NULL location
            ("UX1", None, 10.0, 20.0, "N1 [50%]; N2", "100", "2000", None),
            # units disagree, one of them with a NULL coordinate
            ("UX2", "LD", 1.0, 2.0, "D1", "10", "2001", None),
            ("UX3", "LD", 3.0, None, "D2 [30%]", "20", "2002", None),
            ("UX4", "LD", 5.0, 6.0, "D3; D4", "30", "2003", "2030"),
            # trailing separator, empty owner, NULL owner
            ("UX5", "LT", 7.0, 8.0, "T1 [40%];", "40", "2004", None),
            ("UX6", "LE", 9.0, 9.0, "", "50", "2005", None),
            ("UX7", "LN", 9.0, 9.0, None, "60", "2006", None),
            # two identical input rows
            ("UX8", "LI", 4.0, 4.0, "I1; I2", "70", "2007", None),
            ("UX8", "LI", 4.0, 4.0, "I1; I2", "70", "2007", None),
        ],
        base.schema,
    )
    return base.unionByName(edge)


def _harmonize_column_built(df, location_col, lat_col="Latitude", lon_col="Longitude"):
    """The pre-r17 Column-built harmonize_coordinates, verbatim."""
    lat, lon = F.col(lat_col), F.col(lon_col)
    n_rows = F.count(F.lit(1))
    na_poisoning_mean = lambda c: F.when(  # noqa: E731
        F.count(c) < n_rows, F.lit(None).cast("double")
    ).otherwise(F.avg(c))
    pair = F.struct(lat.alias("a"), lon.alias("b"))
    summary = df.groupBy(location_col).agg(
        (F.min(pair) != F.max(pair)).alias("_coords_differ"),
        na_poisoning_mean(lat).alias("_lat_mean"),
        na_poisoning_mean(lon).alias("_lon_mean"),
        F.first(lat, ignorenulls=False).alias("_lat_first"),
        F.first(lon, ignorenulls=False).alias("_lon_first"),
    )
    summary = summary.select(
        location_col,
        F.when(F.col("_coords_differ"), F.col("_lat_mean"))
        .otherwise(F.col("_lat_first"))
        .alias(lat_col),
        F.when(F.col("_coords_differ"), F.col("_lon_mean"))
        .otherwise(F.col("_lon_first"))
        .alias(lon_col),
    )
    return df.drop(lat_col, lon_col).join(summary, on=location_col, how="left")


def _split_column_built(
    df, owner_col, capacity_col, equal_share, pct_grammar,
    out_owner="company_name", out_share="ownership_share",
    out_alloc="capacity_allocated", row_id_col="row_id",
):
    """The pre-r17 Column-built split_ownership, verbatim (its row-id
    helper inlined)."""
    exploded = df.withColumn(row_id_col, F.monotonically_increasing_id()).withColumn(
        "_owner_part", S.explode_split(F.col(owner_col))
    )
    exploded = exploded.withColumns(
        {
            out_owner: S.owner_name(F.col("_owner_part")),
            "_pct": S.owner_pct(F.col("_owner_part"), grammar=pct_grammar),
        }
    )
    if equal_share:
        w = Window.partitionBy(row_id_col)
        share = F.coalesce(F.col("_pct"), F.lit(1.0) / F.count(F.lit(1)).over(w))
    else:
        share = F.col("_pct")
    return (
        exploded.withColumn(out_share, share)
        .withColumn(
            out_alloc, F.col(capacity_col).try_cast("double") * F.col(out_share)
        )
        .drop("_owner_part", "_pct")
    )


def _expand_column_built(
    df, start_year_col, retirement_col, alloc_col="capacity_allocated",
    year_start=2023, year_end=2050,
    out_year="production_year", out_value="capacity",
):
    """The pre-r17 Column-built expand_years, verbatim."""
    year = F.col(out_year)
    start = F.col(start_year_col).try_cast("double")
    ret = (
        F.col(retirement_col).try_cast("double")
        if retirement_col is not None
        else F.lit(None).cast("double")
    )
    return df.withColumn(
        out_year, F.explode(F.sequence(F.lit(year_start), F.lit(year_end)))
    ).withColumn(
        out_value,
        case_when_capacity(year, start, ret, F.col(alloc_col), horizon_end=year_end),
    )


def _rows(df) -> Counter:
    return Counter(tuple(r) for r in df.collect())


def test_harmonize_coordinates_rows_identical(units):
    """The location-window form returns the groupBy + left-join form's
    rows and columns: NULL locations get NULL coordinates, a disagreeing
    location with a NULL coordinate is NA-poisoned on that axis only."""
    new = K.harmonize_coordinates(units, "GEM location ID")
    old = _harmonize_column_built(units, "GEM location ID")
    assert new.columns == old.columns
    assert _rows(new) == _rows(old)
    edge = {
        r["GEM unit/phase ID"]: (r["Latitude"], r["Longitude"])
        for r in new.filter("`GEM unit/phase ID` like 'UX%'").collect()
    }
    assert edge["UX1"] == (None, None)
    assert edge["UX2"] == (3.0, None)


@pytest.mark.parametrize("equal_share,grammar", [
    (False, "ref_coal"),
    (True, "ref_hydro"),
    (True, "bracketed"),
])
def test_split_ownership_rows_identical(units, equal_share, grammar):
    """The ``1/size(split(owner))`` share returns the row-id window
    form's rows, including trailing-separator, empty, NULL and
    duplicated owner rows."""
    new = K.split_ownership(
        units, "Owner", "Capacity (MW)",
        equal_share=equal_share, pct_grammar=grammar,
    )
    old = _split_column_built(
        units, "Owner", "Capacity (MW)",
        equal_share=equal_share, pct_grammar=grammar,
    ).drop("row_id")
    assert new.columns == old.columns
    assert _rows(new) == _rows(old)


@pytest.mark.parametrize("retirement", ["Planned retirement", None])
def test_expand_years_plan_identical(units, retirement):
    src = K.split_ownership(
        units, "Owner", "Capacity (MW)", equal_share=False, pct_grammar="ref_coal"
    )
    new = K.expand_years(
        src, start_year_col="Start year", retirement_col=retirement
    )
    old = _expand_column_built(
        src, start_year_col="Start year", retirement_col=retirement
    )
    assert _norm(new) == _norm(old)


def test_lit_double_array_matches_elementwise(spark):
    """The one-round-trip literal builder must produce the SAME
    optimized plan and values as the element-wise F.array(F.lit(...))
    form it replaced — including exponent-formatted, negative-zero and
    non-finite (fallback path) values."""
    from gem_data_wrangle_spark.operators.similarity import _lit_double_array

    df = spark.range(2).selectExpr("cast(id as double) as x")
    for vals in (
        [1.0, -1.0],
        [1e-05, 3.141592653589793, 12345678901234.5, -0.0],
        [float("inf"), 1.0],  # non-finite → element-wise fallback
    ):
        a = df.select(F.array(*[F.lit(v) for v in vals]).alias("p"))
        b = df.select(_lit_double_array(vals).alias("p"))
        na = re.sub(r"#\d+", "#N", a._jdf.queryExecution().optimizedPlan().toString())
        nb = re.sub(r"#\d+", "#N", b._jdf.queryExecution().optimizedPlan().toString())
        assert na == nb
        assert a.collect() == b.collect()


def test_lsh_bucket_values_stable(spark):
    """lsh_bucket's literal-construction change may not move a single
    bucket bit: pin the bucket strings on a deterministic frame."""
    from gem_data_wrangle_spark.operators.similarity import (
        as_double_array,
        hyperplanes,
        lsh_bucket,
    )

    df = spark.range(16).selectExpr(
        "id as vec_id",
        "transform(sequence(1, 8), j -> cast((id * j) % 7 - 3 as double)) as v",
    )
    planes = hyperplanes(4, 8)
    rows = df.select(
        "vec_id", lsh_bucket(as_double_array(F.col("v")), planes).alias("b")
    ).collect()
    elementwise = df.select(
        "vec_id",
        F.concat(*[
            F.when(
                F.aggregate(
                    F.zip_with(
                        as_double_array(F.col("v")),
                        F.array(*[F.lit(x) for x in plane]),
                        lambda x, y: x * y,
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ) > 0, F.lit("1"),
            ).otherwise(F.lit("0"))
            for plane in planes
        ]).alias("b"),
    ).collect()
    assert rows == elementwise


def test_split_ownership_values_unchanged(units):
    """Value-level spot check on top of the plan identity: the share
    math survives the D-suffix literal rewrite."""
    rows = (
        K.split_ownership(
            units, "Owner", "Capacity (MW)",
            equal_share=True, pct_grammar="ref_hydro",
        )
        .groupBy()
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("ownership_share"), 6).alias("share_sum"),
            F.round(F.sum("capacity_allocated"), 6).alias("alloc_sum"),
        )
        .collect()[0]
    )
    old = (
        _split_column_built(
            units, "Owner", "Capacity (MW)",
            equal_share=True, pct_grammar="ref_hydro",
        )
        .groupBy()
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("ownership_share"), 6).alias("share_sum"),
            F.round(F.sum("capacity_allocated"), 6).alias("alloc_sum"),
        )
        .collect()[0]
    )
    assert rows == old
