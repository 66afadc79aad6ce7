"""Independent reference results, computed in DuckDB from the generated
input files, and fingerprints of the program's outputs to compare.

Nothing here calls the program. The GEM semantics are restated from
the reference scripts (status whitelists, start-year drop or
imputation, the ``>0`` sentinel replace, capacity sentinels, coordinate
harmonization with NA-poisoned means, ownership split with the two
percent grammars, the 2023-2050 expansion, location-grain group-sum,
ISO2 lookup with the Kosovo override, surrogate ids, the steel merge
and the two-level emission-factor fallback). The MinHash/LSH results
are replayed bit for bit: the program's hash of shingle ``t`` for hash
``i`` is ``md5('{i}|' || t)`` and a band signature concatenates the
lexicographic minima, which DuckDB computes the same way.
"""

from __future__ import annotations

import math
import os

import duckdb

from perfbench.gen import FUEL_COLUMNS, FUELS

YEARS = (2023, 2050)
COAL_STATUSES = ("construction", "operating", "announced", "pre-permit", "permitted")
COAL_FUTURE = ("announced", "construction", "pre-permit", "permitted")
OTHER_STATUSES = ("construction", "operating", "announced", "pre-construction")
OTHER_FUTURE = ("announced", "construction", "pre-construction")
TECHNOLOGY = {
    "COAL": "CoalCap", "GASOIL": None, "HYDRO": "HydroCap", "NUCLEAR": "NuclearCap",
    "SOLAR": "RenewablesCap", "WIND": "RenewablesCap", "BIOENERGY": "RenewablesCap",
    "GEOTHERMAL": "RenewablesCap",
}


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return con


def _q(name: str) -> str:
    return '"' + name.replace('"', '""') + '"'


def _lits(values) -> str:
    return ", ".join("'" + v + "'" for v in values)


def _country_table(con) -> None:
    from gem_data_wrangle_spark.data.country_codes import COUNTRY_CODES

    con.execute("CREATE OR REPLACE TEMP TABLE countries (country_name VARCHAR, iso2 VARCHAR, iso3 VARCHAR)")
    con.executemany("INSERT INTO countries VALUES (?, ?, ?)", COUNTRY_CODES)


def fuel_sql(fuel: str, path: str) -> str:
    """One fuel pipeline's output rows (asset_id, company_name,
    country_iso2, technology, production_year, capacity)."""
    c = FUEL_COLUMNS[fuel]
    coal_like = fuel in ("COAL", "GASOIL")
    statuses = COAL_STATUSES if fuel == "COAL" else OTHER_STATUSES
    future = COAL_FUTURE if fuel == "COAL" else OTHER_FUTURE
    start, cap, owner = _q(c["start"]), '"Capacity (MW)"', _q(c["owner"])
    retire = _q(c["retire"]) if c["retire"] else "CAST(NULL AS VARCHAR)"
    src = f"read_parquet('{path}/*.parquet')"
    if fuel == "GASOIL":
        fuel_pos = ("instr(lower(Fuel), 'fossil gas')", "instr(lower(Fuel), 'fossil liquids')")
        src = f"""(SELECT * FROM (SELECT *, CASE
                 WHEN {fuel_pos[0]} > 0 AND NOT ({fuel_pos[1]} > 0 AND {fuel_pos[1]} < {fuel_pos[0]}) THEN 'GasCap'
                 WHEN {fuel_pos[1]} > 0 AND NOT ({fuel_pos[0]} > 0 AND {fuel_pos[0]} < {fuel_pos[1]}) THEN 'OilCap'
               END AS technology FROM {src}) WHERE technology IS NOT NULL)"""
        tech = "technology"
    else:
        tech = f"'{TECHNOLOGY[fuel]}'"
    if coal_like:
        # coal/gasoil drop future-status rows with a missing start year;
        # coal's `== 'unknown'` never matches NULL, gasoil drops NULL too
        missing = f"{start} IN ('unknown')" if fuel == "COAL" else f"({start} IN ('not found') OR {start} IS NULL)"
        if fuel == "COAL":
            missing = f"coalesce({missing}, false)"
        start_step = f"SELECT * FROM s0 WHERE NOT (Status IN ({_lits(future)}) AND {missing})"
    else:
        # the hydro family imputes: 2030 for future, 2024 for operating
        miss = f"({start} IS NULL OR {start} = 'not found')"
        start_step = f"""SELECT * REPLACE (CASE
            WHEN Status IN ({_lits(future)}) AND {miss} THEN '2030'
            WHEN Status = 'operating' AND {miss} THEN '2024'
            ELSE {start} END AS {start}) FROM s0"""
    text_cols = [c["unit"], "GEM location ID", c["plant"], c["country"], c["owner"],
                 "Capacity (MW)", c["start"], "Latitude", "Longitude", "Region"]
    text_cols += [c["retire"]] if c["retire"] else []
    text_cols += [c["age"]] if "age" in c else []
    replace = ", ".join(
        f"CASE WHEN {_q(x)} = '>0' THEN 'unknown' ELSE {_q(x)} END AS {_q(x)}" for x in text_cols
    )
    cap_drop = f"{cap} IN ('N/A', 'unknown')"
    if not fuel == "COAL":
        cap_drop = f"({cap_drop} OR {cap} IS NULL OR TRY_CAST({cap} AS DOUBLE) = 0)"
    pct_re = r"([0-9]+)%" if coal_like else r"\[([0-9]+)%\]"
    pct = f"CASE WHEN regexp_extract(part, '{pct_re}', 1) <> '' THEN CAST(regexp_extract(part, '{pct_re}', 1) AS DOUBLE) / 100 END"
    share = pct if coal_like else f"coalesce({pct}, 1.0 / n_owners)"
    ret_filter = f"AND ({retire} IS NULL OR TRY_CAST({retire} AS DOUBLE) >= 2024)" if coal_like else ""
    age = f", {_q(c['age'])}" if "age" in c else ""
    return f"""
    WITH s0 AS (SELECT *, {tech} AS _tech FROM {src} WHERE Status IN ({_lits(statuses)})),
    s1 AS ({start_step}),
    s2 AS (SELECT * REPLACE ({replace}) FROM s1),
    s3 AS (SELECT * REPLACE (TRY_CAST({cap} AS DOUBLE) AS {cap},
                             TRY_CAST(Latitude AS DOUBLE) AS Latitude,
                             TRY_CAST(Longitude AS DOUBLE) AS Longitude)
           FROM s2 WHERE NOT coalesce({cap_drop}, false)),
    loc AS (
      SELECT "GEM location ID" AS _loc,
             count(DISTINCT coalesce(CAST(Latitude AS VARCHAR), '-') || '|' ||
                            coalesce(CAST(Longitude AS VARCHAR), '-')) > 1 AS differ,
             CASE WHEN count(Latitude) < count(*) THEN NULL ELSE avg(Latitude) END AS lat_mean,
             CASE WHEN count(Longitude) < count(*) THEN NULL ELSE avg(Longitude) END AS lon_mean,
             max(Latitude) AS lat1, max(Longitude) AS lon1
      FROM s3 GROUP BY 1),
    s4 AS (SELECT s3.* REPLACE (CASE WHEN differ THEN lat_mean ELSE lat1 END AS Latitude,
                                CASE WHEN differ THEN lon_mean ELSE lon1 END AS Longitude),
                  regexp_split_to_array({owner}, ';\\s*') AS parts
           FROM s3 JOIN loc ON s3."GEM location ID" = loc._loc),
    s5 AS (SELECT *, len(parts) AS n_owners, unnest(parts) AS part FROM s4),
    s6 AS (SELECT *, trim(regexp_extract(part, '^[^\\[]+', 0)) AS company_name,
                  {cap} * ({share}) AS alloc
           FROM s5 WHERE {_q(c["unit"])} IS NOT NULL {ret_filter}),
    s7 AS (SELECT *, unnest(range({YEARS[0]}, {YEARS[1] + 1})) AS production_year FROM s6),
    s8 AS (SELECT *, CASE
             WHEN production_year < TRY_CAST({start} AS DOUBLE) THEN 0.0
             WHEN TRY_CAST({retire} AS DOUBLE) IS NOT NULL
                  AND production_year >= TRY_CAST({retire} AS DOUBLE)
                  AND TRY_CAST({retire} AS DOUBLE) <= {YEARS[1]} THEN 0.0
             ELSE alloc END AS cap_y FROM s7),
    g AS (SELECT "GEM location ID" AS asset_id, {_q(c["country"])} AS country_name,
                 company_name, _tech AS technology, production_year,
                 coalesce(sum(cap_y), 0.0) AS capacity
          FROM s8
          GROUP BY "GEM location ID", {_q(c["country"])}, {_q(c["plant"])}, Region,
                   company_name, production_year, Latitude, Longitude, _tech{age})
    SELECT g.asset_id, g.company_name,
           CASE WHEN g.country_name = 'Kosovo' THEN 'XK' ELSE countries.iso2 END AS country_iso2,
           g.technology, CAST(g.production_year AS INTEGER) AS production_year, g.capacity
    FROM g LEFT JOIN countries ON g.country_name = countries.country_name
    """


def gem_total_fingerprint(root: str) -> dict:
    """Fingerprint of the all-fuel consolidation over ``root``."""
    con = connect()
    _country_table(con)
    union = " UNION ALL ".join(f"({fuel_sql(f, os.path.join(root, f.lower()))})" for f in FUELS)
    con.execute(f"CREATE TEMP TABLE fuel AS {union}")
    con.execute(f"""
    CREATE TEMP TABLE total AS
    WITH ids AS (
      SELECT company_name, printf('TFL%08d', row_number() OVER (ORDER BY company_name)) AS sid
      FROM (SELECT DISTINCT company_name FROM fuel WHERE company_name IS NOT NULL)),
    steel AS (SELECT * FROM read_parquet('{root}/steel/*.parquet')),
    steel_ids AS (SELECT company_name, min(company_id) AS stl FROM steel
                  WHERE company_id IS NOT NULL GROUP BY 1),
    bridge AS (SELECT DISTINCT iso2, iso3 FROM countries),
    allrows AS (
      SELECT f.country_iso2, f.technology, f.production_year, f.capacity,
             coalesce(steel_ids.stl, ids.sid) AS company_id
      FROM fuel f LEFT JOIN ids USING (company_name) LEFT JOIN steel_ids USING (company_name)
      UNION ALL
      SELECT country_iso2, technology, production_year, capacity, company_id FROM steel),
    ef AS (SELECT * FROM read_parquet('{root}/emission_factors/*.parquet'))
    SELECT r.technology, r.production_year, r.capacity, r.company_id,
           CASE WHEN st IS NULL THEN 0.0
                ELSE coalesce(spec.emissions_factor, gen.emissions_factor, 0.0) END AS emission_factor
    FROM (SELECT r.*, bridge.iso3,
                 CASE r.technology WHEN 'CoalCap' THEN 'coal' WHEN 'GasCap' THEN 'gas'
                                   WHEN 'OilCap' THEN 'oil' END AS st
          FROM allrows r LEFT JOIN bridge ON r.country_iso2 = bridge.iso2) r
    LEFT JOIN (SELECT * FROM ef WHERE iso3_country <> 'Global') spec
      ON r.iso3 = spec.iso3_country AND r.st = spec.source_type
    LEFT JOIN (SELECT source_type, emissions_factor FROM ef WHERE iso3_country = 'Global') gen
      ON r.st = gen.source_type
    """)
    fp = total_fingerprint(con, "total")
    con.close()
    return fp


def total_fingerprint(con, relation: str) -> dict:
    """Row count, capacity per technology x year, capacity-weighted
    emission factor per technology and distinct company ids of a
    consolidated output (a table name or a ``read_parquet(...)``)."""
    rows, ids = con.execute(f"SELECT count(*), count(DISTINCT company_id) FROM {relation}").fetchone()
    cap = con.execute(
        f"SELECT technology, production_year, sum(capacity) FROM {relation} GROUP BY 1, 2"
    ).fetchall()
    ef = con.execute(
        f"SELECT technology, sum(capacity * emission_factor) FROM {relation} GROUP BY 1"
    ).fetchall()
    return {
        "rows": rows,
        "company_ids": ids,
        "capacity": {f"{t}|{y}": v for t, y, v in cap},
        "emissions": {str(t): v for t, v in ef},
    }


def output_fingerprint(path: str) -> dict:
    con = connect()
    try:
        return total_fingerprint(con, f"read_parquet('{path}/*.parquet')")
    finally:
        con.close()


def same(a, b, rel: float = 1e-9) -> bool:
    """Deep equality with a relative tolerance on floats (the two
    engines sum in different orders)."""
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(same(a[k], b[k], rel) for k in a)
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(a, b, rel_tol=rel, abs_tol=1e-6)
    return a == b


# --------------------------------------------------------------------
# MinHash / LSH replay
# --------------------------------------------------------------------

def _signatures(con, docs: str, out: str, bands: int = 4, rows: int = 4) -> None:
    """(doc_id, band, signature) for the word-bigram shingles of
    ``docs`` (a relation with doc_id, text), as the program builds them."""
    con.execute(f"""
    CREATE OR REPLACE TEMP TABLE {out} AS
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM {docs}),
    pos AS (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toks),
    sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i + 1] AS s FROM pos),
    h AS (SELECT doc_id, k, min(md5(CAST(k AS VARCHAR) || '|' || s)) AS m
          FROM sh, range(0, {bands * rows}) q(k) GROUP BY doc_id, k)
    SELECT doc_id, CAST(k // {rows} AS BIGINT) AS band,
           string_agg(m, '' ORDER BY k) AS signature
    FROM h GROUP BY doc_id, k // {rows}
    """)


def neardup_survivors(con, docs: str) -> set[int]:
    """Survivor ids of near-duplicate removal over ``docs``: band
    collisions, transitive closure, lowest id of each cluster kept."""
    _signatures(con, docs, "sig")
    pairs = con.execute("""
        SELECT DISTINCT a.doc_id, b.doc_id FROM sig a JOIN sig b
        ON a.band = b.band AND a.signature = b.signature AND a.doc_id < b.doc_id
    """).fetchall()
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    ids = [r[0] for r in con.execute(f"SELECT doc_id FROM {docs}").fetchall()]
    losers = {i for i in parent if find(i) != i}
    return set(ids) - losers


def screen_survivors(con, snapshot_globs: list[str]) -> list[set[int]]:
    """Per-snapshot survivors of the streaming near-dup screen: a
    document is dropped when any of its band signatures equals one of
    a surviving document of an earlier snapshot."""
    con.execute("CREATE OR REPLACE TEMP TABLE idx (band BIGINT, signature VARCHAR)")
    out = []
    for pattern in snapshot_globs:
        docs = f"read_parquet('{pattern}')"
        _signatures(con, docs, "ssig")
        matched = {r[0] for r in con.execute(
            "SELECT DISTINCT doc_id FROM ssig JOIN idx USING (band, signature)"
        ).fetchall()}
        keep = {r[0] for r in con.execute(f"SELECT doc_id FROM {docs}").fetchall()} - matched
        con.execute("CREATE OR REPLACE TEMP TABLE keep AS SELECT UNNEST(?) AS doc_id", [sorted(keep)])
        con.execute("INSERT INTO idx SELECT band, signature FROM ssig JOIN keep USING (doc_id)")
        out.append(keep)
    return out


def parquet_ids(con, path: str, col: str = "doc_id") -> list[int]:
    """``col`` of a parquet directory, or of a glob ending in .parquet."""
    pattern = path if path.endswith(".parquet") else f"{path}/*.parquet"
    return [r[0] for r in con.execute(f"SELECT {col} FROM read_parquet('{pattern}')").fetchall()]
