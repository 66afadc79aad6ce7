"""Seeded input generators for the benchmark workloads.

Everything here is plain Python + pyarrow: the inputs are written to
parquet before the program's process starts, so the program only ever
sees files. The same seed always gives the same files.

Two families:

* GEM tracker tables (one per fuel), shaped like FIXTURES.md A1-A8:
  the real per-fuel column names, the string sentinels the pipelines
  filter on (``N/A``, ``unknown``, ``not found``, ``>0``, NULL), 1-4
  owners per unit with and without ``[NN%]`` shares, Zipf-distributed
  owner sizes, 1-4 units per location with jittered coordinates, plus
  the steel table and the emission-factor table the consolidation
  reads.
* Web-like crawl snapshots: planted exact-duplicate and near-duplicate
  clusters inside each snapshot, a slice of documents the quality gate
  must reject, and a stated fraction of each snapshot re-crawling
  documents of earlier snapshots under new ids.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from gem_data_wrangle_spark.data.country_codes import COUNTRY_CODES

# Per-fuel column names, as the eight tracker sheets spell them
# (FIXTURES.md A1-A6). Keys are the FuelConfig names in plans.gem.
FUEL_COLUMNS = {
    "COAL": dict(unit="GEM unit/phase ID", plant="Plant name", owner="Owner",
                 retire="Planned retirement", country="Country/Area",
                 start="Start year", age="Plant age (years)"),
    "GASOIL": dict(unit="GEM unit ID", plant="Plant name", owner="Owner(s)",
                   retire="Planned retire", country="Country/Area",
                   start="Start year"),
    "HYDRO": dict(unit="GEM unit ID", plant="Project Name", owner="Owner",
                  retire=None, country="Country 1", start="Start Year"),
    "NUCLEAR": dict(unit="GEM unit ID", plant="Project Name", owner="Owner",
                    retire="Retirement Year", country="Country/Area",
                    start="Start Year"),
    "SOLAR": dict(unit="GEM phase ID", plant="Project Name", owner="Owner",
                  retire="Retired year", country="Country", start="Start year"),
    "WIND": dict(unit="GEM phase ID", plant="Project Name", owner="Owner",
                 retire="Retired year", country="Country/Area",
                 start="Start year"),
    "BIOENERGY": dict(unit="GEM phase ID", plant="Project Name",
                      owner="Owner(s)", retire="Retired Year",
                      country="Country/Area", start="Start Year"),
    "GEOTHERMAL": dict(unit="GEM unit ID", plant="Project Name", owner="Owner",
                       retire="Retired year", country="Country/Area",
                       start="Start year"),
}
FUELS = list(FUEL_COLUMNS)

_STATUSES = (
    ["operating"] * 10 + ["construction"] * 3 + ["announced"] * 3
    + ["pre-permit", "permitted", "pre-construction", "cancelled", "retired",
       "shelved", "mothballed", "cancelled - inferred 4 y",
       "shelved - inferred 2 y"]
)
_REGIONS = ["Europe", "Americas", "Oceania", "Asia", "Africa"]
_FUEL_MIX = [
    "fossil gas: natural gas",
    "fossil liquids: fuel oil",
    "fossil gas: natural gas, fossil liquids: diesel",
    "fossil liquids: fuel oil, fossil gas: natural gas",
    "industrial by-product: blast furnace gas",
    None,
]
# Countries the ISO2 join must hit, plus Kosovo (the XK override) and
# one name the dimension does not know (NULL iso2).
_COUNTRIES = [name for name, _, _ in COUNTRY_CODES[:250]] + ["Kosovo", "Atlantis"]


def _write(table: pa.Table, path: str, files: int) -> int:
    """Write ``table`` as ``files`` parquet parts under ``path`` and
    return the bytes written."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    total = 0
    for i in range(files):
        part = table.slice(i * n // files, (i + 1) * n // files - i * n // files)
        f = os.path.join(path, f"part-{i:05d}.parquet")
        pq.write_table(part, f)
        total += os.path.getsize(f)
    return total


@dataclass
class Written:
    """Rows and bytes of one generated input set."""

    rows: int = 0
    bytes: int = 0

    def add(self, rows: int, nbytes: int) -> None:
        self.rows += rows
        self.bytes += nbytes


def _owner_pool(rng: np.random.Generator, n: int) -> tuple[list[str], np.ndarray]:
    suffixes = ["Corp", "Ltd", "GmbH", "SA", "Power Co", "Energy", "Holdings", "SpA"]
    names = [f"Owner{i} {suffixes[i % len(suffixes)]}" for i in range(n)]
    weights = 1.0 / np.arange(1, n + 1) ** 1.1  # Zipf owner sizes
    return names, weights / weights.sum()


def _owner_cell(rng, names, weights) -> str | None:
    u = rng.random()
    if u < 0.02:
        return None
    if u < 0.025:
        return ">0"
    k = int(rng.choice([1, 1, 1, 2, 2, 3, 4]))
    picked = list(dict.fromkeys(rng.choice(len(names), size=k, p=weights)))
    owners = [names[i] for i in picked]
    style = rng.random()
    if len(owners) == 1:
        return owners[0] + (" [100%]" if style < 0.7 else "")
    if style < 0.6:  # bracketed integer shares summing to 100
        cuts = np.sort(rng.choice(np.arange(1, 100), size=len(owners) - 1, replace=False))
        shares = np.diff(np.concatenate([[0], cuts, [100]]))
        return "; ".join(f"{o} [{s}%]" for o, s in zip(owners, shares))
    if style < 0.7:  # a decimal share: the two percent grammars disagree
        return f"{owners[0]} [12.5%]; " + "; ".join(f"{o} [{87 // (len(owners) - 1)}%]" for o in owners[1:])
    return "; ".join(owners)  # no percent at all


def _year(rng, lo: int, hi: int) -> str:
    return f"{int(rng.integers(lo, hi + 1))}.0"


def gem_units(rng: np.random.Generator, fuel: str, n_units: int, id_base: int,
              names, weights) -> pa.Table:
    """One fuel's unit table with ``n_units`` rows, all columns text."""
    cols = FUEL_COLUMNS[fuel]
    data: dict[str, list] = {k: [] for k in (
        cols["unit"], "GEM location ID", cols["plant"], cols["country"], "Unit name",
        cols["owner"], "Capacity (MW)", "Status", cols["start"], "Latitude",
        "Longitude", "Region",
    )}
    if cols["retire"]:
        data[cols["retire"]] = []
    if "age" in cols:
        data[cols["age"]] = []
    if fuel == "GASOIL":
        data["Fuel"] = []
    statuses = _STATUSES if fuel == "GASOIL" else [s for s in _STATUSES if "inferred" not in s]
    made = 0
    loc = 0
    while made < n_units:
        loc += 1
        loc_id = f"L{id_base + loc:09d}"
        plant = f"Plant {id_base + loc}"
        country = _COUNTRIES[int(rng.integers(len(_COUNTRIES)))]
        region = _REGIONS[int(rng.integers(len(_REGIONS)))]
        lat0, lon0 = rng.uniform(-60, 70), rng.uniform(-180, 180)
        jitter = rng.random() < 0.3
        for u in range(min(int(rng.integers(1, 5)), n_units - made)):
            made += 1
            unit_id = None if rng.random() < 0.02 else f"G{id_base + made:09d}"
            data[cols["unit"]].append(unit_id)
            data["GEM location ID"].append(loc_id)
            data[cols["plant"]].append(plant)
            data[cols["country"]].append(country)
            data["Unit name"].append(f"Unit {u + 1}")
            data[cols["owner"]].append(_owner_cell(rng, names, weights))
            r = rng.random()
            cap = (None if r < 0.02 else "N/A" if r < 0.04 else "unknown" if r < 0.05
                   else "0" if r < 0.06 else ">0" if r < 0.065
                   else f"{rng.uniform(1, 1500):.1f}")
            data["Capacity (MW)"].append(cap)
            data["Status"].append(statuses[int(rng.integers(len(statuses)))])
            r = rng.random()
            start = (None if r < 0.03 else "unknown" if r < 0.06 else "not found" if r < 0.09
                     else ">0" if r < 0.095 else _year(rng, 1960, 2032))
            data[cols["start"]].append(start)
            lat = lat0 + (rng.normal(0, 0.05) if jitter else 0.0)
            lon = lon0 + (rng.normal(0, 0.05) if jitter else 0.0)
            null_coord = rng.random() < 0.01
            data["Latitude"].append(None if null_coord else f"{lat:.4f}")
            data["Longitude"].append(f"{lon:.4f}")
            data["Region"].append(region)
            if cols["retire"]:
                r = rng.random()
                data[cols["retire"]].append(
                    _year(rng, 2010, 2060) if r < 0.25 else ">0" if r < 0.255 else None
                )
            if "age" in cols:
                data[cols["age"]].append(None if rng.random() < 0.05 else str(int(rng.integers(0, 60))))
            if fuel == "GASOIL":
                data["Fuel"].append(_FUEL_MIX[int(rng.integers(len(_FUEL_MIX)))])
    return pa.table({k: pa.array(v, pa.string()) for k, v in data.items()})


STEEL_SCHEMA = pa.schema([
    ("asset_id", pa.string()), ("asset_name", pa.string()),
    ("company_id", pa.string()), ("company_name", pa.string()),
    ("country_iso2", pa.string()), ("country_name", pa.string()),
    ("region", pa.string()), ("coordinates", pa.string()),
    ("workforce_size", pa.float64()), ("workforce_source", pa.string()),
    ("sector", pa.string()), ("technology", pa.string()),
    ("capacity", pa.float64()), ("capacity_unit", pa.string()),
    ("production_year", pa.int32()), ("plant_age_years", pa.float64()),
    ("plant_age_rank", pa.float64()), ("capacity_factor", pa.float64()),
    ("emission_factor", pa.float64()),
])


def steel_assets(rng, n: int, names) -> pa.Table:
    """Already-wrangled steel rows (FIXTURES.md A8): canonical schema,
    pre-minted company ids, repeated company names, and names shared
    with the power-plant owners (the id-borrow join)."""
    rows = {f.name: [] for f in STEEL_SCHEMA}
    for i in range(n):
        owner = names[int(rng.integers(0, len(names) // 4))] if rng.random() < 0.5 \
            else f"Steelmaker {int(rng.integers(0, n // 3 + 1))}"
        rows["asset_id"].append(f"S{i:07d}")
        rows["asset_name"].append(f"Steel plant {i}")
        rows["company_id"].append(None if rng.random() < 0.05 else f"STL{int(rng.integers(0, 10**6)):06d}")
        rows["company_name"].append(owner)
        rows["country_iso2"].append("DE")
        rows["country_name"].append("Germany")
        rows["region"].append("Europe")
        rows["coordinates"].append("51.0, 10.0")
        rows["workforce_size"].append(None)
        rows["workforce_source"].append(None)
        rows["sector"].append("Steel")
        rows["technology"].append("SteelCap")
        rows["capacity"].append(round(float(rng.uniform(0, 5000)), 1))
        rows["capacity_unit"].append("ttpa")
        rows["production_year"].append(int(rng.integers(2023, 2051)))
        rows["plant_age_years"].append(None)
        rows["plant_age_rank"].append(None)
        rows["capacity_factor"].append(None)
        rows["emission_factor"].append(None)
    return pa.table(rows, schema=STEEL_SCHEMA)


def emission_factors(rng) -> pa.Table:
    """Climate-Trace-shaped factors (FIXTURES.md A7): one row per
    (country, source) for a subset of countries, plus the Global rows
    the fallback level reads; a few specific factors are NULL."""
    iso3s = sorted({i3 for _, _, i3 in COUNTRY_CODES})
    chosen = rng.choice(len(iso3s), size=len(iso3s) // 3, replace=False)
    src, iso, ef = [], [], []
    for i in sorted(chosen):
        for s in ("coal", "gas", "oil"):
            if rng.random() < 0.7:
                src.append(s)
                iso.append(iso3s[i])
                ef.append(None if rng.random() < 0.05 else round(float(rng.uniform(0.3, 1.3)), 4))
    for s, v in (("coal", 1.1), ("gas", 0.75), ("oil", 0.85)):
        src.append(s)
        iso.append("Global")
        ef.append(v)
    return pa.table({"source_type": pa.array(src, pa.string()),
                     "iso3_country": pa.array(iso, pa.string()),
                     "emissions_factor": pa.array(ef, pa.float64())})


def gem_batch_inputs(seed: int, root: str, units_per_fuel: int, files: int) -> Written:
    """All 8 fuel tables + steel + emission factors under ``root``."""
    rng = np.random.default_rng(seed)
    names, weights = _owner_pool(rng, max(200, units_per_fuel // 4))
    w = Written()
    for k, fuel in enumerate(FUELS):
        t = gem_units(rng, fuel, units_per_fuel, (k + 1) * 10**8, names, weights)
        w.add(t.num_rows, _write(t, os.path.join(root, fuel.lower()), files))
    steel = steel_assets(rng, max(50, units_per_fuel // 10), names)
    w.add(steel.num_rows, _write(steel, os.path.join(root, "steel"), 1))
    ef = emission_factors(rng)
    w.add(ef.num_rows, _write(ef, os.path.join(root, "emission_factors"), 1))
    return w


# --------------------------------------------------------------------
# corpus + crawl snapshots
# --------------------------------------------------------------------

_STOP = ["the", "and", "of", "to", "in", "that", "for", "with"]
_SYL = ["ka", "lo", "mi", "ren", "tas", "vo", "zel", "pri", "dun", "shi",
        "mar", "tek", "bo", "nu", "gra", "fel", "quo", "sti", "wen", "yar"]


class _Words:
    """A seeded pseudo-vocabulary: random-syllable words drawn so that
    unrelated documents share almost no word bigrams."""

    def __init__(self, rng: np.random.Generator, size: int):
        syl = np.array(_SYL)
        n_syl = rng.integers(2, 4, size=size)
        picks = rng.integers(0, len(_SYL), size=(size, 3))
        self.words = ["".join(syl[picks[i, : n_syl[i]]]) for i in range(size)]

    def doc(self, rng: np.random.Generator, n_words: int) -> list[str]:
        idx = rng.integers(0, len(self.words), size=n_words)
        toks = [self.words[i] for i in idx]
        for p in range(3, n_words, 4):  # a stop word every fourth token
            toks[p] = _STOP[int(rng.integers(len(_STOP)))]
        return toks


def _near_copy(rng, words: _Words, toks: list[str], edits: int) -> list[str]:
    out = list(toks)
    for p in rng.choice(len(out), size=edits, replace=False):
        out[int(p)] = words.words[int(rng.integers(len(words.words)))]
    return out


@dataclass
class Corpus:
    ids: list[int]
    texts: list[str]
    # planted duplicate members: every cluster member but the root
    planted: set[int]


def _corpus(rng, words: _Words, n_docs: int, id_base: int) -> Corpus:
    """``n_docs`` documents in a fixed pattern, so every seed gives the
    same cluster structure and only the words differ: every 10th root
    starts a planted cluster of 1, 2 or 3 copies (cycling), the first an
    exact copy and the rest near copies with one word substituted
    (word-bigram Jaccard ~0.96 to the root); every 25th document is too
    short and every 50th symbol-heavy, so the quality gate rejects
    them."""
    ids, texts, planted = [], [], set()
    next_id = id_base
    i = 0
    while len(ids) < n_docs:
        if i % 25 == 7:
            toks = words.doc(rng, int(rng.integers(10, 40)))
        else:
            toks = words.doc(rng, int(rng.integers(60, 90)))
            if i % 50 == 13:
                toks = [t + "$#@" for t in toks]
        ids.append(next_id)
        texts.append(" ".join(toks))
        next_id += int(rng.integers(1, 4))  # ids are sparse, not dense
        if i % 10 == 0:
            for c in range(1 + (i // 10) % 3):
                if len(ids) >= n_docs:
                    break
                copy = toks if c == 0 else _near_copy(rng, words, toks, 1)
                ids.append(next_id)
                texts.append(" ".join(copy))
                planted.add(next_id)
                next_id += int(rng.integers(1, 4))
        i += 1
    return Corpus(ids, texts, planted)


def write_docs(ids: list[int], texts: list[str], path: str, files: int) -> int:
    t = pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts, pa.string())})
    return _write(t, path, files)


def crawl_snapshots(seed: int, n_snapshots: int, docs_per_snapshot: int,
                    recrawl: float) -> list[Corpus]:
    """``n_snapshots`` web-like snapshots of ``docs_per_snapshot``
    documents with planted duplicate clusters inside each snapshot. A
    ``recrawl`` fraction of every snapshot after the first re-crawls
    distinct documents of earlier snapshots under new ids: alternately
    an exact copy and a copy with one word changed. Ids are globally unique, and each
    snapshot is shuffled so clusters are not contiguous on disk."""
    rng = np.random.default_rng(seed)
    words = _Words(rng, 50_000)
    history: list[str] = []
    snaps = []
    for s in range(n_snapshots):
        n_old = int(docs_per_snapshot * recrawl) if history else 0
        c = _corpus(rng, words, docs_per_snapshot - n_old, id_base=s * 10**7 + 1)
        next_id = max(c.ids) + 1
        for j, h in enumerate(rng.choice(len(history), size=n_old, replace=False)):
            old = history[int(h)].split(" ")
            toks = old if j % 2 == 0 else _near_copy(rng, words, old, 1)
            c.ids.append(next_id)
            c.texts.append(" ".join(toks))
            next_id += 1
        history.extend(c.texts)
        order = rng.permutation(len(c.ids))
        snaps.append(Corpus([c.ids[i] for i in order], [c.texts[i] for i in order], c.planted))
    return snaps
