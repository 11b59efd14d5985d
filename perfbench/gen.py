"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its size parameters and the seed:
the same arguments give byte-identical files.  Outputs are cached under
``perfbench/.cache/<kind>-<params>-s<seed>/`` (git-ignored) and written to
a temporary sibling first, then renamed, so an interrupted run never leaves
a half-written cache entry behind.

- :func:`raw_lake` — the ``f1_dag`` input: one ``races_/results_/
  pitstops_{year}_{round}.json`` per race and one ``METEO2_data_{city}.csv``
  per weather city, in the raw-zone layout ``sources.ergast`` and
  ``sources.weather`` read.  It carries the raw-fixture edge cases of
  FIXTURES.md §4 and returns the row counts the pipeline must reproduce.
- :func:`tpch_lake` — the ``mart_serving`` input: the TPC-H-ish tables the
  F1 model (``plans.f1_model``) is derived from, drawn with the same
  marginals as the shipped test lake (uniform keys, flags and dates).
- :func:`corpus_lake` — the ``curate_ingest`` input: ``documents`` and
  ``embeddings`` shaped like the shipped test tables.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CACHE = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".cache")

# ---------------------------------------------------------------- raw lake

# (city, country).  Two cities share a country; the last race city has no
# weather station (join drop path); WEATHER_ONLY has weather but no races.
RACE_CITIES = [
    ("Melbourne", "Australia"), ("Sakhir", "Bahrain"), ("Shanghai", "China"),
    ("Baku", "Azerbaijan"), ("Barcelona", "Spain"), ("Monaco", "Monaco"),
    ("Montreal", "Canada"), ("Spielberg", "Austria"), ("Silverstone", "UK"),
    ("Budapest", "Hungary"), ("Spa", "Belgium"), ("Monza", "Italy"),
    ("Imola", "Italy"), ("Singapore", "Singapore"), ("Suzuka", "Japan"),
    ("Austin", "USA"), ("Miami", "USA"), ("Mexico", "Mexico"),
    ("Interlagos", "Brazil"), ("YasMarina", "UAE"), ("Jeddah", "Saudi Arabia"),
    ("Zandvoort", "Netherlands"), ("Lusail", "Qatar"),
]
NO_WEATHER_CITY = "Lusail"
WEATHER_ONLY = [("Lisbon", "Portugal"), ("Sochi", "Russia")]
WEATHER_HEADER = "date,tavg,tmin,tmax,prcp,snow,wdir,wspd,wpgt,pres,tsun"
POINTS = ["25", "18", "15", "12", "10", "8", "6", "4", "2", "1"]
FIRST_YEAR = 1995  # the marts' `year >= 1999` cut falls inside every lake


def _drivers(n: int) -> list[tuple[str, str, str, str]]:
    return [
        (f"drv{i:02d}", f"Given{i:02d}", f"Family{i:02d}", f"Team {i // 2:02d}")
        for i in range(n)
    ]


def _race_date(year: int, rnd: int) -> str:
    return (dt.date(year, 3, 1) + dt.timedelta(days=12 * (rnd - 1))).isoformat()


def _q(x: float) -> str:
    """Quarter-fraction doubles print exactly and sum exactly in any order,
    so Spark and DuckDB aggregates over them agree bit for bit."""
    return repr(float(x))


def _results_doc(rng, drivers, lap_times, empty):
    if empty:
        return {"MRData": {"RaceTable": {"Races": []}}}
    order = rng.permutation(len(drivers))
    winner_secs = 5000 + int(rng.integers(0, 1200))
    results = []
    for pos, di in enumerate(order):
        did, given, family, team = drivers[di]
        lapped = pos >= len(drivers) - 3 and rng.random() < 0.6
        res = {
            "Driver": {"driverId": did, "givenName": given, "familyName": family},
            "Constructor": {"name": team},
            "points": POINTS[pos] if pos < len(POINTS) else "0",
            "position": str(pos + 1) if rng.random() > 0.05 or pos == 0 else None,
            "grid": str(int(rng.integers(1, len(drivers) + 1))),
            "laps": str(58 - (1 if lapped else 0)),
            "status": "+1 Lap" if lapped else "Finished",
        }
        if res["position"] is None:  # a retirement: Ergast omits the field
            del res["position"]
            res["status"] = "Accident"
        if pos == 0:  # absolute winner time, e.g. "1:32:07.986"
            h, rem = divmod(winner_secs, 3600)
            ms = int(rng.integers(0, 1000))
            res["Time"] = {"time": f"{h}:{rem // 60:02d}:{rem % 60:02d}.{ms:03d}"}
        elif not lapped and "position" in res:
            gap = pos * 1.5 + int(rng.integers(0, 40)) / 10
            if gap < 60:
                res["Time"] = {"time": f"+{gap:.1f}"}
            else:
                res["Time"] = {"time": f"+{int(gap // 60)}:{gap % 60:04.1f}"}
        # lapped drivers and retirements carry no Time key
        if rng.random() > 0.07:  # ~7% have no FastestLap object
            res["FastestLap"] = {"Time": {"time": lap_times.pop()}}
        results.append(res)
    return {"MRData": {"RaceTable": {"Races": [{"Results": results}]}}}


def _pitstops_doc(rng, drivers, missing):
    if missing:
        return {"MRData": {"RaceTable": {}}}
    stops = []
    for did, *_ in drivers:
        for s in range(int(rng.integers(0, 4))):
            stops.append({
                "driverId": did, "stop": str(s + 1), "lap": str(12 * (s + 1)),
                "time": "14:05:11", "duration": "21.5",
            })
    return {"MRData": {"RaceTable": {"Races": [{"PitStops": stops}]}}}


def _weather_rows(rng, years):
    rows = [WEATHER_HEADER]
    day = dt.date(years[0], 1, 1)
    end = dt.date(years[-1], 12, 31)
    base = int(rng.integers(-20, 60))
    while day <= end:
        tavg = (base + int(rng.integers(-12, 13))) * 0.25 + 10
        prcp = 0.0 if rng.random() < 0.5 else int(rng.integers(1, 80)) * 0.25
        wpgt = "" if rng.random() < 0.1 else _q(int(rng.integers(0, 200)) * 0.25)
        tsun = "" if rng.random() < 0.1 else _q(int(rng.integers(0, 48)) * 15.0)
        rows.append(",".join([
            day.isoformat(), _q(tavg), _q(tavg - 5.25), _q(tavg + 6.5),
            _q(prcp), _q(0.0 if tavg > 2 else 1.5),
            _q(int(rng.integers(0, 360))), _q(int(rng.integers(0, 120)) * 0.25),
            wpgt, _q(1000 + int(rng.integers(0, 100)) * 0.25), tsun,
        ]))
        day += dt.timedelta(days=1)
    return rows


def _build_raw_lake(out: str, seed: int, seasons: int, rounds: int,
                    n_drivers: int) -> dict:
    rng = np.random.default_rng([seed, 1])
    years = list(range(FIRST_YEAR, FIRST_YEAR + seasons))
    drivers = _drivers(n_drivers)
    n_results = seasons * rounds * n_drivers
    # Globally unique 'M:SS.mmm' fastest laps (single-digit minutes, so
    # string order is time order); a few in-race ties are added below.
    lap_ms = rng.choice(60_000, size=n_results, replace=False) + 70_000
    lap_times = [f"{m // 60_000}:{m % 60_000 // 1000:02d}.{m % 1000:03d}"
                 for m in lap_ms.tolist()]
    empty_race = (years[-1], rounds)           # results file with Races: []
    missing_pits = (years[0], 2)               # pitstops file without Races
    city_of = {}
    for y in years:
        perm = rng.permutation(len(RACE_CITIES))
        for r in range(1, rounds + 1):
            city_of[(y, r)] = RACE_CITIES[perm[(r - 1) % len(RACE_CITIES)]]
    # Every lake races once in the station-less city (join drop path).
    city_of[(years[0], 1)] = (NO_WEATHER_CITY, dict(RACE_CITIES)[NO_WEATHER_CITY])

    formatted = combined = 0
    for (y, r), (city, country) in sorted(city_of.items()):
        with open(f"{out}/races_{y}_{r}.json", "w") as f:
            json.dump({
                "round": str(r), "raceName": f"{city} Grand Prix",
                "date": _race_date(y, r),
                "Circuit": {"circuitId": city.lower(),
                            "circuitName": f"{city} Circuit"},
                "city": city, "country": country,
            }, f, sort_keys=True)
        empty = (y, r) == empty_race
        doc = _results_doc(rng, drivers, lap_times, empty)
        if not empty and r % 5 == 0:
            # tie the two fastest laps of this race (distinct drivers)
            res = [x for x in doc["MRData"]["RaceTable"]["Races"][0]["Results"]
                   if "FastestLap" in x]
            res[1]["FastestLap"]["Time"]["time"] = res[0]["FastestLap"]["Time"]["time"]
        with open(f"{out}/results_{y}_{r}.json", "w") as f:
            json.dump(doc, f, sort_keys=True)
        with open(f"{out}/pitstops_{y}_{r}.json", "w") as f:
            json.dump(_pitstops_doc(rng, drivers, (y, r) == missing_pits), f,
                      sort_keys=True)
        if not empty:
            formatted += n_drivers
            combined += n_drivers if city != NO_WEATHER_CITY else 0

    weather = 0
    stations = [c for c in RACE_CITIES if c[0] != NO_WEATHER_CITY] + WEATHER_ONLY
    for city, _country in stations:
        rows = _weather_rows(rng, years)
        weather += len(rows) - 1
        with open(f"{out}/METEO2_data_{city}.csv", "w") as f:
            f.write("\n".join(rows) + "\n")
    open(f"{out}/METEO2_data_Empty.csv", "w").close()  # skipped: 0 rows
    return {
        "formatted_rows": formatted, "weather_rows": weather,
        "combined_rows": combined, "races": len(city_of),
        "stations": [list(s) for s in stations],
    }


# ---------------------------------------------------------------- tpch lake

NATIONS = 25
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
DATE_LO = dt.date(1995, 1, 1)
DATE_SPAN = (dt.date(2001, 8, 1) - DATE_LO).days


def _build_tpch_lake(out: str, seed: int, sf: float) -> dict:
    """TPC-H-ish tables with the shipped test lake's sizes and marginals
    (per 0.01 sf: 15,000 orders, 60,000 lineitems, 1,500 customers, 2,000
    parts, 100 suppliers).  Lineitems draw their order key uniformly with
    replacement, so order sizes vary as in the shipped tables; rows
    repeating the model's unique row key are dropped."""
    rng = np.random.default_rng([seed, 2])
    n_ord = round(1_500_000 * sf)
    n_li = round(6_000_000 * sf)
    n_cust = round(150_000 * sf)
    n_part = round(200_000 * sf)
    n_supp = max(10, round(10_000 * sf))
    day = np.datetime64(DATE_LO.isoformat(), "us")
    pq.write_table(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    }), f"{out}/region.parquet")
    pq.write_table(pa.table({
        "n_nationkey": pa.array(range(NATIONS), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(NATIONS)],
        "n_regionkey": pa.array([i % 5 for i in range(NATIONS)], pa.int32()),
    }), f"{out}/nation.parquet")
    pq.write_table(pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, NATIONS, n_cust), pa.int32()),
        "c_acctbal": rng.integers(-99_999, 999_999, n_cust) / 100,
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
            n_cust),
    }), f"{out}/customer.parquet")
    pq.write_table(pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, NATIONS, n_supp), pa.int32()),
        "s_acctbal": rng.integers(-99_999, 999_999, n_supp) / 100,
    }), f"{out}/supplier.parquet")
    pq.write_table(pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": rng.integers(100_000, 50_000_000, n_ord) / 100,
        "o_orderdate": day + rng.integers(0, DATE_SPAN + 1, n_ord)
        * np.timedelta64(1, "D"),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
    }), f"{out}/orders.parquet")
    li = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": rng.integers(90_000, 10_500_000, n_li) / 100,
        "l_discount": rng.integers(0, 11, n_li) / 100,
        "l_tax": rng.integers(0, 9, n_li) / 100,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": day + rng.integers(0, DATE_SPAN + 122, n_li)
        * np.timedelta64(1, "D"),
    })
    key = li.select(["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
                     "l_linestatus"]).to_pandas()
    keep = ~key.duplicated().to_numpy()
    li = li.filter(pa.array(keep))
    pq.write_table(li, f"{out}/lineitem.parquet")
    return {"lineitem_rows": li.num_rows, "orders_rows": n_ord}


# -------------------------------------------------------------- corpus lake

# The shipped documents tables' exact 31-word vocabulary and language mix.
VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window",
]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EMBED_DIM = 64


def _build_corpus_lake(out: str, seed: int, n_docs: int, vec_per_doc: float) -> dict:
    """``documents`` and ``embeddings`` with the shape of the shipped test
    tables (``tools/gen_scaledata.py`` records the measurements): every text
    freshly sampled — 10-100 words drawn uniformly from the 31-word
    vocabulary, so near duplicates arise only by chance, as there — and
    unit-norm 64-dim gaussian vectors with no structure, ``vec_per_doc``
    per document on the lowest ids of the shared id domain.  The shipped
    sf0.001 and sf0.01 tables have one vector per document (500 / 500),
    sf0.1 has 0.4 (2,000 / 5,000)."""
    rng = np.random.default_rng([seed, 3])
    texts = [
        " ".join(VOCAB[k] for k in rng.integers(0, len(VOCAB), int(rng.integers(10, 101))))
        for _ in range(n_docs)
    ]
    langs = rng.choice(len(LANGS), size=n_docs, p=LANG_P)
    pq.write_table(pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [LANGS[k] for k in langs],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), f"{out}/documents.parquet")
    n_vec = round(vec_per_doc * n_docs)
    v = rng.standard_normal((n_vec, EMBED_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": pa.array(range(n_vec), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), pa.int32()),
    }), f"{out}/embeddings.parquet")
    return {"documents_rows": n_docs, "embeddings_rows": n_vec}


# ------------------------------------------------------------------- cache

_BUILDERS = {
    "raw": _build_raw_lake,
    "tpch": _build_tpch_lake,
    "corpus": _build_corpus_lake,
}


def build(kind: str, out: str, seed: int, **params) -> dict:
    """Generate one lake into the empty directory ``out`` (no caching)."""
    os.makedirs(out, exist_ok=True)
    info = _BUILDERS[kind](out, seed, **params)
    with open(f"{out}/_MANIFEST.json", "w") as f:
        json.dump(info, f, sort_keys=True)
    return info


def cached(kind: str, seed: int, cache: str = CACHE, **params) -> tuple[str, dict]:
    """Return ``(dir, manifest)`` of the lake, generating it on a miss."""
    tag = "-".join(f"{k}{v}" for k, v in sorted(params.items()))
    out = os.path.join(cache, f"{kind}-{tag}-s{seed}")
    if not os.path.exists(f"{out}/_MANIFEST.json"):
        tmp = f"{out}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        build(kind, tmp, seed, **params)
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
    with open(f"{out}/_MANIFEST.json") as f:
        return out, json.load(f)


def raw_lake(seed: int, seasons: int, rounds: int = 22, drivers: int = 20):
    return cached("raw", seed, seasons=seasons, rounds=rounds, n_drivers=drivers)


def tpch_lake(seed: int, sf: float):
    return cached("tpch", seed, sf=sf)


def corpus_lake(seed: int, docs: int):
    return cached("corpus", seed, n_docs=docs, vec_per_doc=1.0)
