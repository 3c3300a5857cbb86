"""Seeded questions for the ``ask`` workload and their pandas reference.

A round asks one question of every template once: the lookup templates
(``LOOKUP_TEMPLATES``) and the trend and anomaly templates
(``ANALYTIC_TEMPLATES``) of the reference shapes in ``examples/demo.py``
and ``tests/test_nl_pipeline.py``. The seed draws the order of a round
and the entities (years, cities, countries, states, incident types,
gases, metrics) and the optional year windows. Lookup entities are
Zipf-skewed over a seeded permutation of each vocabulary, so the same
question comes back across rounds; analytic entities are uniform.

Each template also carries the reference: a pandas function of the
domain tables (collected once, before timing) and the template's own
parameters. It never looks at the engine's routing or spec, so a
question that routes or resolves wrongly fails the check.
"""

from __future__ import annotations

import math
import random
from dataclasses import dataclass, field
from decimal import ROUND_HALF_UP, Decimal

import pandas as pd

from optimized_climate_data_integration_with_real_time_llm_querying_spark.sources import (
    climate,
)

MONTH_NAMES = [
    "January", "February", "March", "April", "May", "June", "July",
    "August", "September", "October", "November", "December",
]

# Plural keyword -> canonical disaster type; every keyword maps to one
# type on its own (no "winter storm", which also contains "storm").
DISASTER_PLURALS = {
    "droughts": "Drought",
    "floods": "Flooding",
    "freezes": "Freeze",
    "storms": "Severe Storm",
    "hurricanes": "Tropical Cyclone",
    "wildfires": "Wildfire",
    "blizzards": "Winter Storm",
}
DISASTER_SINGULARS = {
    "drought": "Drought",
    "flooding": "Flooding",
    "freeze": "Freeze",
    "hurricane": "Tropical Cyclone",
    "wildfire": "Wildfire",
    "blizzard": "Winter Storm",
}

# FEMA incident types whose lowercase name (or name + "es"/"s") picks
# exactly that type in the spec builder's first-substring scan.
FEMA_TYPES = {
    "Hurricane": "hurricanes",
    "Flood": "floods",
    "Tornado": "tornadoes",
    "Earthquake": "earthquakes",
    "Snowstorm": "snowstorms",
    "Typhoon": "typhoons",
}
FEMA_METRIC_PHRASES = {
    "IHP total": "ihp_total",
    "public assistance": "pa_total",
    "CDBG allocation": "cdbg_dr_allocation",
}

# Phrase -> the ERA5 metrics the question is about.
ERA5_PHRASES = {
    "skin temperature": ["skin_temperature"],
    "wind speed": ["wind_speed"],
    "surface pressure": ["surface_pressure"],
    "total ozone": ["total_ozone"],
    "snowfall": ["snowfall"],
    "UV radiation": ["uv_radiation"],
    "convective rain rate": ["convective_rain_rate"],
    "mean evaporation rate": ["mean_evaporation_rate"],
    "high vegetation cover": ["high_vegetation_cover"],
}
ERA5_YEARS = (2019, 2022)
CITIES = sorted(c for cs in climate.ERA5_CITIES.values() for c in cs)
# The metric resolver's fuzzy n-gram scan (cutoff 0.6) adds a metric
# nobody asked for on these words, so they are left out of the draws;
# KNOWN_DEFECTS below asks them once per run and reports the result.
# "September" also resolves to wind_speed.
ERA5_MONTHS = [m for m in range(1, 13) if m != 9]
# (phrase, city) pairs that also resolve to another metric.
ERA5_UNRESOLVED = {("high vegetation cover", "Herat")}

# Gas keyword -> (gas, substances or None for the single-substance gases).
_HFCS = [s for s in climate.FGAS_SUBSTANCES if s.startswith("HFC")]
GASES = {
    "CO2": ("CO2", None),
    "methane": ("CH4", None),
    "N2O": ("N2O", None),
    "HFC": ("F-gas", _HFCS),
    "SF6": ("F-gas", ["SF6"]),
    "F-gas": ("F-gas", list(climate.FGAS_SUBSTANCES)),
}
PLAIN_GASES = ["CO2", "methane", "N2O"]
FGAS_KEYWORDS = ["HFC", "SF6", "F-gas"]

# Country names the engine's word/bigram resolver cannot isolate: names
# of three or more words, with punctuation, or that contain (or fuzzily
# match) another country's name. A question about one of them resolves
# to a different country set, so they are left out of the workload;
# tests/test_questions.py pins that every other name resolves to itself.
UNISOLATED_COUNTRIES = frozenset({
    "American Samoa", "Antigua and Barbuda", "Bosnia and Herzegovina",
    "Central African Republic", "Congo_the Democratic Republic of the",
    "Cote d'Ivoire", "Dominican Republic", "Equatorial Guinea",
    "Falkland Islands (Malvinas)", "Guinea-Bissau", "Iran, Islamic Republic of",
    "Korea, Democratic People's Republic of", "Lao People's Democratic Republic",
    "Libyan Arab Jamahiriya", "Macedonia, the former Yugoslav Republic of",
    "Micronesia, Federated States of", "Netherlands Antilles",
    "Northern Mariana Islands", "Papua New Guinea", "Saint Kitts and Nevis",
    "Saint Pierre and Miquelon", "Saint Vincent and the Grenadines",
    "Sao Tome and Principe", "Serbia and Montenegro", "Syrian Arab Republic",
    "Taiwan_Province of China", "Tanzania_United Republic of",
    "Trinidad and Tobago", "Turks and Caicos Islands", "United Arab Emirates",
    "Virgin Islands_British", "Wallis and Futuna",
})
COUNTRIES = [c for c in climate.GHG_COUNTRIES if c not in UNISOLATED_COUNTRIES]
STATES = list(climate.US_STATES)

# Phrasings the engine gets wrong today, with what they should resolve
# to. They stay out of the timed loop (an operation there must not
# fail); each run builds their specs once, untimed, and reports what
# the engine made of them. Once one resolves as expected it can join
# its template's draws.
KNOWN_DEFECTS = [
    # comparative adjectives map to no ERA5 metric: raises ValueError
    ("Was 2020 warmer than usual in Dhaka?",
     {"metric": "skin_temperature", "city": "Dhaka"}),
    ("Skin temperature in Dhaka in September 2020",
     {"metric": "skin_temperature", "city": "Dhaka"}),
    ("High vegetation cover in Herat in April 2020",
     {"metric": "high_vegetation_cover", "city": "Herat"}),
    ("What were the CO2 emissions in Papua New Guinea in 2020?",
     {"gas": "CO2", "country": "Papua New Guinea"}),
]


@dataclass
class Question:
    template: str
    domain: str
    intent: str  # "plain" | "trend" | "anomaly"
    text: str
    params: dict = field(default_factory=dict)


ZIPF_S = 1.1  # exponent of the lookup entities' popularity


class _Draw:
    """Seeded entity draws: Zipf over a seeded permutation for lookups,
    uniform for analytic questions."""

    def __init__(self, rng: random.Random):
        self.rng = rng
        self._perm: dict[str, list] = {}

    def zipf(self, name: str, values: list):
        if name not in self._perm:
            perm = list(values)
            self.rng.shuffle(perm)
            self._perm[name] = perm
        perm = self._perm[name]
        weights = [1.0 / (r + 1) ** ZIPF_S for r in range(len(perm))]
        return self.rng.choices(perm, weights=weights)[0]

    def uniform(self, values: list):
        return self.rng.choice(list(values))

    def city(self, phrase: str, zipf: bool, other: str | None = None) -> str:
        while True:
            c = self.zipf("city", CITIES) if zipf else self.uniform(CITIES)
            if c != other and (phrase, c) not in ERA5_UNRESOLVED:
                return c

    def two(self, name: str, values: list):
        a = b = self.zipf(name, values)
        while b == a:
            b = self.zipf(name, values)
        return a, b


def _lookup(template: str, d: _Draw) -> Question:
    z = d.zipf
    if template == "disasters_count":
        word = z("dplural", list(DISASTER_PLURALS))
        year = z("dyear", list(range(1980, 2025)))
        return Question(template, "disasters", "plain",
                        f"How many {word} occurred in {year}?",
                        {"types": [DISASTER_PLURALS[word]], "years": (year, year)})
    if template == "disasters_total":
        year = z("dyear", list(range(1980, 2025)))
        return Question(template, "disasters", "plain",
                        f"What was the total disaster cost in {year}?",
                        {"types": None, "years": (year, year)})
    if template == "disasters_compare":
        a, b = d.two("dsingular", list(DISASTER_SINGULARS))
        y = z("dyear5", list(range(1980, 2021)))
        return Question(template, "disasters", "plain",
                        f"Compare the {a} and {b} cost between {y}-{y + 4}",
                        {"types": [DISASTER_SINGULARS[a], DISASTER_SINGULARS[b]],
                         "years": (y, y + 4)})
    if template == "fema_metric":
        phrase = z("fmetric", list(FEMA_METRIC_PHRASES))
        state = z("state", STATES)
        itype = z("ftype", list(FEMA_TYPES))
        y = z("fyear", list(range(2003, 2020)))
        return Question(template, "fema", "plain",
                        f"What was the {phrase} for {state} {FEMA_TYPES[itype]} "
                        f"from {y} to {y + 5}?",
                        {"metric": FEMA_METRIC_PHRASES[phrase],
                         "state": climate.US_STATES[state], "itype": itype,
                         "years": (y, y + 5)})
    if template == "fema_list":
        state = z("state", STATES)
        itype = z("ftype", list(FEMA_TYPES))
        y = z("fyear", list(range(2003, 2020)))
        return Question(template, "fema", "plain",
                        f"List {itype.lower()} incidents in {state} from {y} to {y + 5}",
                        {"state": climate.US_STATES[state], "itype": itype,
                         "years": (y, y + 5)})
    if template == "era5_metric":
        phrase = z("emetric", list(ERA5_PHRASES))
        city = d.city(phrase, zipf=True)
        month = z("month", ERA5_MONTHS)
        year = z("eyear", list(range(ERA5_YEARS[0], ERA5_YEARS[1] + 1)))
        return Question(template, "era5", "plain",
                        f"{phrase[0].upper()}{phrase[1:]} in {city} in "
                        f"{MONTH_NAMES[month - 1]} {year}",
                        {"metrics": ERA5_PHRASES[phrase], "cities": [city],
                         "year": year, "months": [month]})
    if template == "era5_compare":
        phrase = z("emetric", list(ERA5_PHRASES))
        a = d.city(phrase, zipf=True)
        b = d.city(phrase, zipf=True, other=a)
        year = z("eyear", list(range(ERA5_YEARS[0], ERA5_YEARS[1] + 1)))
        return Question(template, "era5", "plain",
                        f"Compare {phrase} in {a} and {b} in {year}",
                        {"metrics": ERA5_PHRASES[phrase], "cities": [a, b],
                         "year": year, "months": None})
    if template == "emissions_gas":
        gas = z("gas", PLAIN_GASES)
        country = z("country", COUNTRIES)
        year = z("gyear", list(range(1970, 2024)))
        return Question(template, "emissions", "plain",
                        f"What were the {gas} emissions in {country} in {year}?",
                        {"gas": gas, "country": country, "years": (year, year)})
    if template == "emissions_range":
        gas = z("gas", PLAIN_GASES)
        country = z("country", COUNTRIES)
        y = z("gyear5", list(range(1970, 2019)))
        return Question(template, "emissions", "plain",
                        f"{gas[0].upper()}{gas[1:]} emissions in {country} from {y} to {y + 5}",
                        {"gas": gas, "country": country, "years": (y, y + 5)})
    if template == "emissions_fgas":
        gas = z("fgas", FGAS_KEYWORDS)
        country = z("country", COUNTRIES)
        year = z("fgyear", list(range(1990, 2024)))
        return Question(template, "emissions", "plain",
                        f"{gas} emissions in {country} in {year}",
                        {"gas": gas, "country": country, "years": (year, year)})
    raise KeyError(template)


def _analytic(template: str, d: _Draw) -> Question:
    u = d.uniform
    window = d.rng.random() < 0.5
    if template == "trend_disasters":
        if window:
            y = u(range(1980, 2016))
            yr = (y, y + 9)
            text = f"Which disaster type has an increasing count between {y} and {y + 9}?"
        else:
            yr, text = None, "Which disaster type is trending up?"
        return Question(template, "disasters", "trend", text, {"years": yr})
    if template == "trend_emissions":
        gas = u(PLAIN_GASES)
        country = u(COUNTRIES)
        if window:
            y = u(range(1970, 2016))
            yr = (y, y + 8)
            text = f"Is {gas} rising in {country} between {y} and {y + 8}?"
        else:
            yr, text = None, f"Is {gas} rising in {country}?"
        return Question(template, "emissions", "trend", text,
                        {"gas": gas, "country": country, "years": yr})
    if template == "trend_era5":
        phrase = u(list(ERA5_PHRASES))
        city = d.city(phrase, zipf=False)
        if window:
            yr = (2019, 2021)
            text = f"What is the {phrase} trend in {city} between 2019 and 2021?"
        else:
            yr, text = None, f"What is the {phrase} trend in {city}?"
        return Question(template, "era5", "trend", text,
                        {"metrics": ERA5_PHRASES[phrase], "cities": [city], "years": yr})
    if template == "anomaly_city":
        phrase = u(list(ERA5_PHRASES))
        city = d.city(phrase, zipf=False)
        year = u(range(ERA5_YEARS[0], ERA5_YEARS[1] + 1))
        return Question(template, "era5", "anomaly",
                        f"Was {phrase} in {city} in {year} above normal?",
                        {"metrics": ERA5_PHRASES[phrase], "cities": [city],
                         "year": year, "months": None})
    if template == "anomaly_month":
        phrase = u(list(ERA5_PHRASES))
        city = d.city(phrase, zipf=False)
        year = u(range(ERA5_YEARS[0], ERA5_YEARS[1] + 1))
        month = u(ERA5_MONTHS)
        return Question(template, "era5", "anomaly",
                        f"Was {phrase} in {city} in {MONTH_NAMES[month - 1]} {year} "
                        "above normal?",
                        {"metrics": ERA5_PHRASES[phrase], "cities": [city],
                         "year": year, "months": [month]})
    if template == "anomaly_cities":
        phrase = u(list(ERA5_PHRASES))
        a = d.city(phrase, zipf=False)
        b = d.city(phrase, zipf=False, other=a)
        year = u(range(ERA5_YEARS[0], ERA5_YEARS[1] + 1))
        return Question(template, "era5", "anomaly",
                        f"Was {phrase} in {year} more anomalous in {a} than in {b}?",
                        {"metrics": ERA5_PHRASES[phrase], "cities": [a, b],
                         "year": year, "months": None})
    raise KeyError(template)


# Every template runs its own plan over one domain table: lookups are
# one compiled plan each (1-3 jobs), analytic questions run the trend or
# anomaly planner (10-16 jobs).
LOOKUP_TEMPLATES = [
    "disasters_count", "disasters_total", "disasters_compare",
    "fema_metric", "fema_list",
    "era5_metric", "era5_compare",
    "emissions_gas", "emissions_range", "emissions_fgas",
]
ANALYTIC_TEMPLATES = [
    "trend_disasters", "trend_emissions", "trend_era5",
    "anomaly_city", "anomaly_month", "anomaly_cities",
]


# Untimed warm-up, one lookup per domain: the first question over a
# domain table pays for building it, and in a seeded order that would
# fall on a different template in every run.
WARMUP = {
    "disasters": "How many droughts occurred in 1980?",
    "fema": "List hurricane incidents in Florida from 2005 to 2010",
    "era5": "Skin temperature in Dhaka in March 2020",
    "emissions": "What were the CO2 emissions in India in 2020?",
}


class QuestionStream:
    """Endless seeded rounds: every template once per round, in an order
    drawn from the seed."""

    def __init__(self, seed: int):
        self.draw = _Draw(random.Random(seed))

    def next_round(self) -> list[Question]:
        d = self.draw
        order = LOOKUP_TEMPLATES + ANALYTIC_TEMPLATES
        d.rng.shuffle(order)
        return [_lookup(t, d) if t in LOOKUP_TEMPLATES else _analytic(t, d) for t in order]


def known_defects(engine) -> list[dict]:
    """Build each KNOWN_DEFECTS spec (no Spark job) and report what the
    engine resolved next to what was meant."""
    out = []
    for text, meant in KNOWN_DEFECTS:
        try:
            _, spec = engine.build_spec(text)
            got = {k: spec.filters.get(k) for k in meant}
        except Exception as e:  # the defect being reported
            got = f"{type(e).__name__}: {e}"
        out.append({"question": text, "meant": meant, "got": got, "ok": got == meant})
    return out


# ----------------------------------------------------------------------
# Reference answers.
# ----------------------------------------------------------------------

def round6(x: float) -> float:
    """Spark's ``round(double, 6)``: HALF_UP on the shortest decimal repr."""
    return float(Decimal(repr(float(x))).quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP))


def holt(ys: list[float], a: float = 0.75, b: float = 0.25) -> tuple[float, float]:
    """The unrolled Holt recursion of operators.trend, step for step."""
    lp, bp = float(ys[0]), float(ys[1] - ys[0])
    for y in ys[1:]:
        lt = round6(a * y + (1 - a) * (lp + bp))
        bp = round6(b * (lt - lp) + (1 - b) * bp)
        lp = lt
    return lp, bp


def _records(df: pd.DataFrame) -> list[dict]:
    return [
        {k: (None if isinstance(v, float) and math.isnan(v) else v) for k, v in r.items()}
        for r in df.to_dict("records")
    ]


def _window(years: pd.Series, asked: tuple[int, int] | None) -> tuple[int, int]:
    y_min, y_max = int(years.min()), int(years.max())
    if asked:
        return max(asked[0], y_min), min(asked[1], y_max)
    return max(y_min, y_max - 9), y_max


def _trend_rows(yearly: pd.DataFrame, key: str, lo: int, hi: int, zero_fill: bool) -> list[dict]:
    win = yearly[(yearly.year >= lo) & (yearly.year <= hi)]
    out = []
    for k, g in win.groupby(key):
        series = dict(zip(g.year, g.val))
        ys = [series.get(y, 0 if zero_fill else None) for y in range(lo, hi + 1)]
        l, b = holt(ys)
        out.append({key: k, "level": round6(l) + 0.0, "trend": round6(b) + 0.0,
                    "forecast_next": round6(l + b) + 0.0})
    return out


def _emissions_filter(t: pd.DataFrame, gas_kw: str, country: str) -> pd.DataFrame:
    gas, subs = GASES[gas_kw]
    t = t[(t.gas == gas) & (t.country == country)]
    return t[t.substance.isin(subs)] if subs else t


def _era5_months(t: pd.DataFrame, p: dict) -> pd.DataFrame:
    t = t[t.metric.isin(p["metrics"]) & t.city.isin(p["cities"])]
    dates = pd.to_datetime(t.date)
    return t.assign(year=dates.dt.year, month=dates.dt.month)


def expected_rows(q: Question, tables: dict[str, pd.DataFrame]) -> list[dict]:
    """Reference result rows of the question's plan (before the prompt's
    25-row cap)."""
    p = q.params
    if q.domain == "disasters" and q.intent == "plain":
        t = tables["disasters_yearly"]
        lo, hi = p["years"]
        t = t[(t.year >= lo) & (t.year <= hi)]
        if p["types"]:
            t = t[t.disaster_type.isin(p["types"])]
        return _records(t[["year", "disaster_type", "count", "cost"]])
    if q.template == "fema_metric":
        t = tables["fema_assistance"]
        lo, hi = p["years"]
        t = t[(t.state == p["state"]) & (t.incident_type == p["itype"])
              & (t.year >= lo) & (t.year <= hi)]
        total = float(t[p["metric"]].sum()) if len(t) else None
        return [{p["metric"]: total}]
    if q.template == "fema_list":
        t = tables["fema_assistance"]
        lo, hi = p["years"]
        t = t[(t.state == p["state"]) & (t.incident_type == p["itype"])
              & (t.year >= lo) & (t.year <= hi)]
        cols = ["year", "event", "state", "incident_type", "ihp_total", "pa_total"]
        return _records(t.sort_values(["year", "event"])[cols].head(25))
    if q.domain == "era5" and q.intent == "plain":
        t = _era5_months(tables["era5_monthly"], p)
        t = t[t.year == p["year"]]
        if p["months"]:
            t = t[t.month.isin(p["months"])]
        g = t.groupby(["city", "metric"], as_index=False)["value"].mean()
        return _records(g[["city", "metric", "value"]])
    if q.domain == "emissions" and q.intent == "plain":
        t = _emissions_filter(tables["emissions"], p["gas"], p["country"])
        lo, hi = p["years"]
        t = t[(t.year >= lo) & (t.year <= hi)]
        g = t.groupby(["country", "year"], as_index=False)["value"].sum()
        return _records(g[["country", "year", "value"]])
    if q.template == "trend_disasters":
        t = tables["disasters_yearly"]
        yearly = t.assign(val=t["count"])[["disaster_type", "year", "val"]]
        lo, hi = _window(yearly.year, p["years"])
        return _trend_rows(yearly, "disaster_type", lo, hi, zero_fill=True)
    if q.template == "trend_emissions":
        t = _emissions_filter(tables["emissions"], p["gas"], p["country"])
        yearly = t.groupby(["country", "year"], as_index=False)["value"].sum()
        yearly["val"] = yearly["value"].map(round6)
        lo, hi = _window(yearly.year, p["years"])
        return _trend_rows(yearly, "country", lo, hi, zero_fill=True)
    if q.template == "trend_era5":
        t = _era5_months(tables["era5_monthly"], p)
        t = t.assign(series=t.city + " " + t.metric)
        yearly = t.groupby(["series", "year"], as_index=False)["value"].mean()
        yearly["val"] = yearly["value"].map(round6)
        lo, hi = _window(yearly.year, p["years"])
        return _trend_rows(yearly, "series", lo, hi, zero_fill=False)
    if q.intent == "anomaly":
        t = _era5_months(tables["era5_monthly"], p)
        clim = t.groupby(["city", "metric", "month"], as_index=False).agg(
            climatology=("value", "mean"), n_years=("year", "nunique"))
        clim["climatology"] = clim["climatology"].map(round6)
        target = t[t.year == p["year"]].groupby(
            ["city", "metric", "year", "month"], as_index=False)["value"].mean()
        target["value"] = target["value"].map(round6)
        if p["months"]:
            target = target[target.month.isin(p["months"])]
        m = target.merge(clim, on=["city", "metric", "month"])
        m["anomaly"] = [round6(v - c) for v, c in zip(m.value, m.climatology)]
        if len(p["cities"]) == 1:
            cols = ["city", "metric", "year", "month", "value", "climatology",
                    "anomaly", "n_years"]
            return _records(m[cols])
        g = m.groupby(["city", "metric", "year"], as_index=False).agg(
            mean_anomaly=("anomaly", "mean"),
            mean_abs_anomaly=("anomaly", lambda s: s.abs().mean()),
            n_months=("anomaly", "size"))
        g["mean_anomaly"] = g["mean_anomaly"].map(round6) + 0.0
        g["mean_abs_anomaly"] = g["mean_abs_anomaly"].map(round6)
        return _records(g)
    raise KeyError(q.template)


# Float tolerance: the engine and the reference sum in different orders,
# and a 6-dp rounding tie can land one unit apart and carry through the
# Holt steps. Wrong filters or series miss by far more.
ABS_TOL = 1e-4
REL_TOL = 1e-9


def _norm(v):
    if hasattr(v, "isoformat"):
        return v.isoformat()[:10]
    if hasattr(v, "item"):  # numpy scalar
        return v.item()
    return v


def _key(row: dict) -> tuple:
    return tuple(
        (k, str(_norm(v))) for k, v in sorted(row.items())
        if not isinstance(_norm(v), float)
    )


def rows_match(got: list[dict], want: list[dict]) -> str | None:
    """None if the rows agree (as multisets, floats within tolerance),
    else a short description of the first difference."""
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    for g, w in zip(sorted(got, key=_key), sorted(want, key=_key)):
        if sorted(g) != sorted(w):
            return f"columns {sorted(g)} != {sorted(w)}"
        for k in w:
            a, b = _norm(g[k]), _norm(w[k])
            if isinstance(a, (int, float)) and isinstance(b, (int, float)) and not (
                isinstance(a, bool) or isinstance(b, bool)
            ):
                if not math.isclose(a, b, rel_tol=REL_TOL, abs_tol=ABS_TOL):
                    return f"{k}: {a} != {b} in {w}"
            elif str(a) != str(b):
                return f"{k}: {a!r} != {b!r}"
    return None
