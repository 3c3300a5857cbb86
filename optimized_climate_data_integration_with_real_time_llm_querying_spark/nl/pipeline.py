"""Question -> QuerySpec -> one Spark read -> grounded answer.

The end-to-end lifecycle of SURVEY.md §3, one engine instead of four
stdio client/server pairs. Routing, resolution, and planning are
driver-side (they look at vocabularies and dimension tables, not
data), so each question reads its domain table once:

- a lookup compiles to ONE plan, run by the answer — e.g. "Compare
  precipitation in Dhaka and Colombo in 2020" is one groupBy here
  versus the reference's 24 point queries plus resolution probes
  (``era5client.py:246-277``);
- a trend or anomaly question collects its series (keys x years, or
  series x months: hundreds of rows) with one action and finishes on
  the driver: the year window, zero-fill, Holt recursion, climatology
  and departures. Each step is a few arithmetic operations per row,
  cheaper in Python than the Spark jobs, Py4J calls and codegen a
  plan per step would cost. The answer then reads a local relation
  that keeps the result's column names, types and order.
"""

from __future__ import annotations

import re
from collections import defaultdict
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.trend import round6
from ..plans import QuerySpec, compile_spec
from ..sources import climate
import difflib

from .answer import Transport, answer
from .resolve import fuzzy_match_phrase, geocode_fallback, keyword_lookup
from .timeparse import extract_time


# Chemical-formula subscripts users type/paste (CO₂, CH₄, N₂O) fold
# to ASCII digits before routing/resolution, so "Is CO₂ rising in
# Brazil?" hits the same GAS_KEYWORDS entry as "CO2".
_SUBSCRIPT_DIGITS = str.maketrans("₀₁₂₃₄₅₆₇₈₉", "0123456789")


def _normalize_question(question: str) -> str:
    return question.translate(_SUBSCRIPT_DIGITS)


def _apply_eq_filters(df: DataFrame, filters: dict, ci=frozenset()) -> DataFrame:
    """Apply a QuerySpec's equality/IN filters (the trend planner
    reuses the plain spec builders' filters without compiling the
    whole spec). Comparison tuples don't occur in trend domains."""
    for col, val in filters.items():
        c = F.lower(F.col(col)) if col in ci else F.col(col)
        if isinstance(val, list):
            vals = [v.lower() for v in val] if col in ci else val
            df = df.filter(c.isin(vals))
        else:
            df = df.filter(c == (val.lower() if col in ci else val))
    return df


def _collect_series(df: DataFrame) -> list:
    """The one Spark action of a trend or anomaly question."""
    return df.collect()


def _mean(values) -> float | None:
    """Spark's ``avg`` over doubles: nulls skipped, a left-to-right sum
    from 0.0 divided by the count (no compensated summation). Spark
    adds partition sums in shuffle order, so the two can differ in the
    last bit; the 6-dp rounding after it hides that except on a tie."""
    total, n = 0.0, 0
    for v in values:
        if v is not None:
            total += v
            n += 1
    return total / n if n else None


def _order_key(v):
    # Spark's ascending order: nulls first, NaN above every number.
    if v is None:
        return (0, 0)
    if v != v:
        return (2, 0)
    return (1, v)


def _sort_rows(rows: list, *order: tuple[int, bool]) -> list:
    """Sort tuples like ``orderBy``: ``order`` is (index, descending)
    pairs; a descending column puts nulls last, as Spark's DESC does."""
    for i, desc in reversed(order):
        rows.sort(key=lambda r: _order_key(r[i]), reverse=desc)
    return rows


def _resolve_word(word: str, names: list[str], cutoff: float) -> str | None:
    """Driver-side single-word entity resolution (exact -> difflib),
    the per-question shape of resolve.resolve_entities."""
    for n in names:
        if n.lower() == word.lower():
            return n
    m = difflib.get_close_matches(word.lower(), [n.lower() for n in names], n=1, cutoff=cutoff)
    return next((n for n in names if n.lower() == m[0]), None) if m else None

# U3's metric aliases (Disaster dollar/client.py:61-66).
FEMA_METRICS = {
    "ihp total": "ihp_total",
    "ihp": "ihp_total",
    "pa total": "pa_total",
    "public assistance": "pa_total",
    "cdbg": "cdbg_dr_allocation",
    "valid applications": "valid_ihp_applications",
    "eligible applications": "eligible_ihp_applications",
    "pa projects": "pa_projects_count",
}

# Trend/forecast intent: routes the question through the engine's
# Holt linear-trend operator (operators/trend.holt_linear_state — the
# same recursion the FULL-oracled holt_forecast_daily registry query
# pins) instead of a plain grouped listing. Net-new NL capability:
# the reference's clients can only SELECT history, never rank by
# direction (SURVEY.md §2 has no trend shape).
TREND_RE = re.compile(
    r"\b(trend\w*|increas\w*|decreas\w*|rising|falling|growing|"
    r"shrinking|on the rise)\b"
)

# Corpus-eval intent (VERDICT r10 item 6): "how good is retrieval on
# this corpus?" routes to the engine's nDCG@10 eval
# (queries/retrieval.retrieval_ndcg_at_10 — the same builder the
# driver hash-checks) instead of falling off the climate router. Only
# active when the engine was built with a corpus_dir; the climate
# domains never match these phrases, so plain paths are untouched.
EVAL_RE = re.compile(
    r"\b(ndcg|retrieval (quality|eval\w*|effectiveness)|"
    r"how good is (the )?(retrieval|search)|search quality|"
    r"evaluate (the )?(retrieval|search|ranking))\b"
)

# Climate-anomaly intent (round 12): "was 2020 warmer than usual in
# Dhaka?" — the departure-from-climatology question every climate
# tool fields (the reference's ERA5 preprocessing computes exactly
# this monthly-climatology subtraction). ERA5-domain only: the other
# domains' grains are events/flows, not physical series.
ANOMALY_RE = re.compile(
    r"\b(anomal\w+|departure from (normal|average|the climatology)|"
    r"(warmer|colder|wetter|drier|windier|higher|lower) than "
    r"(usual|normal|average)|"
    r"(above|below) (normal|average))\b"
)

# Rank-metric paraphrases (VERDICT r11 item 7): "what's the MRR" /
# "precision at 10" reach the MRR/P/R@10 companion eval the same way
# the generic phrasing reaches nDCG@10. Checked BEFORE EVAL_RE so
# "evaluate the retrieval MRR" lands on the more specific builder.
MRR_RE = re.compile(
    r"\b(mrr|mean reciprocal rank|reciprocal rank|"
    r"(precision|recall)\s*(at|@)\s*10)\b"
)

# P5's NL comparison phrases (Disaster dollar/client.py:47-50).
COMPARISON_PHRASES = {
    "more than": ">",
    "greater than": ">",
    "over": ">",
    "above": ">",
    "at least": ">=",
    "less than": "<",
    "under": "<",
    "below": "<",
    "at most": "<=",
}

# U9: F-gas groups -> IN-lists (EDGARclient.py:38-46, 169-182).
GAS_KEYWORDS = {
    "co2": ("CO2", None),
    "carbon dioxide": ("CO2", None),
    "methane": ("CH4", None),
    "ch4": ("CH4", None),
    "n2o": ("N2O", None),
    "nitrous oxide": ("N2O", None),
    "hfc": ("F-gas", [s for s in climate.FGAS_SUBSTANCES if s.startswith("HFC")]),
    "sf6": ("F-gas", ["SF6"]),
    "f-gas": ("F-gas", climate.FGAS_SUBSTANCES),
    "fluorinated": ("F-gas", climate.FGAS_SUBSTANCES),
}


@dataclass
class Answer:
    question: str
    domain: str
    spec: QuerySpec
    result: DataFrame
    text: str
    dropped_fields: list[str]


class ClimateEngine:
    """All four reference modules behind one ask()."""

    def __init__(
        self,
        spark: SparkSession,
        transport: Transport | None = None,
        tables: dict[str, "DataFrame"] | None = None,
        corpus_dir: str | None = None,
    ):
        """``tables`` overrides any of the domain DataFrames (e.g. the
        REAL reference databases via sources.reference_ingest); the
        resolution vocabularies then derive from the data instead of
        the synthetic dimensions. ``corpus_dir`` (a testdata-shaped
        directory with documents.parquet) arms the corpus-eval intent
        (EVAL_RE -> retrieval_ndcg_at_10)."""
        self.spark = spark
        self.transport = transport
        self.corpus_dir = corpus_dir
        self.tables = climate.register_climate_views(spark)
        if tables:
            self.tables.update(tables)
            for name, df in tables.items():
                df.createOrReplaceTempView(name)
        # Dimension values are tiny; cache them for resolution.
        self._era5_metrics = list(climate.ERA5_METRICS)
        self._cities = sorted(
            {c for cities in climate.ERA5_CITIES.values() for c in cities}
        )
        if tables and "emissions" in tables:
            self._countries = sorted(
                r[0]
                for r in tables["emissions"].select("country").distinct().collect()
                if r[0]
            )
        else:
            self._countries = list(climate.GHG_COUNTRIES)
        self._states = climate.US_STATES
        # Longest-first word-boundary matcher over all 57 names so
        # "West Virginia" never resolves to "Virginia" and state names
        # embedded in other words never fire.
        self._state_re = re.compile(
            r"\b("
            + "|".join(
                re.escape(n.lower())
                for n in sorted(self._states, key=len, reverse=True)
            )
            + r")\b"
        )

    def _find_state(self, q_lower: str) -> str | None:
        m = self._state_re.search(q_lower)
        if not m:
            return None
        hit = m.group(1)
        return next(a for n, a in self._states.items() if n.lower() == hit)

    # ------------------------------------------------------------------
    # Routing (the four modules' implicit domains).
    # ------------------------------------------------------------------

    def route(self, question: str) -> str:
        """Domain routing by cue strength: exact vocabulary hits (gas
        names, FEMA metrics, US states, disaster synonyms) outrank the
        ERA5 fuzzy-metric scan, which fires on near-anything ('total
        disaster cost' ~ 'total ozone' at the 0.6 cutoff)."""
        q = _normalize_question(question).lower()
        if any(k in q for k in GAS_KEYWORDS) or "emission" in q:
            return "emissions"
        if any(k in q for k in FEMA_METRICS) or self._find_state(q):
            return "fema"
        if keyword_lookup(question, climate.DISASTER_SYNONYMS) or "disaster" in q:
            return "disasters"
        if fuzzy_match_phrase(question, self._era5_metrics) or any(
            c.lower() in q for c in self._cities
        ):
            return "era5"
        if any(t.lower() in q for t in climate.FEMA_INCIDENT_TYPES):
            return "fema"
        raise ValueError(f"cannot route question: {question!r}")

    # ------------------------------------------------------------------
    # Per-domain spec builders (U11 planners, minus the fan-out).
    # ------------------------------------------------------------------

    def _spec_disasters(self, question: str) -> QuerySpec:
        dtype = keyword_lookup(question, climate.DISASTER_SYNONYMS)
        # Multi-type compare: collect every synonym hit, not just the first.
        hits = []
        for kw, canon in climate.DISASTER_SYNONYMS.items():
            if kw in question.lower() and canon not in hits:
                hits.append(canon)
        t = extract_time(question)
        filters: dict = {}
        if len(hits) > 1:
            filters["disaster_type"] = hits
        elif dtype:
            filters["disaster_type"] = dtype
        return QuerySpec(
            dataset="disasters_yearly",
            metrics=["disaster_type", "count", "cost"],
            filters=filters,
            year=t.year,
            year_range=t.year_range,
            group_by=["year"],
            order_by=[("year", True)],
            limit=20,  # the reference's LIMIT 20 (new_disaster_c.py:259)
        )

    def _spec_fema(self, question: str) -> QuerySpec:
        q = question.lower()
        t = extract_time(question)
        filters: dict = {}
        state = self._find_state(q)
        if state is None:
            m = re.search(r"\b([A-Z]{2})\b", question)
            if m and m.group(1) in self._states.values():
                state = m.group(1)
        if state:
            filters["state"] = state
        itype = next(
            (x for x in climate.FEMA_INCIDENT_TYPES if x.lower() in q), None
        )
        if itype is None:
            # lemma-ish fallback: hurricanes -> Hurricane etc.
            for x in climate.FEMA_INCIDENT_TYPES:
                if x.lower().rstrip("es") in q or x.lower() + "es" in q:
                    itype = x
                    break
        if itype:
            filters["incident_type"] = itype
        # P5 comparisons: "<metric> more than $N".
        for phrase, op in COMPARISON_PHRASES.items():
            m = re.search(phrase + r"\s+\$?([\d,.]+)", q)
            if m:
                val = float(m.group(1).replace(",", ""))
                metric = next(
                    (col for kw, col in FEMA_METRICS.items() if kw in q), "ihp_total"
                )
                filters[metric] = (op, val)
                break
        metric = next((col for kw, col in FEMA_METRICS.items() if kw in q), None)
        is_metric_q = metric is not None and not any(
            w in q for w in ("list", "show", "which")
        )
        if is_metric_q:
            # Metric path: point lookup (client.py:260-299) -> the
            # engine aggregates instead of taking row[0].
            return QuerySpec(
                dataset="fema_assistance",
                metrics=[metric],
                filters=filters,
                year=t.year,
                year_range=t.year_range,
                agg="sum",
            )
        return QuerySpec(
            dataset="fema_assistance",
            metrics=["year", "event", "state", "incident_type", "ihp_total", "pa_total"],
            filters=filters,
            year=t.year,
            year_range=t.year_range,
            order_by=[("year", True), ("event", True)],
            limit=25,  # prompt cap (client.py:248)
        )

    def _spec_era5(self, question: str) -> QuerySpec:
        metrics = fuzzy_match_phrase(question, self._era5_metrics)
        if not metrics:
            raise ValueError("no ERA5 metric recognized")  # era5client returns None
        cities = []
        unresolved_proper: list[str] = []
        for word in re.findall(r"[A-Za-z]+", question):
            r = _resolve_word(word, self._cities, cutoff=0.8)
            if r and r not in cities:
                cities.append(r)
            elif not r and word[:1].isupper() and word.lower() not in (
                m for metric in self._era5_metrics for m in metric.split("_")
            ):
                unresolved_proper.append(word)
        # U7 rung 3: unresolved proper nouns go through the offline
        # geocode ladder (alias table + relaxed fuzzy against the
        # gazetteer, era5client.py:146-160) — only title-case words, so
        # ordinary vocabulary never geocodes to a spurious city.
        if not cities:
            for word in unresolved_proper:
                g = geocode_fallback(word, climate.ERA5_COUNTRIES)
                if g and g[0] not in cities:
                    cities.append(g[0])
        t = extract_time(question, default_year=2020)  # era5client.py:210-215
        return QuerySpec(
            dataset="era5_monthly",
            metrics=["value"],
            filters={
                "metric": metrics if len(metrics) > 1 else metrics[0],
                **({"city": cities if len(cities) > 1 else cities[0]} if cities else {}),
            },
            case_insensitive=frozenset({"city"}),
            year=t.year,
            year_range=t.year_range,
            months=t.months,
            group_by=["city", "metric"],
            agg="avg",
            order_by=[("city", True), ("metric", True)],
        )

    def _spec_emissions(self, question: str) -> QuerySpec:
        q = question.lower()
        gas, substances = None, None
        for kw, (g, subs) in GAS_KEYWORDS.items():
            if kw in q:
                gas, substances = g, subs
                break
        countries = []
        words = re.findall(r"[A-Za-z]+", question)
        grams = words + [" ".join(p) for p in zip(words, words[1:])]
        for gram in grams:
            r = _resolve_word(gram, self._countries, cutoff=0.85)
            if r and r not in countries:
                countries.append(r)
        t = extract_time(question, bounds=(1970, 2023))  # EDGARclient.py:204-212
        filters: dict = {}
        if gas:
            filters["gas"] = gas
        if substances:
            filters["substance"] = substances if len(substances) > 1 else substances[0]
        if countries:
            filters["country"] = countries if len(countries) > 1 else countries[0]
        return QuerySpec(
            dataset="emissions",
            metrics=["value"],
            filters=filters,
            year=t.year,
            year_range=t.year_range,
            group_by=["country", "year"],
            agg="sum",
            order_by=[("country", True), ("year", True)],
        )

    # ------------------------------------------------------------------

    def _spec_for(self, domain: str, question: str) -> QuerySpec:
        return {
            "disasters": self._spec_disasters,
            "fema": self._spec_fema,
            "era5": self._spec_era5,
            "emissions": self._spec_emissions,
        }[domain](question)

    def build_spec(self, question: str) -> tuple[str, QuerySpec]:
        question = _normalize_question(question)
        domain = self.route(question)
        return domain, self._spec_for(domain, question)

    def _trend_series(self, domain: str, question: str):
        """Per-domain yearly series for the trend intent:
        (key_col, yearly(key, year, val), zero_fill, filters).

        disasters: yearly count per disaster_type — zero-filled (a
        year with no recorded disasters of a type IS a zero count);
        emissions: yearly total value per country, narrowed by the
        plain spec builder's gas/substance/country filters (the
        reference's EDGAR module fields exactly these question
        shapes as point lookups, EDGARclient.py:184-305) —
        zero-filled (no reported emissions = zero flow);
        era5: yearly mean per (city, metric) series
        (era5client.py:220-282's history shape) — NOT zero-filled: a
        missing year of a physical measurement is a data gap, not a
        zero reading, so the Holt density guard stays loud instead.

        Emissions/era5 yearly aggregates round to 6 dp so the series
        the recursion sees is a well-defined number, independent of
        FP accumulation order."""
        if domain == "disasters":
            yearly = self.tables["disasters_yearly"].select(
                "disaster_type", "year", F.col("count").alias("val")
            )
            return "disaster_type", yearly, True, {}
        if domain == "emissions":
            spec = self._spec_emissions(question)
            yearly = (
                _apply_eq_filters(self.tables["emissions"], spec.filters)
                .groupBy("country", "year")
                .agg(F.round(F.sum("value"), 6).alias("val"))
            )
            return "country", yearly, True, spec.filters
        if domain == "era5":
            spec = self._spec_era5(question)
            yearly = (
                _apply_eq_filters(
                    self.tables["era5_monthly"],
                    spec.filters,
                    ci=spec.case_insensitive,
                )
                .groupBy(
                    F.concat_ws(" ", "city", "metric").alias("series"),
                    F.year("date").alias("year"),
                )
                .agg(F.round(F.avg("value"), 6).alias("val"))
            )
            return "series", yearly, False, spec.filters
        raise ValueError(f"no trend planner for domain {domain!r}")

    def _plan_anomaly(self, question: str) -> tuple[QuerySpec, DataFrame]:
        """'Was skin temperature in Dhaka in 2020 above normal?' ->
        monthly climatology per (city, metric, month-of-year) over
        EVERY year the table has (the ERA5_preprocessing.ipynb
        climatology step), then the asked year's monthly departure
        from it. No year in the question = the table's latest year; a
        year RANGE ("anomaly from 2018 to 2020") keeps one output row
        per (year, month) — each year compares to the same full-table
        climatology — clamped to coverage like the trend planner.
        One action collects the filtered series (series x months
        rows); coverage, climatology, ``n_years`` and departures are
        computed from those rows on the driver, with Spark's ``avg``
        and ``round`` semantics. Values pin to the 6-dp grid before
        the subtraction so the anomaly is a well-defined number."""
        spec = self._spec_era5(question)
        tbl = _apply_eq_filters(
            self.tables["era5_monthly"], spec.filters, ci=spec.case_insensitive
        )
        rows = _collect_series(
            tbl.select(
                "city",
                "metric",
                F.year("date").alias("year"),
                F.month("date").alias("month"),
                "value",
            )
        )
        years = [r[2] for r in rows if r[2] is not None]
        if not years:
            raise ValueError(
                f"no era5 rows match the question's filters "
                f"({spec.filters!r}) — cannot compute an anomaly"
            )
        y_min, y_max = min(years), max(years)
        t = extract_time(question)
        if t.year is not None:
            lo = hi = t.year
        elif t.year_range is not None:
            lo, hi = t.year_range
        else:
            lo = hi = y_max
        if not t.empty:  # empty spec stays vacuously-false BETWEEN
            if hi < y_min or lo > y_max:
                raise ValueError(
                    f"anomaly years {lo}-{hi} are outside the table's "
                    f"{y_min}-{y_max} coverage"
                )
            lo, hi = max(lo, y_min), min(hi, y_max)
        clim_values, clim_years = defaultdict(list), defaultdict(set)
        target = defaultdict(list)
        for city, metric, year, month, value in rows:
            clim_values[(city, metric, month)].append(value)
            if year is None:
                continue
            clim_years[(city, metric, month)].add(year)
            # "anomaly in April 2020" narrows the OUTPUT months; the
            # climatology stays full-year (each month compares to its
            # own-month normal regardless of which months are shown).
            if lo <= year <= hi and (not t.months or month in t.months):
                target[(city, metric, year, month)].append(value)
        monthly = []
        for (city, metric, year, month), values in target.items():
            if city is None or metric is None or month is None:
                continue  # a null key joins no climatology row
            clim_key = (city, metric, month)
            value = round6(_mean(values))
            clim = round6(_mean(clim_values[clim_key]))
            anomaly = None if value is None or clim is None else round6(value - clim)
            monthly.append(
                (city, metric, year, month, value, clim, anomaly,
                 len(clim_years[clim_key]))
            )
        monthly.sort(key=lambda r: r[:4])
        cities = spec.filters.get("city")
        if isinstance(cities, list) and len(cities) > 1:
            # g17 anomaly-COMPARISON composition ("was 2020 more
            # anomalous in Dhaka than in Delhi?"): both cities'
            # departures from the same frozen full-table climatology,
            # summarized to one row per (city, metric, year) so the
            # cities are directly comparable; ordered most-anomalous-
            # first. The monthly grain stays the single-city output.
            by_year = defaultdict(list)
            for r in monthly:
                by_year[r[:3]].append(r[6])
            summary = _sort_rows(
                [
                    (
                        *key,
                        round6(_mean(anomalies)),
                        round6(_mean(a if a is None else abs(a) for a in anomalies)),
                        len(anomalies),
                    )
                    for key, anomalies in by_year.items()
                ],
                (4, True), (0, False), (1, False), (2, False),
            )
            plan = climate.local_relation(
                self.spark,
                summary,
                "city string, metric string, year int, mean_anomaly double, "
                "mean_abs_anomaly double, n_months bigint",
            )
            out_spec = QuerySpec(
                dataset="era5_monthly",
                metrics=["mean_anomaly", "mean_abs_anomaly"],
                filters=spec.filters,
                year_range=(lo, hi),
                group_by=["city", "metric", "year"],
                order_by=[("mean_abs_anomaly", False)],
            )
            return out_spec, plan
        plan = climate.local_relation(
            self.spark,
            monthly,
            "city string, metric string, year int, month int, value double, "
            "climatology double, anomaly double, n_years bigint",
        )
        out_spec = QuerySpec(
            dataset="era5_monthly",
            metrics=["value", "climatology", "anomaly"],
            filters=spec.filters,
            year_range=(lo, hi),
            group_by=["city", "metric", "year", "month"],
        )
        return out_spec, plan

    def _plan_trend(self, domain: str, question: str) -> tuple[QuerySpec, DataFrame]:
        """'Which disaster type is trending up?' / 'Is CO2 rising in
        Brazil?' / 'temperature trend in Dhaka' -> Holt linear-trend
        state over each series' yearly values, ranked by the trend
        component; forecast_next = level + trend (h=1).

        One action collects the yearly series (keys x years rows); the
        rest runs on the driver. Window: the question's explicit year
        range if it gives one (clamped to the years the table actually
        has — open phrasings like "since 2015" parse with the
        extractor's default horizon and must not fail the density
        guard), else the last 10 years of the table (a decade is the
        honest horizon for 'is it trending' — a 45-year series would
        let the 1980s dominate the smoothed state). Zero-fill domains
        densify each key's series over the window (missing years and
        nulls count 0) so a sparse key cannot fail the density guard;
        >= 2 steps and per-key density are still guarded loudly INSIDE
        holt_linear_state (shared with the FULL-oracled
        holt_forecast_daily's 30-day guard)."""
        from ..operators.trend import holt_linear_state

        key_col, yearly, zero_fill, filters = self._trend_series(domain, question)
        rows = _collect_series(yearly)
        years = [r[1] for r in rows if r[1] is not None]
        if not years:
            raise ValueError(
                f"no {domain} rows match the question's filters "
                f"({filters!r}) — cannot fit a trend"
            )
        y_min, y_max = min(years), max(years)
        t = extract_time(question)
        if t.year_range:
            lo, hi = t.year_range
            lo, hi = max(lo, y_min), min(hi, y_max)
            if hi < lo:
                raise ValueError(
                    f"trend window {t.year_range} is outside the "
                    f"table's {y_min}-{y_max} coverage"
                )
        else:
            hi = y_max
            lo = max(y_min, hi - 9)
        n_steps = hi - lo + 1
        window = defaultdict(lambda: defaultdict(list))
        for key, year, val in rows:
            if year is not None and lo <= year <= hi:
                window[key][year].append(val)
        if zero_fill:
            # A sparse disaster type / country is a valid question, not
            # an exception (ADVICE r9): each window year without a row
            # counts 0.
            series = {
                key: [
                    0 if v is None else v
                    for y in range(lo, hi + 1)
                    for v in by_year.get(y, [0])
                ]
                for key, by_year in window.items()
            }
        else:
            series = {
                key: [v for y in sorted(by_year) for v in by_year[y]]
                for key, by_year in window.items()
            }
        state = holt_linear_state(series, key_col, n_steps, series_desc="years")
        ranked = _sort_rows(
            [
                (key, round6(l), round6(b), None if l is None else round6(l + b))
                for key, (l, b) in state.items()
            ],
            (2, True), (0, False),
        )
        key_type = yearly.schema[key_col].dataType.simpleString()
        plan = climate.local_relation(
            self.spark,
            ranked,
            f"{key_col} {key_type}, level double, trend double, forecast_next double",
        )
        dataset = {
            "disasters": "disasters_yearly",
            "emissions": "emissions",
            "era5": "era5_monthly",
        }[domain]
        spec = QuerySpec(
            dataset=dataset,
            metrics=[key_col, "level", "trend", "forecast_next"],
            filters=filters,
            year_range=(lo, hi),
            group_by=[key_col],
            order_by=[("trend", False)],
        )
        return spec, plan

    def ask(self, question: str) -> Answer:
        question = _normalize_question(question)
        # Route ONCE; the trend branch and the spec builders consume
        # the same routing decision. Trend covers the three
        # time-series domains; FEMA stays on the plain path (its
        # grain is per-event assistance, not a yearly series).
        if self.corpus_dir and (
            MRR_RE.search(question.lower()) or EVAL_RE.search(question.lower())
        ):
            # Corpus-eval intent: reaches the registry's eval
            # builders the way trend reaches Holt — checked BEFORE
            # the climate router because these questions carry no
            # climate cues (route() would raise). MRR/precision/
            # recall phrasings pick the MRR@10 companion; everything
            # else gets nDCG@10.
            from ..queries.retrieval import (
                retrieval_mrr_at_10,
                retrieval_ndcg_at_10,
            )

            builder = (
                retrieval_mrr_at_10
                if MRR_RE.search(question.lower())
                else retrieval_ndcg_at_10
            )
            plan = builder(self.spark, self.corpus_dir)
            spec = QuerySpec(dataset="documents", metrics=list(plan.columns))
            text = answer(question, plan, self.transport)
            return Answer(question, "corpus", spec, plan, text, [])
        domain = self.route(question)
        if domain in ("disasters", "emissions", "era5") and TREND_RE.search(
            question.lower()
        ):
            spec, plan = self._plan_trend(domain, question)
            text = answer(question, plan, self.transport)
            return Answer(question, domain, spec, plan, text, [])
        if domain == "era5" and ANOMALY_RE.search(question.lower()):
            spec, plan = self._plan_anomaly(question)
            text = answer(question, plan, self.transport)
            return Answer(question, domain, spec, plan, text, [])
        spec = self._spec_for(domain, question)
        # ERA5's year column lives in `date`; emissions/disasters use
        # integer `year` — compile_spec handles both via _time_column.
        plan, dropped = compile_spec(spec, self.tables[spec.dataset])
        text = answer(question, plan, self.transport)
        return Answer(question, domain, spec, plan, text, dropped)
