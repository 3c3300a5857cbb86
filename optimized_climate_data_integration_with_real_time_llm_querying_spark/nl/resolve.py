"""U1/U5-U10: entity, metric, and location resolution.

Strategy follows the reference's ladder — exact match, then fuzzy,
then (for cities) an external geocoder — with its cutoffs preserved:
0.6 for metrics (``era5client.py:174``), 0.8 for cities
(``era5client.py:139``), 0.85 for countries (``EDGARclient.py:151``).

Where the vocabulary is tiny and static (metric names, disaster
keywords, substances) resolution is plain Python (difflib) on the
driver — no reason to involve the cluster. Where the entity space is
DATA (cities, countries), resolution is a broadcast-dimension
levenshtein join, so it scales with the dimension and can resolve a
whole column of raw entity strings in one pass (the batch shape the
reference's per-question probes can't do).
"""

from __future__ import annotations

import difflib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

METRIC_CUTOFF = 0.6
CITY_CUTOFF = 0.8
COUNTRY_CUTOFF = 0.85


def fuzzy_match_phrase(question: str, vocabulary: list[str], cutoff: float = METRIC_CUTOFF) -> list[str]:
    """U6: the reference's all-word-n-grams x get_close_matches scan
    (era5client.py:165-181): every 1..3-word window of the question is
    fuzzy-compared against the vocabulary; hits dedup in vocab order."""
    words = [w.strip(",.?!") for w in question.lower().split()]
    vocab_norm = {v.lower().replace("_", " "): v for v in vocabulary}
    hits: list[str] = []
    for n in (3, 2, 1):
        for i in range(len(words) - n + 1):
            gram = " ".join(words[i : i + n])
            for m in difflib.get_close_matches(gram, vocab_norm, n=1, cutoff=cutoff):
                canonical = vocab_norm[m]
                if canonical not in hits:
                    hits.append(canonical)
    return hits


def keyword_lookup(question: str, synonyms: dict[str, str]) -> str | None:
    """U1/U5: longest-first keyword scan against a synonym table
    (new_disaster_c.py:19-49; Disaster dollar/client.py:41-45)."""
    q = question.lower()
    for kw in sorted(synonyms, key=len, reverse=True):
        if kw in q:
            return synonyms[kw]
    return None


def resolve_entities(
    raw: DataFrame,
    dim: DataFrame,
    raw_col: str = "raw",
    name_col: str = "name",
    cutoff: float = CITY_CUTOFF,
) -> DataFrame:
    """U7/U8 as a batch operator: resolve a column of raw entity
    strings against a dimension table.

    Ladder per raw value:
    1. exact case-insensitive equality (the reference's
       UPPER(City)=UPPER(?) probe);
    2. fuzzy: max levenshtein similarity >= cutoff, similarity
       defined like difflib's ratio ~ 1 - dist/max_len.

    The dimension is broadcast, so this is a map-side join however
    large ``raw`` is; ambiguity resolves to the lexicographically
    first best match (deterministic). Unresolved values come back
    with resolved=NULL ('unknown' sentinel, EDGARclient.py:131).
    """
    r = raw.select(F.col(raw_col).alias("_raw")).distinct()
    d = dim.select(F.col(name_col).alias("_name"))
    sim = 1 - F.levenshtein(F.upper(F.col("_raw")), F.upper(F.col("_name"))) / F.greatest(
        F.length("_raw"), F.length("_name")
    ).cast("double")
    scored = (
        r.join(F.broadcast(d))
        .select(
            "_raw",
            "_name",
            F.when(F.upper(F.col("_raw")) == F.upper(F.col("_name")), F.lit(2.0))
            .otherwise(sim)
            .alias("_sim"),
        )
        .filter((F.col("_sim") >= cutoff) | (F.col("_sim") == 2.0))
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("_raw").orderBy(F.col("_sim").desc(), F.col("_name"))
    best = (
        scored.withColumn("_rank", F.row_number().over(w))
        .filter(F.col("_rank") == 1)
        .select(F.col("_raw"), F.col("_name").alias("_resolved"))
    )
    return (
        raw.join(best, raw[raw_col] == best["_raw"], "left")
        .drop("_raw")
        .withColumnRenamed("_resolved", "resolved")
    )


# Historical / alternate city names -> gazetteer canonical form
# (public knowledge; the offline stand-in for what Nominatim's alias
# database would resolve).
CITY_ALIASES = {
    "bombay": "Mumbai",
    "madras": "Chennai",
    "new delhi": "Delhi",
    "old delhi": "Delhi",
    "dacca": "Dhaka",
    "chattogram": "Chittagong",
}

# Relaxed cutoff for the last rung only: strings the 0.8 fuzzy rung
# already rejected, so a looser match is the graceful-degradation
# behavior (mirrors the reference accepting whatever Nominatim returns).
GEOCODE_CUTOFF = 0.6


def geocode_fallback(city: str, allowed_countries: list[str]) -> tuple[str, str] | None:
    """U7's last rung, offline (era5client.py:146-160 uses Nominatim
    restricted to the ERA5 country codes; no network here, so the
    'geocoder' is the local gazetteer): alias lookup first (Bombay ->
    Mumbai), then a relaxed fuzzy match (cutoff 0.6) against the
    gazetteer cities of ``allowed_countries``. Returns (canonical_city,
    country) or None — unknown spellings degrade to nearest-match
    instead of silently dropping the city filter.
    """
    from ..sources import climate

    candidates: dict[str, str] = {}  # lower name -> country
    for country, cities in climate.ERA5_CITIES.items():
        if country in allowed_countries:
            for c in cities:
                candidates[c.lower()] = country
    if not candidates:
        return None

    def _canonical(lower_name: str) -> tuple[str, str]:
        country = candidates[lower_name]
        name = next(
            c for c in climate.ERA5_CITIES[country] if c.lower() == lower_name
        )
        return name, country

    key = city.strip().lower()
    alias = CITY_ALIASES.get(key)
    if alias and alias.lower() in candidates:
        return _canonical(alias.lower())
    if key in candidates:
        return _canonical(key)
    m = difflib.get_close_matches(key, list(candidates), n=1, cutoff=GEOCODE_CUTOFF)
    if m:
        return _canonical(m[0])
    return None
