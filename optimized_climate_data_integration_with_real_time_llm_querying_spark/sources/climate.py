"""Reference-shaped climate datasets + dimension tables.

Shapes follow FIXTURES.md (measured from the reference's shipped
SQLite databases): NOAA disasters_yearly, FEMA fema_assistance, ERA5
era5_monthly, EDGAR emissions — all in canonical LONG form
(SURVEY.md §1.2: long is canonical, wide is a pivot view), un-sharded
(country/gas are columns, not table/database names — reverses
``era5client.py:21-30`` and ``emissions_mcp.py:8-13``).

Data is generated deterministically (fixed LCG seed) so golden tests
are stable; a production deployment would replace ``build_*`` with
the real CSV/Excel/NetCDF ingest (see ``.ingest`` module) — every
schema and transform stays the same.

``ask()`` re-executes its domain table on every question, so the four
domain builders are shaped for the per-question fixed cost, which
dominates for answers of a few rows:

- Each starts from a one-partition key range (``spark.range(0, n, 1,
  numPartitions=1)``: disaster types, city x metric, country x
  substance, FEMA rows), picks its key columns by index from literal
  arrays and explodes the time axis per key. A one-partition
  ``Range`` reports ``SinglePartition``, which satisfies the
  distribution an aggregate, sort or window requires, so a question's
  plan has no ``Exchange`` and runs as one job of one task.
- No join: a cross join of the key relations plans as broadcast
  nested-loop joins, each broadcast its own Spark job. Without one,
  Catalyst pushes a key filter (country, gas, city, metric, type) below
  the ``Generate``, so only the matching keys are exploded and hashed.
- No ``createDataFrame``: it plans as ``Scan ExistingRDD`` over pickled
  rows, which starts Python workers to unpickle them on every query.
  The dimension tables and the gazetteer are ``local_relation``s
  instead, one inline ``VALUES`` query that plans as ``LocalTableScan``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

DISASTER_TYPES = [
    "Drought",
    "Flooding",
    "Freeze",
    "Severe Storm",
    "Tropical Cyclone",
    "Wildfire",
    "Winter Storm",
]

# U1 keyword->canonical type map (new_disaster_c.py:19-34 semantics).
DISASTER_SYNONYMS = {
    "drought": "Drought",
    "droughts": "Drought",
    "flood": "Flooding",
    "floods": "Flooding",
    "flooding": "Flooding",
    "freeze": "Freeze",
    "freezes": "Freeze",
    "storm": "Severe Storm",
    "storms": "Severe Storm",
    "hurricane": "Tropical Cyclone",
    "hurricanes": "Tropical Cyclone",
    "cyclone": "Tropical Cyclone",
    "cyclones": "Tropical Cyclone",
    "typhoon": "Tropical Cyclone",
    "wildfire": "Wildfire",
    "wildfires": "Wildfire",
    "fire": "Wildfire",
    "fires": "Wildfire",
    "winter storm": "Winter Storm",
    "blizzard": "Winter Storm",
}

FEMA_INCIDENT_TYPES = [
    "Coastal Storm", "Dam or Levee Break", "Earthquake", "Fire", "Flood",
    "Freezing", "Hurricane", "Mud/Landslide", "Severe Ice Storm",
    "Severe Storm", "Snowstorm", "Straight-Line Winds", "Tornado",
    "Tropical Storm", "Tsunami", "Typhoon", "Volcanic Eruption",
    "Winter Storm", "Other",
]

# Full dimension breadth (57 states/territories, 223 EDGAR
# countries) lives in .vocab; re-exported here so every consumer
# (NL resolution, synthetic builders, dimension tables) sees the
# complete vocabularies, matching the real databases.
from .vocab import GHG_COUNTRIES, US_STATES  # noqa: F401

ERA5_COUNTRIES = ["india", "nepal", "bhutan", "pakistan", "bangladesh", "srilanka", "afghanistan"]

ERA5_CITIES = {
    "india": ["Delhi", "Mumbai", "Chennai"],
    "nepal": ["Kathmandu", "Pokhara"],
    "bhutan": ["Thimphu"],
    "pakistan": ["Karachi", "Lahore"],
    "bangladesh": ["Dhaka", "Chittagong"],
    "srilanka": ["Colombo", "Kandy"],
    "afghanistan": ["Kabul", "Herat"],
}

# (lat, lon) per city — the gazetteer the reverse-geocode join uses
# (coordinates approximate, public knowledge).
CITY_COORDS = {
    "Delhi": (28.61, 77.21), "Mumbai": (19.08, 72.88), "Chennai": (13.08, 80.27),
    "Kathmandu": (27.72, 85.32), "Pokhara": (28.21, 83.99),
    "Thimphu": (27.47, 89.64),
    "Karachi": (24.86, 67.00), "Lahore": (31.55, 74.34),
    "Dhaka": (23.81, 90.41), "Chittagong": (22.36, 91.78),
    "Colombo": (6.93, 79.85), "Kandy": (7.29, 80.64),
    "Kabul": (34.56, 69.21), "Herat": (34.35, 62.20),
}

# Metric families mirror the reference's _df0/_df1 vertical split
# (era5client.py:33-34); family is metadata here, not a table name.
ERA5_METRICS = {
    "high_vegetation_cover": ("df0", "fraction"),
    "surface_pressure": ("df0", "Pa"),
    "total_ozone": ("df0", "atm-cm"),
    "wind_speed": ("df0", "m/s"),
    "skin_temperature": ("df0", "K"),
    "uv_radiation": ("df1", "W/m2"),
    "snowfall": ("df1", "m"),
    "net_thermal_radiation": ("df1", "W/m2"),
    "total_precipitation": ("df1", "m"),
    "convective_rain_rate": ("df1", "kg/m2/s"),
    "mean_evaporation_rate": ("df1", "kg/m2/s"),
    "mean_moisture_divergence": ("df1", "kg/m2/s"),
    "mean_precipitation_rate": ("df1", "kg/m2/s"),
}

FGAS_SUBSTANCES = [
    "HFC-125", "HFC-134a", "HFC-143a", "HFC-152a", "HFC-227ea", "HFC-23",
    "HFC-236fa", "HFC-245fa", "HFC-32", "HFC-365mfc", "HFC-43-10-mee",
    "SF6", "NF3", "CF4", "C2F6", "c-C4F8",
]


def _sql_string(v) -> str:
    # Backslash escapes, as the default parser reads them; "$" as well,
    # so no value can read as a ${var} substitution. str() of a float
    # is its shortest round-trip repr, so the cast back is exact.
    if v is None:
        return "NULL"
    text = str(v).replace("\\", "\\\\").replace("'", "\\'").replace("$", "\\u0024")
    return f"'{text}'"


def local_relation(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """``spark.createDataFrame(rows, schema)`` as one inline ``VALUES``
    query: a single driver call that plans as ``LocalTableScan``, so no
    Python worker ever reads the rows. ``schema`` is a DDL string; every
    value is written as a string literal (``None`` as NULL) and cast to
    its column's type. No rows gives an empty relation of that schema."""
    fields = StructType.fromDDL(schema).fields
    cols = ", ".join(
        f"CAST(col{i} AS {f.dataType.simpleString()}) AS `{f.name}`"
        for i, f in enumerate(fields, 1)
    )
    # VALUES needs at least one row: an empty relation filters out nulls.
    where = "" if rows else " WHERE false"
    values = ", ".join(
        "(" + ", ".join(_sql_string(v) for v in row) + ")"
        for row in rows or [(None,) * len(fields)]
    )
    return spark.sql(f"SELECT {cols} FROM VALUES {values}{where}")


def _lcg(col, lo: float, hi: float):
    """Deterministic pseudo-random double in [lo, hi) from an integer
    column — xxhash64 as the mixer so generation is pure Spark."""
    u = (F.abs(F.xxhash64(col)) % 1_000_000) / 1_000_000.0
    return lo + u * (hi - lo)


def _pick(values, index: str) -> Column:
    """``values[index]`` over a literal array written as one SQL
    expression: one parse on the driver, where an ``F.lit`` per value
    costs a JVM round trip each. Floats are written as double literals
    (their repr round-trips), everything else as a string literal."""
    items = ", ".join(f"{v!r}D" if isinstance(v, float) else _sql_string(v) for v in values)
    return F.expr(f"array({items})[{index}]")


def build_disasters_yearly(spark: SparkSession) -> DataFrame:
    """Long form of NOAA `disaster_records` (45 years x 7 types):
    (year, disaster_type, count, cost). One key per disaster type,
    exploded over the years."""
    keys = spark.range(0, len(DISASTER_TYPES), 1, numPartitions=1).select(
        _pick(DISASTER_TYPES, "id").alias("disaster_type")
    )
    base = keys.select("disaster_type", F.explode(F.sequence(F.lit(1980), F.lit(2024))).alias("year"))
    seed = F.concat(F.col("year").cast("string"), F.lit("|"), F.col("disaster_type"))
    return base.select(
        "year",
        "disaster_type",
        F.floor(_lcg(seed, 0, 8)).cast("int").alias("count"),
        F.round(_lcg(F.concat(seed, F.lit("c")), 0.0, 60.0), 1).alias("cost"),
    )


def disasters_wide(long_df: DataFrame) -> DataFrame:
    """The reference's wide shape: one row per year, '<Type> Count' /
    '<Type> Cost' columns plus totals (schema of disaster_data.db)."""
    counts = (
        long_df.groupBy("year")
        .pivot("disaster_type", DISASTER_TYPES)
        .agg(F.first("count"))
        .select("year", *[F.col(f"`{t}`").alias(f"{t} Count") for t in DISASTER_TYPES])
    )
    costs = (
        long_df.groupBy("year")
        .pivot("disaster_type", DISASTER_TYPES)
        .agg(F.first("cost"))
        .select("year", *[F.col(f"`{t}`").alias(f"{t} Cost") for t in DISASTER_TYPES])
    )
    wide = counts.join(costs, "year")
    total_count = sum(F.col(f"`{t} Count`") for t in DISASTER_TYPES)
    total_cost = sum(F.col(f"`{t} Cost`") for t in DISASTER_TYPES)
    return wide.select(
        "*",
        total_count.alias("Total_Disaster_Count"),
        F.round(total_cost, 1).alias("Total_Disaster_Cost"),
    )


def melt_disasters(wide_df: DataFrame) -> DataFrame:
    """Wide -> canonical long via stack() — the ingest-side melt
    (SURVEY.md §1.2). Inverse of disasters_wide."""
    stack_args = ", ".join(
        f"'{t}', `{t} Count`, `{t} Cost`" for t in DISASTER_TYPES
    )
    return wide_df.select(
        "year",
        F.expr(
            f"stack({len(DISASTER_TYPES)}, {stack_args}) AS (disaster_type, count, cost)"
        ),
    )


def build_fema_assistance(spark: SparkSession, n_rows: int = 6000) -> DataFrame:
    """FEMA/HUD `disaster_dollar_db` shape: one row per disaster event
    (year, event, incident_number, dates, state, incident_type, ihp/pa
    dollar columns). Dates are real DateType — the reference stores
    M/D/YYYY strings (FIXTURES.md §2); parsing happens at ingest. One
    key per row, so nothing is exploded."""
    rows = spark.range(0, n_rows, 1, numPartitions=1).select(F.col("id").alias("i"))
    states = list(US_STATES.values())
    types = FEMA_INCIDENT_TYPES
    year = (2003 + F.col("i") % 22).cast("int")
    state = _pick(states, f"int(abs(xxhash64(i)) % {len(states)})")
    itype = _pick(types, f"int(abs(xxhash64(i + 7)) % {len(types)})")
    start = F.make_date(year, (F.abs(F.xxhash64(F.col("i") + 3)) % 12 + 1).cast("int"),
                        (F.abs(F.xxhash64(F.col("i") + 5)) % 28 + 1).cast("int"))
    return rows.select(
        year.alias("year"),
        F.concat(state, F.lit(" "), itype, F.lit(" #"), F.col("i").cast("string")).alias("event"),
        (1000 + F.col("i")).cast("int").alias("incident_number"),
        start.alias("incident_start"),
        F.date_add(start, (F.abs(F.xxhash64(F.col("i") + 11)) % 30 + 1).cast("int")).alias("incident_end"),
        state.alias("state"),
        itype.alias("incident_type"),
        F.round(_lcg(F.col("i") + 13, 0, 50000), 0).alias("valid_ihp_applications"),
        F.round(_lcg(F.col("i") + 17, 0, 40000), 0).alias("eligible_ihp_applications"),
        F.round(_lcg(F.col("i") + 19, 0, 5e8), 2).alias("ihp_total"),
        F.round(_lcg(F.col("i") + 23, 0, 2e9), 2).alias("pa_total"),
        F.round(_lcg(F.col("i") + 29, 0, 1e9), 2).alias("cdbg_dr_allocation"),
        F.floor(_lcg(F.col("i") + 31, 0, 500)).cast("double").alias("pa_projects_count"),
    )


def build_era5_monthly(spark: SparkSession, years: tuple[int, int] = (2019, 2022)) -> DataFrame:
    """ERA5 monthly city means, un-sharded and LONG on metric:
    (country, city, date, metric, family, unit, value).

    The reference's 14 `{country}_df{0,1}` tables collapse here; the
    per-metric-family split survives as the `family` column. One key
    per (city, metric), exploded over the months."""
    cities = [(c, city) for c, cs in ERA5_CITIES.items() for city in cs]
    metrics = list(ERA5_METRICS)
    city_ix = f"id div {len(metrics)}"
    metric_ix = f"id % {len(metrics)}"
    keys = spark.range(0, len(cities) * len(metrics), 1, numPartitions=1).select(
        _pick([c for c, _ in cities], city_ix).alias("country"),
        _pick([city for _, city in cities], city_ix).alias("city"),
        _pick([CITY_COORDS[city][0] for _, city in cities], city_ix).alias("latitude"),
        _pick([CITY_COORDS[city][1] for _, city in cities], city_ix).alias("longitude"),
        _pick(metrics, metric_ix).alias("metric"),
        _pick([fam for fam, _ in ERA5_METRICS.values()], metric_ix).alias("family"),
        _pick([unit for _, unit in ERA5_METRICS.values()], metric_ix).alias("unit"),
    )
    base = keys.select(
        "*",
        F.expr(
            f"explode(sequence(to_date('{years[0]}-01-01'), "
            f"to_date('{years[1]}-12-01'), interval 1 month)) AS date"
        ),
    )
    seed = F.concat_ws("|", "city", F.col("date").cast("string"), "metric")
    return base.select(
        "country",
        "city",
        "date",
        "latitude",
        "longitude",
        "metric",
        "family",
        "unit",
        F.round(_lcg(seed, 0.0, 300.0), 3).alias("value"),
    )


def era5_wide(long_df: DataFrame) -> DataFrame:
    """Wide-on-metric view (one column per metric) — the reference's
    table shape, via pivot with explicit values."""
    metrics = list(ERA5_METRICS)
    return (
        long_df.groupBy("country", "city", "date")
        .pivot("metric", metrics)
        .agg(F.first("value"))
    )


def build_emissions(spark: SparkSession) -> DataFrame:
    """EDGAR emissions, un-sharded and LONG on year:
    (gas, ipcc_annex, country_code, country, substance, year, value).

    The reference's 4 per-gas databases and 54 per-year REAL columns
    (FIXTURES.md §3) become two ordinary columns. One key per (country,
    substance), exploded over its reporting years."""
    countries = list(GHG_COUNTRIES)
    gas_substances = (
        [("CO2", "CO2"), ("CH4", "CH4"), ("N2O", "N2O")]
        + [("F-gas", s) for s in FGAS_SUBSTANCES]
    )
    country_ix = f"id div {len(gas_substances)}"
    gas_ix = f"id % {len(gas_substances)}"
    keys = spark.range(0, len(countries) * len(gas_substances), 1, numPartitions=1).select(
        _pick(countries, country_ix).alias("country"),
        _pick([GHG_COUNTRIES[c] for c in countries], country_ix).alias("country_code"),
        _pick([g for g, _ in gas_substances], gas_ix).alias("gas"),
        _pick([s for _, s in gas_substances], gas_ix).alias("substance"),
    )
    # F-gas reporting starts 1990 in the reference DB.
    first_year = F.when(F.col("gas") == "F-gas", 1990).otherwise(1970)
    base = keys.select("*", F.explode(F.sequence(first_year, F.lit(2023))).alias("year"))
    seed = F.concat_ws("|", "country_code", "substance", F.col("year").cast("string"))
    return base.select(
        "gas",
        F.when(F.col("country").isin("United States", "Germany", "Japan", "Canada", "Australia"), "Annex_I")
        .otherwise("Non-Annex_I")
        .alias("ipcc_annex"),
        "country_code",
        "country",
        "substance",
        "year",
        F.round(_lcg(seed, 0.0, 5000.0), 3).alias("value"),
    )


def emissions_wide(long_df: DataFrame, years: list[int]) -> DataFrame:
    """Year-as-column view (`SELECT "2020" FROM emissions` shape,
    EDGARclient.py:291-294) for the requested years."""
    return (
        long_df.groupBy("gas", "ipcc_annex", "country_code", "country", "substance")
        .pivot("year", years)
        .agg(F.first("value"))
    )


def bbox_filter(
    df: DataFrame,
    lat_range: tuple[float, float],
    lon_range: tuple[float, float],
) -> DataFrame:
    """P11 bounding-box geo filter (the ETL's South-Asia crop,
    ``ERA5_preprocessing.ipynb:cell7`` df.query on lat/lon ranges) —
    a 4-way between that pushes to the scan, and prunes partitions
    outright if the sink partitioned by a geo grid."""
    return df.filter(
        F.col("latitude").between(*lat_range) & F.col("longitude").between(*lon_range)
    )


def reverse_geocode_join(points: DataFrame, gazetteer: DataFrame) -> DataFrame:
    """U13: (lat, lon) -> nearest gazetteer city, as a broadcast join
    + rank instead of the reference's per-row reverse_geocode call
    (``ERA5_preprocessing.ipynb:cell6,cell8``).

    Broadcast the (small) gazetteer against every point, score by
    squared euclidean distance in degree space, keep the argmin per
    point — a map-side join however many billions of points there
    are. For planetary gazetteers swap in a geohash-bucketed join
    (equi-join on cell + neighbor probe).
    """
    from pyspark.sql import Window as W

    g = gazetteer.select(
        F.col("name").alias("_city"),
        F.col("lat").alias("_glat"),
        F.col("lon").alias("_glon"),
    )
    d2 = (F.col("latitude") - F.col("_glat")) ** 2 + (F.col("longitude") - F.col("_glon")) ** 2
    # Geocode the DISTINCT coordinates, then map back: coordinates
    # repeat heavily (every time step of a grid shares them — the
    # ERA5 file shape), so ranking over the raw join would both do
    # |rows| x |gazetteer| distance work AND collapse repeated
    # coordinates to a single surviving row (row_number picks one
    # winner per (lat, lon) partition across ALL rows — a bug the
    # .nc-to-NL lifecycle test pins). Distinct-first is also the
    # scale-correct plan: |distinct coords| is grid-sized, not
    # corpus-sized, so the argmin table broadcasts back.
    w = W.partitionBy("latitude", "longitude").orderBy(F.col("_d2"), F.col("_city"))
    nearest = (
        points.select("latitude", "longitude")
        .distinct()
        .join(F.broadcast(g))
        .withColumn("_d2", d2)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("latitude", "longitude", F.col("_city").alias("nearest_city"))
    )
    return points.join(F.broadcast(nearest), ["latitude", "longitude"])


def city_gazetteer(spark: SparkSession) -> DataFrame:
    return local_relation(
        spark,
        [(c, la, lo) for c, (la, lo) in CITY_COORDS.items()],
        "name string, lat double, lon double",
    )


# --------------------------------------------------------------------------
# Dimension tables (replace the reference's hard-coded dicts,
# SURVEY.md §7.1).
# --------------------------------------------------------------------------

def build_dimensions(spark: SparkSession) -> dict[str, DataFrame]:
    states = local_relation(
        spark,
        [(n, a) for n, a in US_STATES.items()], "name string, abbr string"
    )
    countries = local_relation(
        spark,
        [(n, c) for n, c in GHG_COUNTRIES.items()], "name string, code_a3 string"
    )
    metrics = local_relation(
        spark,
        [(m, fam, unit) for m, (fam, unit) in ERA5_METRICS.items()],
        "name string, family string, unit string",
    )
    cities = local_relation(
        spark,
        [(city, c) for c, cs in ERA5_CITIES.items() for city in cs],
        "name string, country string",
    )
    synonyms = local_relation(
        spark,
        [(k, v) for k, v in DISASTER_SYNONYMS.items()],
        "keyword string, canonical string",
    )
    return {
        "states": states,
        "countries": countries,
        "metrics": metrics,
        "cities": cities,
        "disaster_type_synonyms": synonyms,
    }


def register_climate_views(spark: SparkSession) -> dict[str, DataFrame]:
    """Build all domain tables + dims and register them as temp views
    for the SQL surface. Returns the DataFrames by name."""
    dfs = {
        "disasters_yearly": build_disasters_yearly(spark),
        "fema_assistance": build_fema_assistance(spark),
        "era5_monthly": build_era5_monthly(spark),
        "emissions": build_emissions(spark),
        **build_dimensions(spark),
    }
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
