"""The built-in climate tables as JVM-local relations.

- Content pins: every domain table and dimension view keeps the schema,
  row count and order-independent checksum it had when its inputs were
  built with ``spark.createDataFrame``.
- ``local_relation`` round-trips awkward strings and keeps declared types.
- ``ask()`` plans, one question per intent, read no Python-side scan,
  evaluate no Python UDF and leave no persisted RDD behind.
- ``answer()`` runs its plan once, also when the transport fails.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from optimized_climate_data_integration_with_real_time_llm_querying_spark.nl import answer as answer_mod
from optimized_climate_data_integration_with_real_time_llm_querying_spark.nl.pipeline import (
    ClimateEngine,
)
from optimized_climate_data_integration_with_real_time_llm_querying_spark.sources import climate
from scripts.capture_plans import ASK_QUESTIONS, explain, series_inputs

# name -> (schema, rows, sum(xxhash64(*)) as decimal), taken from the
# createDataFrame-built tables.
PINS = {
    "disasters_yearly": (
        "year int, disaster_type string, count int, cost double",
        315, -29631290446128386959),
    "fema_assistance": (
        "year int, event string, incident_number int, incident_start date, "
        "incident_end date, state string, incident_type string, "
        "valid_ihp_applications double, eligible_ihp_applications double, "
        "ihp_total double, pa_total double, cdbg_dr_allocation double, "
        "pa_projects_count double",
        6000, -230998246716081484854),
    "era5_monthly": (
        "country string, city string, date date, latitude double, longitude double, "
        "metric string, family string, unit string, value double",
        8736, -395231012258930599402),
    "emissions": (
        "gas string, ipcc_annex string, country_code string, country string, "
        "substance string, year int, value double",
        157438, -2090832275983548978573),
    "states": ("name string, abbr string", 57, -10931362739539976129),
    "countries": ("name string, code_a3 string", 223, -87071606351340989581),
    "metrics": ("name string, family string, unit string", 13, -13850812896222767400),
    "cities": ("name string, country string", 14, 10349131930496459007),
    "disaster_type_synonyms": ("keyword string, canonical string", 20, 10919850757553069101),
    "city_gazetteer": ("name string, lat double, lon double", 14, -5343518052427001549),
}

PYTHON_NODES = ("ExistingRDD", "BatchEvalPython", "ArrowEvalPython")


@pytest.fixture(scope="module")
def engine(spark):
    return ClimateEngine(spark)


def _schema(df) -> str:
    return ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)


@pytest.mark.parametrize("name", list(PINS))
def test_table_content_pinned(spark, engine, name):
    df = climate.city_gazetteer(spark) if name == "city_gazetteer" else engine.tables[name]
    schema, rows, checksum = PINS[name]
    got = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    assert _schema(df) == schema
    assert (got["n"], int(got["h"])) == (rows, checksum)


def test_local_relation_round_trips_strings(spark):
    names = ["Cote d'Ivoire", "Iran, Islamic Republic of", "back\\slash", "it's, a \\ mix",
             "${env:HOME}"]
    df = climate.local_relation(spark, [(n, i) for i, n in enumerate(names)], "name string, i bigint")
    assert _schema(df) == "name string, i bigint"
    assert [tuple(r) for r in df.orderBy("i").collect()] == [(n, i) for i, n in enumerate(names)]


def test_local_relation_keeps_doubles(spark):
    df = climate.city_gazetteer(spark)
    assert _schema(df) == "name string, lat double, lon double"
    assert {r["name"]: (r["lat"], r["lon"]) for r in df.collect()} == climate.CITY_COORDS
    assert "LocalTableScan" in explain(df)


def _python_nodes(plan: str) -> list[str]:
    return [n for n in PYTHON_NODES if n in plan]


@pytest.mark.parametrize("label", list(ASK_QUESTIONS))
def test_ask_plan_runs_no_python(spark, engine, label):
    jsc = spark.sparkContext._jsc
    persisted = jsc.getPersistentRDDs().size()
    with series_inputs() as series:
        plan = explain(engine.ask(ASK_QUESTIONS[label]).result)
    assert _python_nodes(plan) == []
    assert jsc.getPersistentRDDs().size() == persisted
    # A trend or anomaly answer plans over rows computed on the driver;
    # the domain table is read by the series frame the question collects.
    assert len(series) == label.startswith(("trend_", "anomaly_"))
    assert all(_python_nodes(explain(seq)) == [] for seq in series)


def test_failed_transport_runs_plan_once(spark, monkeypatch):
    df = spark.range(3).select(F.col("id").alias("n"))
    cls = type(df)
    calls = []
    original = cls.collect

    def counting_collect(self):
        calls.append(1)
        return original(self)

    def broken(system_prompt, user_prompt):
        raise ConnectionError("no route to the LLM")

    expected = answer_mod.template_answer("How many?", answer_mod.rows_to_context(df))
    monkeypatch.setattr(cls, "collect", counting_collect)
    assert answer_mod.answer("How many?", df, broken) == expected
    assert len(calls) == 1
