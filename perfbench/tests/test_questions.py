"""The question generator: seeded, and every template asks what its
reference answers."""

from __future__ import annotations

import random

import pytest

import questions as qs
from optimized_climate_data_integration_with_real_time_llm_querying_spark.nl import pipeline


def _rounds(seed: int, n: int = 3):
    stream = qs.QuestionStream(seed)
    return [q for _ in range(n) for q in stream.next_round()]


def test_same_seed_same_questions():
    a = [(q.template, q.text, q.params) for q in _rounds(7)]
    b = [(q.template, q.text, q.params) for q in _rounds(7)]
    assert a == b


def test_other_seed_other_questions():
    assert [q.text for q in _rounds(7)] != [q.text for q in _rounds(8)]


def test_round_asks_every_template_once_in_seeded_order():
    templates = sorted(qs.LOOKUP_TEMPLATES + qs.ANALYTIC_TEMPLATES)
    orders = set()
    for seed in range(5):
        r = [q.template for q in _rounds(seed, 1)]
        assert sorted(r) == templates
        orders.add(tuple(r))
    assert len(orders) > 1


def test_warmup_covers_every_domain(engine):
    assert all(engine.route(text) == domain for domain, text in qs.WARMUP.items())


def _intent(text: str) -> str:
    low = text.lower()
    if pipeline.TREND_RE.search(low):
        return "trend"
    if pipeline.ANOMALY_RE.search(low):
        return "anomaly"
    return "plain"


def _as_set(v):
    return set(v) if isinstance(v, list) else {v}


def _check_spec(engine, q):
    """The engine's routing and filters agree with the template's own
    parameters (what the reference answers)."""
    assert engine.route(q.text) == q.domain, q.text
    assert _intent(q.text) == q.intent, q.text
    p = q.params
    spec = engine._spec_for(q.domain, pipeline._normalize_question(q.text))
    f = spec.filters
    if q.domain == "era5":
        assert _as_set(f["metric"]) == set(p["metrics"]), q.text
        assert _as_set(f["city"]) == set(p["cities"]), q.text
    elif q.domain == "emissions":
        gas, subs = qs.GASES[p["gas"]]
        assert f["gas"] == gas and f["country"] == p["country"], q.text
        assert _as_set(f.get("substance", [])) == set(subs or []), q.text
    elif q.domain == "fema":
        assert f["state"] == p["state"] and f["incident_type"] == p["itype"], q.text
        if q.template == "fema_metric":
            assert spec.metrics == [p["metric"]] and spec.agg == "sum", q.text
    elif q.intent == "plain":  # disasters
        want = p["types"] or []
        assert _as_set(f.get("disaster_type", [])) == set(want), q.text
    if q.intent == "plain" and q.domain != "era5" and "years" in p:
        lo, hi = p["years"]
        assert (spec.year, spec.year_range) in ((lo, None), (None, (lo, hi))), q.text


def test_generated_questions_route_as_intended(engine):
    for seed in range(20):
        for q in _rounds(seed, 2):
            _check_spec(engine, q)


@pytest.mark.parametrize("template", [
    "emissions_gas", "emissions_range", "emissions_fgas",
])
def test_every_country_resolves_to_itself(engine, template):
    """Covers the whole vocabulary the Zipf draw can reach."""
    d = qs._Draw(random.Random(0))
    for country in qs.COUNTRIES:
        d._perm["country"] = [country]
        _check_spec(engine, qs._lookup(template, d))


def test_every_state_and_type_resolves(engine):
    d = qs._Draw(random.Random(0))
    for state in qs.STATES:
        for itype in qs.FEMA_TYPES:
            d._perm["state"], d._perm["ftype"] = [state], [itype]
            for template in ("fema_metric", "fema_list"):
                _check_spec(engine, qs._lookup(template, d))


def test_every_era5_phrase_city_and_month_resolves(engine):
    d = qs._Draw(random.Random(0))
    for phrase in qs.ERA5_PHRASES:
        d._perm["emetric"] = [phrase]
        for city in qs.CITIES:
            if (phrase, city) in qs.ERA5_UNRESOLVED:
                continue
            d._perm["city"] = [city]
            for month in qs.ERA5_MONTHS:
                d._perm["month"] = [month]
                _check_spec(engine, qs._lookup("era5_metric", d))


def test_analytic_templates_resolve_for_every_draw(engine):
    for seed in range(40):
        d = qs._Draw(random.Random(seed))
        for t in qs.ANALYTIC_TEMPLATES:
            _check_spec(engine, qs._analytic(t, d))


def test_known_defects_are_still_defects(engine):
    """They stay out of the timed loop while the engine gets them
    wrong; when one of these fails, it can join its template's draws."""
    report = qs.known_defects(engine)
    assert [r["ok"] for r in report] == [False] * len(qs.KNOWN_DEFECTS), report


def test_round6_is_half_up():
    assert qs.round6(0.0000005) == 0.000001
    assert qs.round6(2.5e-7) == 0.0
    assert qs.round6(-0.0000015) == -0.000002


def test_rows_match_tolerates_only_rounding():
    want = [{"city": "Dhaka", "value": 1.0}, {"city": "Delhi", "value": 2.0}]
    assert qs.rows_match([{"city": "Delhi", "value": 2.0 + 1e-6}, {"city": "Dhaka", "value": 1.0}], want) is None
    assert qs.rows_match([{"city": "Delhi", "value": 2.1}, {"city": "Dhaka", "value": 1.0}], want)
    assert qs.rows_match([{"city": "Dhaka", "value": 1.0}], want)
