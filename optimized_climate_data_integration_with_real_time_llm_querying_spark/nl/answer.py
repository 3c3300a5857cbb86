"""U12: grounded LLM answer synthesis.

The reference posts collected rows + the question to the ClimateGPT
chat-completions API with a strict "use ONLY the provided data"
system prompt (``new_disaster_c.py:336-369``, ``era5client.py:284-328``,
``EDGARclient.py:307-389``), falling back to raw rows when the call
fails (``EDGARclient.py:389``).

Engine rules preserved:
- the LLM sees only the already-collected (small) result set — the
  call happens driver-side strictly AFTER the Spark job, never in a
  UDF;
- the transport is injectable so tests run without network (the
  reference's own tests mock requests.post, ``era5test.py:101-107``);
- no transport -> deterministic template answer (graceful fallback).
"""

from __future__ import annotations

import json
from collections.abc import Callable

from pyspark.sql import DataFrame

# rows -> prompt cap, mirroring the reference's 25-row slice
# (Disaster dollar/client.py:248).
MAX_PROMPT_ROWS = 25

SYSTEM_PROMPT = (
    "You are a climate data assistant. Answer the user's question using "
    "ONLY the data rows provided. Do not invent numbers. If the data does "
    "not contain the answer, say so."
)

# Transport signature: (system_prompt, user_prompt) -> answer text.
Transport = Callable[[str, str], str]


def rows_to_context(df: DataFrame, max_rows: int = MAX_PROMPT_ROWS) -> str:
    """Render the collected result for the prompt: column header +
    one JSON object per row (stable key order)."""
    rows = df.limit(max_rows).collect()
    lines = [json.dumps({c: r[c] for c in df.columns}, default=str) for r in rows]
    return "\n".join(lines) if lines else "(no rows)"


def template_answer(question: str, context: str) -> str:
    """Deterministic no-LLM fallback: question + the data that answers
    it, as ``rows_to_context`` rendered it. This is also what tests
    assert against."""
    return f"Q: {question}\nData:\n{context}"


def http_transport(url: str, model: str, timeout: float = 30.0) -> Transport:
    """Chat-completions POST transport (the reference's ClimateGPT
    call shape). Built lazily so importing this module never requires
    the network stack."""
    import requests  # deferred: keeps the module importable anywhere

    def call(system_prompt: str, user_prompt: str) -> str:
        resp = requests.post(
            url,
            json={
                "model": model,
                "messages": [
                    {"role": "system", "content": system_prompt},
                    {"role": "user", "content": user_prompt},
                ],
            },
            timeout=timeout,
        )
        resp.raise_for_status()
        return resp.json()["choices"][0]["message"]["content"]

    return call


REFORMAT_PROMPT = (
    "Rewrite the following answer to be clearer and better formatted. "
    "Preserve every fact and number exactly; do not add or remove any "
    "information."
)


def improve_answer(text: str, transport: Transport | None = None) -> str:
    """The reference NOAA client's second LLM pass
    (``new_disaster_c.py:93-127``): reformat while preserving facts.
    No transport or failure -> return the text unchanged."""
    if transport is None:
        return text
    try:
        return transport(REFORMAT_PROMPT, text)
    except Exception:
        return text


def answer(question: str, result: DataFrame, transport: Transport | None = None) -> str:
    """Grounded answer for a question given its (small) result
    DataFrame. With no transport, or on transport failure, fall back
    to the template (reference behavior: EDGARclient.py:389). The plan
    runs once: the fallback reuses the rows rendered for the prompt."""
    context = rows_to_context(result)
    if transport is None:
        return template_answer(question, context)
    user_prompt = (
        f"Question: {question}\n\nData rows (JSON, one per line):\n"
        f"{context}\n\nAnswer concisely using only this data."
    )
    try:
        return transport(SYSTEM_PROMPT, user_prompt)
    except Exception:
        return template_answer(question, context)
