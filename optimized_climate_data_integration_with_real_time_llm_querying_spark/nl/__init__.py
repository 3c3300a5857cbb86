"""Natural-language question frontend.

The reference's real query language is its NL-resolution operator set
(SURVEY.md §2.10 U1-U12): keyword maps, regex time extraction, fuzzy
entity matching, and an LLM answer synthesizer. Here those become:

- ``timeparse``  — U2 year/range/month extraction with the
  reference's bounds and defaults;
- ``resolve``    — U1/U5-U10: dict lookups for tiny vocabularies,
  broadcast-dimension fuzzy joins (levenshtein) where the entity
  space is data;
- ``answer``     — U12 grounded prompt + external LLM call
  (driver-side, injectable transport, template fallback);
- ``pipeline``   — question -> QuerySpec -> one DataFrame plan ->
  grounded answer; it also routes U3 (metric vs list question) inside
  its FEMA spec builder.
"""
