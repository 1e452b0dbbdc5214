"""Web-scale KG-construction front end (north rule, BASELINE.json).

Stages over a Common-Crawl-style pages table
``(url:string, warc_ts:timestamp, html:binary, text:string, lang:string)``:

1. :mod:`extract`   — deterministic HTML→text (byte-identical per url)
2. :mod:`mentions`  — token-index vocabulary scan → (url, surface) mentions
3. :mod:`linking`   — TF-IDF + alias-dictionary candidate scoring
4. :mod:`canonicalize` — connected-components label propagation
5. :mod:`materialize`  — staged parquet commits with lineage + resume
"""
