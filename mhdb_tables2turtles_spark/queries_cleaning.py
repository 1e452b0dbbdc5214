"""Driver oracle queries for the corpus-cleaning operator family
(:mod:`ops.cleaning`): PII scan/redaction, repetition signals,
cross-corpus segment dedup, host-level crawl stats.

The synthetic ``documents`` text contains no natural PII, so the PII
query first decorates the text with deterministic doc_id-derived
email/phone/IP strings — identically in Spark and in the oracle SQL —
then runs the REAL :func:`ops.cleaning.pii_scan` operator on the
decorated column.  (Same device as the multimodal deterministic-fake
twin: the operator is generic; the fixture is self-contained.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mhdb_tables2turtles_spark.ops import cleaning

__all__ = ["CLEANING_QUERIES", "cleaning_oracles"]

# SQL mirrors of ops.common (kept local to avoid an import cycle)
_NORM = "regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')"
_TOKS = f"string_split({_NORM}, ' ')"


def _sql_hash60(x: str) -> str:
    return f"('0x'||substr(md5({x}),1,15))::BIGINT"


def _read_spread(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    return df.repartition(spark.sparkContext.defaultParallelism)


# ------------------------------------------------------------- text_pii

# deterministic PII decoration, expressed once per engine
_SQL_DECORATE = (
    "text"
    " || case when doc_id % 3 = 0 then"
    " ' contact user'||doc_id||'@example.com now' else '' end"
    " || case when doc_id % 5 = 0 then"
    " ' call 555-123-4'||lpad((doc_id % 1000)::varchar, 3, '0')||' ok'"
    " else '' end"
    " || case when doc_id % 7 = 0 then"
    " ' from 10.0.'||(doc_id % 256)||'.'||(doc_id % 100)||' up' else '' end"
)


def _decorated(docs: DataFrame) -> DataFrame:
    d = F.col("doc_id")
    decorated = F.concat(
        F.col("text"),
        F.when(
            d % 3 == 0,
            F.concat(
                F.lit(" contact user"),
                d.cast("string"),
                F.lit("@example.com now"),
            ),
        ).otherwise(""),
        F.when(
            d % 5 == 0,
            F.concat(
                F.lit(" call 555-123-4"),
                F.lpad((d % 1000).cast("string"), 3, "0"),
                F.lit(" ok"),
            ),
        ).otherwise(""),
        F.when(
            d % 7 == 0,
            F.concat(
                F.lit(" from 10.0."),
                (d % 256).cast("string"),
                F.lit("."),
                (d % 100).cast("string"),
                F.lit(" up"),
            ),
        ).otherwise(""),
    )
    return docs.select("doc_id", decorated.alias("text"))


def q_text_pii(spark, sf_dir):
    """PII detection + redaction (ops/cleaning.py::pii_scan) over
    deterministically decorated text."""
    docs = _read_spread(spark, sf_dir, "documents")
    return cleaning.pii_scan(_decorated(docs))


def _sql_pii() -> str:
    counts = ", ".join(
        f"len(regexp_extract_all(text, '{pat}')) as n_{name}"
        for name, pat, _ in cleaning.PII_PATTERNS
    )
    redacted = "text"
    for _, pat, rep in cleaning.PII_PATTERNS:
        redacted = f"regexp_replace({redacted}, '{pat}', '{rep}', 'g')"
    return f"""
        with d as (select doc_id, {_SQL_DECORATE} as text from documents)
        select doc_id, {counts}, {redacted} as redacted from d
    """


# ------------------------------------------------------ text_repetition


def q_text_repetition(spark, sf_dir):
    """Gopher-style bigram repetition signals
    (ops/cleaning.py::repetition_stats)."""
    return cleaning.repetition_stats(_read_spread(spark, sf_dir, "documents"))


_SQL_REPETITION = f"""
    with t as (select doc_id, {_TOKS} as ts from documents),
    g as (select doc_id, unnest(list_transform(
              generate_series(1, len(ts) - 1), i -> ts[i]||' '||ts[i+1]
          )) as gram from t),
    c as (select doc_id, gram, count(*) as c from g group by 1, 2)
    select doc_id,
           cast(sum(c) as bigint) as n_bigrams,
           cast((10000 * max(c)) // sum(c) as bigint) as top_bigram_bp,
           cast((10000 * sum(case when c > 1 then c else 0 end)) // sum(c)
                as bigint) as dup_bigram_bp
    from c group by doc_id
"""


# ------------------------------------------------- text_line_repetition

# documents has no newlines, so the query line-izes deterministically:
# 4 lines built from token slices, with line 3 REPEATING line 1 — every
# doc gets duplicate-line traffic, and short docs exercise the
# empty/partial-slice edges identically in both engines
_LINE_SLICES = ((1, 5), (6, 5), (1, 5))


def q_text_line_repetition(spark, sf_dir):
    """Gopher line-level repetition signals
    (ops/cleaning.py::line_repetition_stats) over deterministically
    line-ized fixture text."""
    docs = _read_spread(spark, sf_dir, "documents")
    from mhdb_tables2turtles_spark.ops.common import tokens

    toks = tokens(F.col("text"))
    parts = [
        F.array_join(F.slice(toks, s, n), " ") for s, n in _LINE_SLICES
    ] + [F.concat(F.lit("doc "), F.col("doc_id").cast("string"))]
    lined = docs.select(
        "doc_id", F.concat_ws("\n", *parts).alias("text")
    )
    return cleaning.line_repetition_stats(lined)


_SQL_LINE_REP = f"""
    with lined as (
        select doc_id,
               {" || chr(10) || ".join(
                   [f"array_to_string(ts[{s}:{s + n - 1}], ' ')"
                    for s, n in _LINE_SLICES]
                   + ["'doc ' || doc_id"]
               )} as text
        from (select doc_id, {_TOKS} as ts from documents)
    ),
    l as (select doc_id, trim(li) as line
          from (select doc_id, unnest(string_split(text, chr(10))) as li
                from lined)
          where trim(li) <> ''),
    c as (select doc_id, line, count(*) as c from l group by 1, 2)
    select doc_id,
           cast(sum(c) as bigint) as n_lines,
           cast((10000 * sum(case when c > 1 then c else 0 end)) // sum(c)
                as bigint) as dup_line_bp,
           cast((10000 * sum(case when c > 1 then c * len(line) else 0 end))
                // sum(c * len(line)) as bigint) as dup_char_bp
    from c group by doc_id
"""


# ------------------------------------------------------- segment_dedup

_SEG_K = 10


def q_segment_dedup(spark, sf_dir):
    """Cross-corpus boilerplate segment dedup
    (ops/cleaning.py::segment_dedup, k=10)."""
    return cleaning.segment_dedup(
        _read_spread(spark, sf_dir, "documents"), k=_SEG_K
    )


_SQL_SEGMENT_DEDUP = f"""
    with t as (select doc_id, {_TOKS} as ts from documents),
    s as (select doc_id, unnest(list_transform(
              generate_series(1, len(ts) // {_SEG_K}),
              i -> {_sql_hash60(
                  f"array_to_string(ts[(i-1)*{_SEG_K}+1 : (i-1)*{_SEG_K}+{_SEG_K}], ' ')"
              )}
          )) as seg_hash from t),
    gc as (select seg_hash, count(distinct doc_id) as n_docs_with
           from s group by seg_hash)
    select doc_id,
           count(*) as n_segments,
           cast(sum(case when n_docs_with > 1 then 1 else 0 end)
                as bigint) as n_dup_segments,
           cast((10000 * sum(case when n_docs_with > 1 then 1 else 0 end))
                // count(*) as bigint) as dup_bp
    from s join gc using (seg_hash)
    group by doc_id
"""


# ---------------------------------------------------------- host_stats


def q_host_stats(spark, sf_dir):
    """Host/source-level crawl aggregates
    (ops/cleaning.py::host_stats)."""
    return cleaning.host_stats(_read_spread(spark, sf_dir, "documents"))


_SQL_HOST_STATS = f"""
    with d as (select source as host,
                      {_sql_hash60(_NORM)} as content_hash,
                      len({_TOKS}) as n_tokens
               from documents)
    select host,
           count(*) as n_docs,
           count(distinct content_hash) as n_unique_texts,
           cast((10000 * (count(*) - count(distinct content_hash)))
                // count(*) as bigint) as dup_bp,
           cast((1000 * sum(n_tokens)) // count(*) as bigint)
               as avg_tokens_milli
    from d group by host
"""


# ---------------------------------------------------------- doc_sample

# mix recipe: oversample src0, keep half of src1, trickle the rest
_MIX_RATES = {"src0": 1.0, "src1": 0.5, "src2": 0.25}
_MIX_DEFAULT = 0.1


def q_doc_sample(spark, sf_dir):
    """Deterministic stratified sampling for training-data mixes
    (ops/cleaning.py::stratified_sample)."""
    docs = _read_spread(spark, sf_dir, "documents")
    return cleaning.stratified_sample(
        docs, _MIX_RATES, default_rate=_MIX_DEFAULT
    ).select("doc_id", "source")


def _sql_doc_sample() -> str:
    whens = " ".join(
        f"when source = '{s}' then {int(r * 10000)}"
        for s, r in sorted(_MIX_RATES.items())
    )
    return f"""
        select doc_id, source from documents
        where {_sql_hash60("doc_id::varchar")} % 10000
              < (case {whens} else {int(_MIX_DEFAULT * 10000)} end)
    """


# ------------------------------------------------------- token_packing

_PACK_BUDGET = 256


def q_token_packing(spark, sf_dir):
    """Greedy sequence packing into 256-token windows
    (ops/packing.py::pack_documents)."""
    from mhdb_tables2turtles_spark.ops.packing import pack_documents

    docs = _read_spread(spark, sf_dir, "documents")
    return pack_documents(docs, budget=_PACK_BUDGET)


_SQL_TOKEN_PACKING = f"""
    with recursive d as (
        select source as grp, doc_id, len({_TOKS}) as n_tokens,
               row_number() over (
                   partition by source order by doc_id
               ) as rn
        from documents
    ),
    rec(grp, rn, doc_id, n_tokens, pack_id, pack_fill) as (
        select grp, rn, doc_id, n_tokens, 0::bigint, n_tokens
        from d where rn = 1
        union all
        select d.grp, d.rn, d.doc_id, d.n_tokens,
               case when rec.pack_fill + d.n_tokens > {_PACK_BUDGET}
                    then rec.pack_id + 1 else rec.pack_id end,
               case when rec.pack_fill + d.n_tokens > {_PACK_BUDGET}
                    then d.n_tokens
                    else rec.pack_fill + d.n_tokens end
        from rec join d on d.grp = rec.grp and d.rn = rec.rn + 1
    )
    select grp as "group", doc_id, n_tokens, pack_id, pack_fill from rec
"""


# ----------------------------------------------------------- doc_split

_SPLIT_BUDGET = 32


def q_doc_split(spark, sf_dir):
    """Token-budget document splitting (ops/packing.py::split_documents)
    — the upstream op that keeps oversized docs out of the packer."""
    from mhdb_tables2turtles_spark.ops.packing import split_documents

    docs = _read_spread(spark, sf_dir, "documents")
    return split_documents(docs, budget=_SPLIT_BUDGET)


_SQL_DOC_SPLIT = f"""
    with t as (select doc_id, {_TOKS} as ts from documents)
    select doc_id, i as chunk_id,
           cast(ceil(len(ts) / {_SPLIT_BUDGET}.0) as int) as n_chunks,
           len(ts[(i-1)*{_SPLIT_BUDGET}+1 : (i-1)*{_SPLIT_BUDGET}+{_SPLIT_BUDGET}])
               as chunk_tokens,
           array_to_string(
               ts[(i-1)*{_SPLIT_BUDGET}+1 : (i-1)*{_SPLIT_BUDGET}+{_SPLIT_BUDGET}],
               ' ') as chunk_text
    from t, unnest(generate_series(
        1, cast(ceil(len(ts) / {_SPLIT_BUDGET}.0) as int))) u(i)
"""


# -------------------------------------------------------- corpus_ngrams

_NGRAM_MIN_COUNT = 20


def q_corpus_ngrams(spark, sf_dir):
    """Corpus-level bigram heavy hitters (LM data analysis): counts over
    every document's word bigrams, thresholded.  The explode shuffles
    (gram-hash-keyed) counts only; partial aggregation collapses repeats
    map-side, which is what makes heavy hitters cheap — the hot grams
    are exactly the ones pre-aggregated hardest before the shuffle."""
    docs = _read_spread(spark, sf_dir, "documents")
    from mhdb_tables2turtles_spark.ops.common import shingles, tokens

    grams = docs.select(
        F.explode(shingles(tokens(F.col("text")), 2)).alias("gram")
    )
    return (
        grams.groupBy("gram")
        .agg(
            F.count("*").alias("n"),
        )
        .filter(F.col("n") >= _NGRAM_MIN_COUNT)
    )


_SQL_CORPUS_NGRAMS = f"""
    with t as (select {_TOKS} as ts from documents),
    g as (select unnest(list_transform(
              generate_series(1, len(ts) - 1), i -> ts[i]||' '||ts[i+1]
          )) as gram from t)
    select gram, count(*) as n from g group by gram
    having count(*) >= {_NGRAM_MIN_COUNT}
"""


# --------------------------------------------------------- decontaminate

# word n-gram length for the overlap filter (8 per GPT-3/Llama practice)
_DECON_N = 8
# deterministic stand-in eval set: every 97th document is "a benchmark"
_DECON_EVAL_MOD = 97


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination (ops/cleaning.py::ngram_decontaminate):
    flag documents sharing any 8-gram with the deterministic eval subset
    (doc_id % 97 == 0).  Eval grams broadcast; text never shuffles."""
    docs = _read_spread(spark, sf_dir, "documents")
    eval_docs = docs.filter(F.col("doc_id") % _DECON_EVAL_MOD == 0)
    return cleaning.ngram_decontaminate(docs, eval_docs, n=_DECON_N)


_SQL_DECONTAMINATE = f"""
    with t as (select doc_id, {_TOKS} as ts from documents),
    g as (select doc_id, unnest(list_transform(
              generate_series(1, len(ts) - {_DECON_N - 1}),
              i -> {_sql_hash60(
                  f"array_to_string(ts[i : i+{_DECON_N - 1}], ' ')"
              )}
          )) as g from t),
    ev as (select distinct g from g where doc_id % {_DECON_EVAL_MOD} = 0),
    hits as (select g.doc_id,
                    count(*) as n_grams,
                    -- cast: bare integer sum() is HUGEINT in DuckDB,
                    -- which pandas/Arrow renders as float — driver
                    -- value-hash poison (round-2 mismatch)
                    cast(sum(case when ev.g is not null then 1 else 0 end)
                         as bigint) as n_hits
             from g left join ev on g.g = ev.g
             group by g.doc_id)
    select t.doc_id,
           cast(coalesce(n_grams, 0) as bigint) as n_grams,
           cast(coalesce(n_hits, 0) as bigint) as n_hits,
           case when coalesce(n_hits, 0) > 0 then 1 else 0 end
               as contaminated
    from t left join hits using (doc_id)
"""


# ----------------------------------------------------- text_lm_surprise


def q_text_lm_surprise(spark, sf_dir):
    """Corpus-bigram LM surprise scoring (ops/text.py::lm_surprise) —
    fixed-point inverse-probability sum, the perplexity-style quality
    signal."""
    from mhdb_tables2turtles_spark.ops.text import lm_surprise

    return lm_surprise(_read_spread(spark, sf_dir, "documents"))


_SQL_LM_SURPRISE = f"""
    with t as (select doc_id, {_TOKS} as ts from documents),
    tok as (select doc_id, unnest(ts) as w from t),
    g as (select doc_id, unnest(list_transform(
              generate_series(1, len(ts) - 1), i -> ts[i]||' '||ts[i+1]
          )) as gram from t),
    c1 as (select w, count(*) as c1 from tok group by w),
    c12 as (select gram, count(*) as c12 from g group by gram),
    v as (select count(distinct w) as V from tok)
    select g.doc_id,
           count(*) as n_bigrams,
           cast(sum((1000000 * (c1.c1 + v.V)) // (c12.c12 + 1)) as bigint)
               as surprise
    from g
    join c12 using (gram)
    join c1 on c1.w = string_split(g.gram, ' ')[1]
    cross join v
    group by g.doc_id
"""


# ------------------------------------------------------- url_canonical

# deterministic URL fixture (documents has no url column): uppercase
# scheme/host, default + explicit ports, tracking params (incl. a
# VALUELESS bare 'fbclid'), unsorted params, fragments (incl. a '?'
# INSIDE the fragment), bracketed-IPv6 hosts with a port, and
# schemeless relative entries — every rule of the canonicalizer gets
# traffic
_SQL_URL = (
    "case when doc_id % 17 = 0 then 'page'||doc_id||'.html?a=1' "
    "when doc_id % 23 = 0 then"
    " 'HTTPS://[2001:DB8::'||(doc_id % 4)||']:443/V6?fbclid&x=2' else "
    "'HTTP://WWW.Site'||(doc_id % 7)||'.COM'"
    "||case when doc_id % 3 = 0 then ':80'"
    "       when doc_id % 13 = 0 then ':8080' else '' end"
    "||case when doc_id % 11 = 0 then '' else '/Path/p'||(doc_id % 5) end"
    "||case when doc_id % 2 = 0 then '?utm_source=x&b=2&a='||(doc_id % 4)"
    "       when doc_id % 9 = 0 then '?z=1&y=2&fbclid' else '' end"
    "||case when doc_id % 4 = 0 then '#frag?f=1' else '' end"
    " end"
)


def q_url_canonical(spark, sf_dir):
    """Crawl URL canonicalization (ops/cleaning.py::url_canonicalize)
    over a deterministic doc_id-derived URL fixture."""
    d = F.col("doc_id")
    url = F.when(
        d % 17 == 0,
        F.concat(F.lit("page"), d.cast("string"), F.lit(".html?a=1")),
    ).when(
        d % 23 == 0,
        F.concat(
            F.lit("HTTPS://[2001:DB8::"), (d % 4).cast("string"),
            F.lit("]:443/V6?fbclid&x=2"),
        ),
    ).otherwise(
        F.concat(
            F.lit("HTTP://WWW.Site"), (d % 7).cast("string"), F.lit(".COM"),
            F.when(d % 3 == 0, ":80").when(d % 13 == 0, ":8080").otherwise(""),
            F.when(d % 11 == 0, "").otherwise(
                F.concat(F.lit("/Path/p"), (d % 5).cast("string"))
            ),
            F.when(
                d % 2 == 0,
                F.concat(F.lit("?utm_source=x&b=2&a="), (d % 4).cast("string")),
            ).when(d % 9 == 0, "?z=1&y=2&fbclid").otherwise(""),
            F.when(d % 4 == 0, "#frag?f=1").otherwise(""),
        )
    )
    docs = _read_spread(spark, sf_dir, "documents").select(
        "doc_id", url.alias("url")
    )
    return cleaning.url_canonicalize(docs)


_SQL_URL_CANONICAL = f"""
    with u as (select doc_id, {_SQL_URL} as url from documents),
    parsed as (
        -- coalesce: DuckDB regexp_extract is NULL on no match where
        -- Spark's returns '' — normalize to the Spark convention
        select doc_id, url,
               regexp_matches(url, '^[A-Za-z][A-Za-z0-9+.-]*://')
                   as has_scheme,
               coalesce(lower(regexp_extract(url,
                   '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)), '') as scheme,
               coalesce(lower(regexp_extract(url,
                   '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)), '')
                   as hostport,
               coalesce(regexp_extract(url,
                   '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1), '')
                   as path0,
               -- query anchored before any '#': '?' inside the
               -- fragment is fragment text
               coalesce(regexp_extract(url, '^[^#]*?\\?([^#]*)', 1), '')
                   as query
        from u
    ),
    norm as (
        select doc_id, url, has_scheme, scheme,
               -- bracketed IPv6 hosts keep brackets+colons (same
               -- alternation as ops/cleaning.py::url_canonicalize)
               coalesce(regexp_extract(hostport,
                   '^(\\[[^\\]]*\\]|[^:]*)', 1), '') as host,
               coalesce(regexp_extract(hostport, ':([0-9]+)$', 1), '')
                   as port,
               case when path0 = '' then '/' else path0 end as path,
               -- coalesce: DuckDB list_sort([]) is NULL, Spark's is []
               coalesce(array_to_string(list_sort(list_filter(
                   string_split(query, '&'),
                   p -> p <> '' and not regexp_matches(p,
                       '{cleaning.TRACKING_PARAM_RE}')
               )), '&'), '') as qs
        from parsed
    )
    select doc_id, url,
           case when has_scheme then
               scheme || '://' || host
               || case when port = '' or (scheme = 'http' and port = '80')
                            or (scheme = 'https' and port = '443')
                       then '' else ':' || port end
               || path
               || case when qs = '' then '' else '?' || qs end
           else url end as canonical_url,
           case when has_scheme then host end as host
    from norm
"""


# ------------------------------------------------------ corpus_curation

# drop thresholds for the composed curation verdict (ops/curation.py)
from mhdb_tables2turtles_spark.ops.curation import (  # noqa: E402
    CUR_QUALITY as _CUR_QUALITY,
    CUR_REP_BP as _CUR_REP_BP,
    curation_verdict as _curation_verdict,
)


def q_corpus_curation(spark, sf_dir):
    """The curation pipeline's end artifact — ONE keep/drop verdict per
    document composing every filter family (the FineWeb/Gopher-style
    decision): exact dup > near dup > benchmark-contaminated >
    repetitive (dup-bigram mass > 20%) > low quality (< 0.5) > keep.
    One inline plan, as the DuckDB oracle check needs; the composition
    itself is ops/curation.py::curation_verdict()."""
    from mhdb_tables2turtles_spark.queries import q_dedup_decisions
    from mhdb_tables2turtles_spark.ops.text import quality_score

    return _curation_verdict(
        q_dedup_decisions(spark, sf_dir),
        q_decontaminate(spark, sf_dir),
        q_text_repetition(spark, sf_dir),
        quality_score(_read_spread(spark, sf_dir, "documents")),
    )


def _sql_corpus_curation() -> str:
    # lazy import: queries.py imports this module at its bottom; by the
    # time oracles() runs, both modules are fully initialized
    from mhdb_tables2turtles_spark.queries import (
        _SQL_DEDUP_DECISIONS,
        _SQL_QUALITY,
    )

    return f"""
    with dd as ({_SQL_DEDUP_DECISIONS}),
    de as ({_SQL_DECONTAMINATE}),
    rep as ({_SQL_REPETITION}),
    qu as ({_SQL_QUALITY}),
    r as (
        select dd.doc_id,
               case when dd.reason <> 'keep' then dd.reason
                    when de.contaminated = 1 then 'contaminated'
                    when coalesce(rep.dup_bigram_bp, 0) > {_CUR_REP_BP}
                        then 'repetitive'
                    when qu.quality < {_CUR_QUALITY} then 'low_quality'
                    else 'keep' end as reason
        from dd
        join de using (doc_id)
        left join rep using (doc_id)
        join qu using (doc_id)
    )
    select doc_id, reason, reason = 'keep' as keep from r
"""


# ---------------------------------------------------------- mix_weights


def q_mix_weights(spark, sf_dir):
    """Temperature-0.5 training-mix weights per source
    (ops/cleaning.py::mix_weights)."""
    return cleaning.mix_weights(_read_spread(spark, sf_dir, "documents"))


_SQL_MIX_WEIGHTS = f"""
    with per as (
        select source as stratum,
               count(*) as n_docs,
               cast(sum(len({_TOKS})) as bigint) as n_tokens
        from documents group by source
    ),
    q as (select *, cast(floor(1000 * sqrt(n_tokens)) as bigint) as s
          from per),
    t as (select sum(s) as total from q)
    select stratum, n_docs, n_tokens,
           cast((10000 * s) // t.total as bigint) as weight_bp
    from q, t
"""


# -------------------------------------------------------- doi_datacite

# deterministic DOI fixture: every 3rd document "has a DOI"
_SQL_DOI = "'10.'||(1000 + doc_id % 9000)||'/j.'||source||'.'||doc_id"


def q_doi_datacite(spark, sf_dir):
    """DOI -> datacite identifier triples (reference F12,
    operators/triples.py::doi_triples) over a deterministic
    doc_id-derived DOI fixture; titles are alnum+space so the
    language-literal escape chain is a pass-through both engines can
    express."""
    from mhdb_tables2turtles_spark.operators.triples import doi_triples

    d = F.col("doc_id")
    docs = (
        _read_spread(spark, sf_dir, "documents")
        .filter(d % 3 == 0)
        .select(
            F.concat(
                F.lit("10."), (1000 + d % 9000).cast("string"),
                F.lit("/j."), F.col("source"), F.lit("."), d.cast("string"),
            ).alias("doi"),
            F.concat(F.lit("doc "), d.cast("string")).alias("title"),
        )
    )
    return doi_triples(docs, "doi", title_col="title")


_SQL_DOI_DATACITE = f"""
    with d as (
        select {_SQL_DOI} as doi, 'doc '||doc_id as title
        from documents where doc_id % 3 = 0
    ),
    s as (
        -- check_iri label-collapse of a URL == strip non-[A-Za-z0-9_-]
        select '<'||regexp_replace('https://dx.doi.org/'||doi,
                   '[^A-Za-z0-9_-]', '', 'g')||'>' as subject,
               doi, title
        from d
    )
    select subject, 'datacite:usesIdentifierScheme' as predicate,
           'datacite:doi' as object from s
    union all
    select subject, 'datacite:hasIdentifier',
           '\"\"\"'||doi||'\"\"\"^^rdfs:Literal' from s
    union all
    select subject, 'rdfs:label', '\"\"\"'||title||'\"\"\"@en' from s
"""


# -------------------------------------------------- host_token_quantiles


def q_host_token_quantiles(spark, sf_dir):
    """Per-source token-count distribution (exact linear-interpolation
    percentiles over small ints — deterministic across engines)."""
    from mhdb_tables2turtles_spark.ops.common import tokens

    docs = _read_spread(spark, sf_dir, "documents")
    n = F.size(tokens(F.col("text")))
    per = docs.select(F.col("source").alias("host"), n.alias("n_tokens"))
    return per.groupBy("host").agg(
        F.percentile("n_tokens", F.lit(0.25)).alias("p25"),
        F.percentile("n_tokens", F.lit(0.5)).alias("p50"),
        F.percentile("n_tokens", F.lit(0.75)).alias("p75"),
        F.max("n_tokens").alias("p_max"),
    )


_SQL_HOST_QUANTILES = f"""
    with d as (select source as host, len({_TOKS}) as n_tokens
               from documents)
    select host,
           quantile_cont(n_tokens, 0.25) as p25,
           quantile_cont(n_tokens, 0.5) as p50,
           quantile_cont(n_tokens, 0.75) as p75,
           max(n_tokens) as p_max
    from d group by host
"""


def q_text_kn_lm(spark, sf_dir):
    """Distributed interpolated Kneser-Ney bigram LM training
    (ops/text.py::kn_bigram_lm) — exact fixed-point probabilities for
    every corpus bigram with count >= 3."""
    from mhdb_tables2turtles_spark.ops.text import kn_bigram_lm

    return kn_bigram_lm(_read_spread(spark, sf_dir, "documents"))


_SQL_KN_LM = f"""
    with t as (select doc_id, {_TOKS} as ts from documents),
    g as (select unnest(list_transform(
              generate_series(1, len(ts) - 1), i -> ts[i]||' '||ts[i+1]
          )) as gram from t),
    c12 as (select w1, w2, count(*) as c12
            from (select string_split(gram, ' ')[1] as w1,
                         string_split(gram, ' ')[2] as w2 from g)
            group by w1, w2),
    l as (select w1, sum(c12) as c1, count(*) as nf1 from c12 group by w1),
    r as (select w2, count(*) as np2 from c12 group by w2),
    ty as (select count(*) as T from c12)
    select w1, w2, cast(c12 as bigint) as c12,
           cast((1000000 * ((4 * c12 - 3) * T + 3 * nf1 * np2))
                // (4 * c1 * T) as bigint) as p_micro
    from c12 join l using (w1) join r using (w2) cross join ty
    where c12 >= 3
"""



def q_text_bpe(spark, sf_dir):
    """Distributed BPE tokenizer training (ops/bpe.py::bpe_train):
    first 5 merge rules learned from the corpus word table."""
    from mhdb_tables2turtles_spark.ops.bpe import bpe_train

    return bpe_train(_read_spread(spark, sf_dir, "documents"), n_merges=5)


def _sql_bpe_pairs(prev: str) -> str:
    return f"""
        select pair, sum(n) as c from (
            select unnest(list_transform(
                       generate_series(1, len(arr) - 1),
                       i -> arr[i]||'  '||arr[i+1])) as pair, n
            from (select string_split(ws, '  ') as arr, n from {prev})
        ) group by pair"""


def _sql_bpe_apply(prev: str, best: str, keep_w: bool = False) -> str:
    """One BPE merge round: boundary-anchored fold over the symbol
    array via list_reduce — mirrors ops/bpe.py::_apply_merge exactly.
    A raw substring replace() is WRONG for multi-char symbols (matches
    across the '  ' separator), so both engines fold.

    LEFT JOIN (not cross join) against the 1-row best-pair table: a
    round with NO pairs left (degenerate corpus — every word a single
    symbol before n_merges rounds) leaves ``b`` empty, and a cross
    join would wipe the word table, cascading empty through every
    later round and the encode join.  With the left join the fold is
    identity (null guard), mirroring bpe_train's break: the word table
    carries forward unchanged and the empty ``b{{i}}`` contributes no
    rule row to the union."""
    wcol = "w, " if keep_w else ""
    return f"""
        select {wcol}list_reduce(string_split(ws, '  '),
            (acc, x) -> case
                when b.l is not null
                     and (acc = b.l or ends_with(acc, '  ' || b.l))
                     and x = b.r
                    then substr(acc, 1, length(acc) - length(b.l))
                         || b.l || b.r
                else acc || '  ' || x end) as ws,
            n
        from {prev} left join
             (select string_split(pair, '  ')[1] as l,
                     string_split(pair, '  ')[2] as r
              from {best}) b on true"""


def _sql_bpe_chain(n_merges: int, w0: str, keep_w: bool = False) -> str:
    """p/b/w CTE chain for n_merges BPE rounds over the w0 word table."""
    parts = [f"w0 as materialized ({w0}\n    )"]
    for i in range(1, n_merges + 1):
        parts.append(
            f"p{i} as materialized ({_sql_bpe_pairs(f'w{i - 1}')}\n    )"
        )
        parts.append(
            f"b{i} as materialized (\n        select pair, c from p{i}"
            f" order by c desc, pair limit 1\n    )"
        )
        parts.append(
            f"w{i} as materialized"
            f" ({_sql_bpe_apply(f'w{i - 1}', f'b{i}', keep_w)}\n    )"
        )
    return ",\n    ".join(parts)


_SQL_BPE_W0 = f"""
        select array_to_string(
                   list_transform(generate_series(1, len(w)),
                                  i -> w[i]), '  ') as ws,
               n
        from (select w, count(*) as n
              from (select unnest({_TOKS}) as w from documents)
              group by w)"""

_SQL_BPE = (
    "\n    with "
    + _sql_bpe_chain(5, _SQL_BPE_W0)
    + "\n    "
    + "\n    union all\n    ".join(
        f"""select {i} as rank, string_split(pair, '  ')[1] as "left",
           string_split(pair, '  ')[2] as "right",
           cast(c as bigint) as freq from b{i}"""
        for i in range(1, 6)
    )
    + "\n"
)



def q_text_bpe_encode(spark, sf_dir):
    """BPE train + apply (ops/bpe.py::bpe_encode): per-doc word and
    BPE-token counts under the corpus-learned 5-rule vocabulary."""
    from mhdb_tables2turtles_spark.ops.bpe import bpe_encode

    return bpe_encode(_read_spread(spark, sf_dir, "documents"), n_merges=5)


_SQL_BPE_ENCODE_W0 = f"""
        select w,
               array_to_string(
                   list_transform(generate_series(1, len(w)),
                                  i -> w[i]), '  ') as ws,
               n
        from (select w, sum(m) as n from dw group by w)"""

_SQL_BPE_ENCODE = (
    f"""
    with dw as materialized (
        select doc_id, w, count(*) as m
        from (select doc_id, unnest({_TOKS}) as w from documents)
        group by doc_id, w
    ),
    """
    + _sql_bpe_chain(5, _SQL_BPE_ENCODE_W0, keep_w=True)
    + """,
    ty as (select w, len(string_split(ws, '  ')) as syms from w5)
    select doc_id,
           cast(sum(m) as bigint) as n_words,
           cast(sum(m * syms) as bigint) as n_bpe_tokens
    from dw join ty using (w)
    group by doc_id
"""
)



def q_text_cdc_dedup(spark, sf_dir):
    """Content-defined-chunking dedup (ops/cleaning.py::cdc_dedup):
    boundary-robust boilerplate shares per doc."""
    return cleaning.cdc_dedup(_read_spread(spark, sf_dir, "documents"))


_SQL_CDC = f"""
    with t as (select doc_id, {_TOKS} as ts from documents),
    tok as (select doc_id,
                   unnest(generate_series(1, len(ts))) as pos,
                   unnest(ts) as tok
            from t),
    m as (select doc_id, pos, tok,
                 coalesce(sum(case when {_sql_hash60("tok")} % 8 = 0
                                   then 1 else 0 end)
                          over (partition by doc_id order by pos
                                rows between unbounded preceding
                                and 1 preceding), 0) as chunk_idx
          from tok),
    ch as (select doc_id, chunk_idx,
                  {_sql_hash60("string_agg(tok, ' ' order by pos)")}
                      as chunk_hash
           from m group by doc_id, chunk_idx),
    gc as (select chunk_hash, count(distinct doc_id) as n_docs_with
           from ch group by chunk_hash)
    select doc_id,
           count(*) as n_chunks,
           cast(sum(case when n_docs_with > 1 then 1 else 0 end)
                as bigint) as n_dup_chunks,
           cast((10000 * sum(case when n_docs_with > 1 then 1 else 0 end))
                // count(*) as bigint) as dup_bp
    from ch join gc using (chunk_hash)
    group by doc_id
"""



CLEANING_QUERIES = {
    "text_pii": q_text_pii,
    "text_repetition": q_text_repetition,
    "text_line_repetition": q_text_line_repetition,
    "segment_dedup": q_segment_dedup,
    "text_cdc_dedup": q_text_cdc_dedup,
    "host_stats": q_host_stats,
    "doc_sample": q_doc_sample,
    "token_packing": q_token_packing,
    "doc_split": q_doc_split,
    "corpus_ngrams": q_corpus_ngrams,
    "host_token_quantiles": q_host_token_quantiles,
    "decontaminate": q_decontaminate,
    "url_canonical": q_url_canonical,
    "text_lm_surprise": q_text_lm_surprise,
    "text_kn_lm": q_text_kn_lm,
    "text_bpe": q_text_bpe,
    "text_bpe_encode": q_text_bpe_encode,
    "doi_datacite": q_doi_datacite,
    "mix_weights": q_mix_weights,
    "corpus_curation": q_corpus_curation,
}


def cleaning_oracles() -> dict[str, str]:
    return {
        "text_pii": _sql_pii(),
        "text_repetition": _SQL_REPETITION,
        "text_line_repetition": _SQL_LINE_REP,
        "segment_dedup": _SQL_SEGMENT_DEDUP,
        "text_cdc_dedup": _SQL_CDC,
        "host_stats": _SQL_HOST_STATS,
        "doc_sample": _sql_doc_sample(),
        "token_packing": _SQL_TOKEN_PACKING,
        "doc_split": _SQL_DOC_SPLIT,
        "corpus_ngrams": _SQL_CORPUS_NGRAMS,
        "host_token_quantiles": _SQL_HOST_QUANTILES,
        "decontaminate": _SQL_DECONTAMINATE,
        "url_canonical": _SQL_URL_CANONICAL,
        "text_lm_surprise": _SQL_LM_SURPRISE,
        "text_kn_lm": _SQL_KN_LM,
        "text_bpe": _SQL_BPE,
        "text_bpe_encode": _SQL_BPE_ENCODE,
        "doi_datacite": _SQL_DOI_DATACITE,
        "mix_weights": _SQL_MIX_WEIGHTS,
        "corpus_curation": _sql_corpus_curation(),
    }
