"""Driver-contract query catalog: every implemented operator family as a
(spark_fn, oracle_sql) pair over the driver's testdata tables.

Each Spark callable takes ``(spark, sf_dir)`` and returns a DataFrame;
each oracle is ANSI/DuckDB SQL over views named after the parquet files.
Column names and value determinism are part of the contract (the driver
hash-compares sorted values), hence:

* money/ratio aggregates go through exact decimal sums, then a rounded
  double — both engines produce bit-identical results;
* all hashing is md5-derived (:mod:`ops.common.hash60`);
* ties in every window/top-k break on a unique key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mhdb_tables2turtles_spark.functions import udfs
from mhdb_tables2turtles_spark.ops import dedup, multimodal, similarity, text
from mhdb_tables2turtles_spark.ops.common import hash60, norm_text, tokens
from mhdb_tables2turtles_spark.web.canonicalize import connected_components
from mhdb_tables2turtles_spark.web.mentions import scan_mentions

# ---------------------------------------------------------------- helpers

# vocabulary for the KG queries over `documents` (single lowercase tokens,
# so Aho-Corasick word matching == token equality and the SQL oracle can
# express the same scan)
KG_VOCAB = (
    "spark", "query", "join", "filter", "scan", "sort",
    "merge", "group", "window", "stream", "vector", "hash",
)

# SQL building blocks (DuckDB dialect, mirroring ops.common exactly)
_NORM = "regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')"
_TOKS = f"string_split({_NORM}, ' ')"


def _sql_hash60(x: str) -> str:
    return f"('0x'||substr(md5({x}),1,15))::BIGINT"


def _sql_pascal(x: str) -> str:
    """str.title()-minus-spaces for space-separated names (the only shape
    in the TPC-H dims / KG vocab)."""
    return (
        f"list_aggregate(list_transform(string_split(lower({x}), ' '), "
        f"w -> upper(w[1])||lower(w[2:])), 'string_agg', '')"
    )


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _read_spread(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read + spread across cores.  The fixture tables are single small
    parquet files (one scan partition); the doc/embedding operators are
    compute-heavy row-local expressions, so without a repartition they
    run serially.  At real scale the source table has thousands of file
    splits and this shuffle is unnecessary — it exists for the
    single-file fixture shape only (cost: one tiny shuffle)."""
    return _read(spark, sf_dir, name).repartition(
        spark.sparkContext.defaultParallelism
    )


def _docs_as_pages(docs: DataFrame) -> DataFrame:
    # reuse the web mention scanner over the documents fixture
    return docs.select(F.col("doc_id").cast("string").alias("url"), "text")


def _mention_counts(spark, sf_dir) -> DataFrame:
    docs = _read_spread(spark, sf_dir, "documents")
    m = scan_mentions(_docs_as_pages(docs), KG_VOCAB)
    return (
        m.groupBy(F.col("url").cast("long").alias("doc_id"), F.col("surface").alias("term"))
        .agg(F.count("*").alias("n"))
    )


_SQL_MENTIONS = f"""
    select doc_id, tok as term, count(*) as n
    from (select doc_id, unnest({_TOKS}) as tok from documents)
    where tok in {tuple(KG_VOCAB)!r}
    group by doc_id, tok
"""

# ------------------------------------------------------------ KG queries


def q_kg_mentions(spark, sf_dir):
    """Aho-Corasick vocabulary scan (mapInPandas) == token-join oracle."""
    return _mention_counts(spark, sf_dir)


def q_kg_triples(spark, sf_dir, mentions: "DataFrame | None" = None):
    """Row->triple minting with the reference's IRI kernel (pandas UDF).

    ``mentions`` lets a composite query (e.g. kg_canonical_triples) pass
    an already-materialized ``_mention_counts`` result so the
    Aho-Corasick scan runs once per query, not once per consumer."""
    m = mentions if mentions is not None else _mention_counts(spark, sf_dir)
    return m.select(
        udfs.iri(
            F.concat(F.lit("doc "), F.col("doc_id").cast("string")), "delimited"
        ).alias("subject"),
        F.lit(":mentions").alias("predicate"),
        udfs.iri(F.col("term"), "PascalCase").alias("object"),
    ).distinct()


_SQL_KG_TRIPLES = f"""
    select distinct ':doc_'||doc_id as subject,
           ':mentions' as predicate,
           ':'||upper(term[1])||term[2:] as object
    from ({_SQL_MENTIONS})
"""


def q_kg_cooccurrence(spark, sf_dir, mentions: "DataFrame | None" = None):
    """Page-local co-mention edges (self-join keyed on doc — no skew).

    ``mentions`` — optional pre-materialized ``_mention_counts`` result
    (see :func:`q_kg_triples`).

    The distinct (doc_id, term) set is localCheckpointed before the
    self-join: without it BOTH join sides re-execute the Aho-Corasick
    scan (Spark does not reuse the common subtree across self-join
    aliases), and every downstream consumer of the co-mention graph
    pays the dominant scan twice.  At cluster scale the same role is
    played by the staged pipeline's committed mentions table."""
    m = (
        (mentions if mentions is not None else _mention_counts(spark, sf_dir))
        .select("doc_id", "term")
        .distinct()
        .localCheckpoint(eager=False)
    )
    a, b = m.alias("a"), m.alias("b")
    return (
        a.join(b, "doc_id")
        .filter(F.col("a.term") < F.col("b.term"))
        .groupBy(
            F.col("a.term").alias("term_a"), F.col("b.term").alias("term_b")
        )
        .agg(F.count("*").alias("n_docs"))
    )


_SQL_KG_COOC = f"""
    with m as (select distinct doc_id, term from ({_SQL_MENTIONS}))
    select a.term as term_a, b.term as term_b, count(*) as n_docs
    from m a join m b using (doc_id)
    where a.term < b.term
    group by a.term, b.term
"""


def q_kg_entity_degree(spark, sf_dir):
    """Degree per vocabulary entity in the co-mention graph."""
    e = q_kg_cooccurrence(spark, sf_dir)
    both = e.select(F.col("term_a").alias("term"), F.col("term_b").alias("other")).union(
        e.select(F.col("term_b").alias("term"), F.col("term_a").alias("other"))
    )
    return both.groupBy("term").agg(
        F.count_distinct("other").alias("degree")
    )


_SQL_KG_DEGREE = f"""
    with e as ({_SQL_KG_COOC}),
    b as (select term_a as term, term_b as other from e
          union all select term_b, term_a from e)
    select term, count(distinct other) as degree from b group by term
"""


def q_kg_subject_blocks(spark, sf_dir):
    """Turtle-block serialization shape: group triples per subject with a
    deterministic pair order (the serializer's core aggregation)."""
    t = q_kg_triples(spark, sf_dir)
    return t.groupBy("subject").agg(
        F.count("*").alias("n_pairs"),
        F.array_join(
            F.array_sort(F.collect_list(F.concat("predicate", F.lit(" "), "object"))),
            " ;\n\t",
        ).alias("block"),
    )


_SQL_KG_BLOCKS = f"""
    select subject, count(*) as n_pairs,
           string_agg(predicate||' '||object, ' ;\n\t'
                      order by predicate||' '||object) as block
    from ({_SQL_KG_TRIPLES})
    group by subject
"""


def q_kg_components(spark, sf_dir):
    """Connected components over strong co-mention edges (iterative
    salted min-label propagation; the DuckDB oracle reproduces it with a
    recursive-CTE transitive closure — exact on this graph size)."""
    edges = (
        q_kg_cooccurrence(spark, sf_dir)
        .filter(F.col("n_docs") >= 3)
        .select(F.col("term_a").alias("src"), F.col("term_b").alias("dst"))
    )
    return connected_components(edges)


_SQL_KG_COMPONENTS = f"""
    with recursive e0 as (
        select term_a, term_b from ({_SQL_KG_COOC}) where n_docs >= 3
    ),
    e as (select term_a as u, term_b as v from e0
          union select term_b, term_a from e0),
    nodes as (select distinct u as node from e),
    reach(node, r) as (
        select node, node from nodes
        union
        select reach.node, e.v from reach join e on reach.r = e.u
    )
    select node, min(r) as component from reach group by node
"""


# --------------------------------------------- sheet-spec engine (dims)


def q_sheet_nation_triples(spark, sf_dir):
    """The generic sheet->triples compiler on a real dimension table:
    type + label + scalar-FK broadcast join (reference pattern J1)."""
    from mhdb_tables2turtles_spark.plans.sheetspec import (
        ForeignKey,
        SheetSpec,
        sheet_triples,
    )

    nation = _read(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long").alias("row_id"),
        F.col("n_name"),
        F.col("n_regionkey").cast("string").alias("region_fk"),
    )
    region = _read(spark, sf_dir, "region").select(
        F.col("r_regionkey").cast("long").alias("index"),
        F.col("r_name"),
        F.lit(0).cast("long").alias("row_id"),
    )
    spec = SheetSpec(
        table="nation",
        subject_column="n_name",
        subject_style="PascalCase",
        rdf_type=":Nation",
        emitters=(ForeignKey("region_fk", "region", "r_name", ":inRegion"),),
    )
    t = sheet_triples({"nation": nation, "region": region}, spec, 0)
    return t.select("subject", "predicate", "object")


_SQL_NATION = f"""
    with n as (select ':'||{_sql_pascal('n_name')} as subject,
                      n_name, n_regionkey from nation)
    select subject, 'a' as predicate, ':Nation' as object from n
    union all
    select subject, 'rdfs:label', '\"\"\"'||n_name||'\"\"\"@en' from n
    union all
    select n.subject, ':inRegion', ':'||{_sql_pascal('r_name')}
    from n join region r on n.n_regionkey = r.r_regionkey
"""


# --------------------------------------------------- window / sequence


def q_w1_running_counter(spark, sf_dir):
    """Per-group running counter (reference W1: question numbering) —
    row_number over (user, ts) with the event id as IRI seed."""
    ev = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.row_number().over(w).alias("qnum"),
    ).withColumn(
        "qtag", F.format_string("u%s_Q%s", F.col("user_id"), F.col("qnum"))
    )


_SQL_W1 = """
    select event_id, user_id,
           row_number() over (partition by user_id order by ts, event_id) as qnum,
           'u'||user_id||'_Q'||row_number() over (partition by user_id order by ts, event_id) as qtag
    from events
"""


_SESSION_GAP_US = 30 * 60 * 1_000_000  # 30-minute inactivity gap


def q_event_sessions(spark, sf_dir):
    """The engine's sessionization operator: gap-based session
    assignment via lag + running sum, then per-session aggregates.

    All event-time arithmetic AND outputs in integer microseconds
    (tz-free diff from epoch / DuckDB ``epoch_us``) — no float seconds
    and no raw TIMESTAMP_NTZ columns, so the oracle is engine-exact
    (timestamp serialization differs across engines; epoch-µs longs
    don't — round-2 driver hash mismatch).
    One shuffle keyed by user_id; sessions never cross keys.
    """
    ev = _read(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # events.ts is TIMESTAMP_NTZ: micros via a tz-free diff from the
    # epoch (unix_micros only accepts TIMESTAMP_LTZ)
    us = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    )
    flagged = ev.withColumn(
        "new_sess",
        F.when(
            F.lag(us).over(w).isNull()
            | ((us - F.lag(us).over(w)) > _SESSION_GAP_US),
            1,
        ).otherwise(0),
    )
    sess = flagged.withColumn(
        "sid",
        F.sum("new_sess").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    epoch = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"
    return sess.groupBy("user_id", "sid").agg(
        F.expr(
            f"timestampdiff(MICROSECOND, {epoch}, min(ts))"
        ).alias("start_us"),
        F.expr(
            f"timestampdiff(MICROSECOND, {epoch}, max(ts))"
        ).alias("end_us"),
        F.count("*").alias("n_events"),
        F.expr(
            "timestampdiff(MICROSECOND, min(ts), max(ts))"
        ).alias("duration_us"),
    )


_SQL_EVENT_SESSIONS = f"""
    with o as (
        select user_id, event_id, ts,
               lag(epoch_us(ts)) over (
                   partition by user_id order by ts, event_id
               ) as prev_us
        from events
    ),
    f as (
        select *, case when prev_us is null
                        or epoch_us(ts) - prev_us > {_SESSION_GAP_US}
                   then 1 else 0 end as new_sess
        from o
    ),
    s as (
        -- cast: integer sum() is HUGEINT in DuckDB (renders as float via
        -- pandas/Arrow — driver value-hash poison)
        select *, cast(sum(new_sess) over (
            partition by user_id order by ts, event_id
            rows unbounded preceding
        ) as bigint) as sid
        from f
    )
    select user_id, sid,
           epoch_us(min(ts)) as start_us,
           epoch_us(max(ts)) as end_us,
           count(*) as n_events,
           epoch_us(max(ts)) - epoch_us(min(ts)) as duration_us
    from s group by user_id, sid
"""


def q_w2_rdf_seq(spark, sf_dir):
    """rdf:Seq membership triples via posexplode (reference W2).

    Split with ``limit=6`` so only the first 5 token boundaries are ever
    found — the old ``slice(tokens(text), 1, 5)`` materialized the full
    token array per document just to keep 5 (~10x wasted work on long
    docs).  Elements 1..5 of a limit-6 split equal elements 1..5 of the
    full split by definition, so the (unbounded) DuckDB oracle is
    value-identical.
    """
    docs = _read_spread(spark, sf_dir, "documents")
    first5 = F.slice(F.split(norm_text(F.col("text")), " ", 6), 1, 5)
    return docs.select(
        F.concat(F.lit(":doc_"), F.col("doc_id")).alias("subject"),
        F.posexplode(first5).alias("pos", "token"),
    ).select(
        "subject",
        F.format_string("rdf:_%s", F.col("pos") + 1).alias("predicate"),
        F.col("token").alias("object"),
    )


_SQL_W2 = f"""
    with t as (select doc_id, {_TOKS} as ts from documents)
    select ':doc_'||doc_id as subject,
           'rdf:_'||i as predicate,
           ts[i] as object
    from t, unnest(generate_series(1, least(5, len(ts)))) u(i)
"""


def q_j4_priority_resolve(spark, sf_dir):
    """Multi-table fallback resolution (reference J4): resolve an id
    against customer then supplier, first hit wins, with source tag."""
    ids = _read(spark, sf_dir, "events").select("user_id").distinct()
    cust = _read(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_name")
    )
    supp = _read(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").cast("long").alias("s_suppkey"), F.col("s_name")
    )
    out = (
        ids.join(
            F.broadcast(cust), ids["user_id"] * 12 == cust["c_custkey"], "left"
        )
        .join(
            F.broadcast(supp), ids["user_id"] - 100 == supp["s_suppkey"], "left"
        )
        .select(
            "user_id",
            F.coalesce("c_name", "s_name", F.lit("unresolved")).alias(
                "resolved_name"
            ),
            F.when(F.col("c_name").isNotNull(), "customer")
            .when(F.col("s_name").isNotNull(), "supplier")
            .otherwise("none")
            .alias("source"),
        )
    )
    return out


_SQL_J4 = """
    with ids as (select distinct user_id from events)
    select ids.user_id,
           coalesce(c.c_name, s.s_name, 'unresolved') as resolved_name,
           case when c.c_name is not null then 'customer'
                when s.s_name is not null then 'supplier'
                else 'none' end as source
    from ids
    left join customer c on ids.user_id * 12 = c.c_custkey
    left join supplier s on ids.user_id - 100 = s.s_suppkey
"""


def q_j5_reln_dispatch(spark, sf_dir):
    """Relation-type dispatch (reference J5): event_type -> predicate
    map, with an extra triple emitted for one type."""
    ev = _read(spark, sf_dir, "events").select("event_id", "user_id", "event_type")
    pred = (
        F.when(F.col("event_type") == "click", ":clicked")
        .when(F.col("event_type") == "view", ":viewed")
        .when(F.col("event_type") == "error", ":raisedError")
        .when(F.col("event_type") == "purchase", ":purchased")
        .otherwise(":did")
    )
    base = ev.select(
        F.concat(F.lit(":u"), F.col("user_id")).alias("subject"),
        pred.alias("predicate"),
        F.concat(F.lit(":e"), F.col("event_id")).alias("object"),
    )
    extra = ev.filter(F.col("event_type") == "error").select(
        F.concat(F.lit(":e"), F.col("event_id")).alias("subject"),
        F.lit(":hasSeverity").alias("predicate"),
        F.lit('"high"').alias("object"),
    )
    return base.unionByName(extra)


_SQL_J5 = """
    select ':u'||user_id as subject,
           case event_type when 'click' then ':clicked'
                           when 'view' then ':viewed'
                           when 'error' then ':raisedError'
                           when 'purchase' then ':purchased'
                           else ':did' end as predicate,
           ':e'||event_id as object
    from events
    union all
    select ':e'||event_id, ':hasSeverity', '"high"'
    from events where event_type = 'error'
"""


# ------------------------------------------------------- TPC-H breadth


def q_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: multi-aggregate groupBy with exact decimal sums
    cast back to rounded doubles for engine-portable determinism."""
    li = _read(spark, sf_dir, "lineitem")
    d = lambda c: F.col(c).cast("decimal(18,2)")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(d("l_quantity")).cast("double"), 2).alias("sum_qty"),
            F.round(F.sum(d("l_extendedprice")).cast("double"), 2).alias(
                "sum_base_price"
            ),
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(18,4)"
                    )
                ).cast("double"),
                2,
            ).alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
    )


_SQL_Q1 = """
    select l_returnflag, l_linestatus,
           round(sum(l_quantity::decimal(18,2))::double, 2) as sum_qty,
           round(sum(l_extendedprice::decimal(18,2))::double, 2) as sum_base_price,
           round(sum((l_extendedprice * (1 - l_discount))::decimal(18,4))::double, 2) as sum_disc_price,
           count(*) as count_order
    from lineitem
    group by l_returnflag, l_linestatus
"""


def q_nation_revenue(spark, sf_dir):
    """Star join with broadcast dims: revenue per nation per region."""
    li = _read(spark, sf_dir, "lineitem")
    o = _read(spark, sf_dir, "orders")
    c = _read(spark, sf_dir, "customer")
    n = _read(spark, sf_dir, "nation")
    r = _read(spark, sf_dir, "region")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy(F.col("n_name").alias("nation"), F.col("r_name").alias("region"))
        .agg(F.round(F.sum(rev).cast("double"), 2).alias("revenue"))
    )


_SQL_NATION_REV = """
    select n_name as nation, r_name as region,
           round(sum((l_extendedprice * (1 - l_discount))::decimal(18,4))::double, 2) as revenue
    from lineitem
    join orders on l_orderkey = o_orderkey
    join customer on o_custkey = c_custkey
    join nation on c_nationkey = n_nationkey
    join region on n_regionkey = r_regionkey
    group by n_name, r_name
"""


def q_top_orders_per_customer(spark, sf_dir):
    """Window top-k: 3 highest-value orders per customer."""
    o = _read(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.col("o_orderkey")
    )
    return (
        o.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "o_custkey",
            "rank",
            "o_orderkey",
            F.round(F.col("o_totalprice").cast("decimal(18,2)").cast("double"), 2).alias(
                "totalprice"
            ),
        )
    )


_SQL_TOP_ORDERS = """
    select o_custkey, rank, o_orderkey,
           round(o_totalprice::decimal(18,2)::double, 2) as totalprice
    from (select o_custkey, o_orderkey, o_totalprice,
                 row_number() over (partition by o_custkey
                                    order by o_totalprice desc, o_orderkey) as rank
          from orders)
    where rank <= 3
"""


# ---------------------------------------------------------- dedup ops


def q_dedup_exact(spark, sf_dir):
    """Content-hash groups (all groups, incl. singletons — a 500-row
    determinism check of the hash path)."""
    docs = _read_spread(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", hash60(norm_text(F.col("text"))).alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.count("*").alias("dup_count"), F.min("doc_id").alias("keep_doc_id"))
    )


_SQL_DEDUP_EXACT = f"""
    select {_sql_hash60(_NORM)} as text_hash,
           count(*) as dup_count, min(doc_id) as keep_doc_id
    from documents
    group by 1
"""


def q_dedup_minhash(spark, sf_dir):
    # numpy mapInPandas twin: bit-identical to the HOF column version
    # (test_ops locks the equivalence) and ~8x faster — Catalyst cannot
    # codegen HOF lambdas, so the 16-permutation sweep was interpreted
    return dedup.minhash_bands_np(_read_spread(spark, sf_dir, "documents"))


def _sql_minhash() -> str:
    """Mirror of ops.dedup.minhash_bands: one hash60 per shingle, 16
    universal-hash permutations with the same md5-derived constants."""
    P = dedup.MINHASH_P
    consts = dedup.minhash_perm_constants(16)
    mins = ", ".join(
        f"list_aggregate(list_transform(hs, h -> ({a}::bigint * h + {b}) % {P}), 'min')"
        for a, b in consts
    )
    return f"""
    with toks as (select doc_id, {_TOKS} as ts from documents),
    sh as (select doc_id,
                  list_transform(generate_series(1, len(ts)-2),
                                 i -> ts[i]||' '||ts[i+1]||' '||ts[i+2]) as sh
           from toks),
    hs as (select doc_id, list_transform(sh, x -> {_sql_hash60('x')} % {P}) as hs
           from sh where len(sh) > 0),
    sig as (select doc_id, [{mins}] as sig from hs)
    select doc_id, b as band_id,
           md5(sig[b*4+1]::varchar||'|'||sig[b*4+2]::varchar||'|'||
               sig[b*4+3]::varchar||'|'||sig[b*4+4]::varchar) as band_hash
    from sig, unnest(generate_series(0,3)) t(b)
"""


_SQL_MINHASH = _sql_minhash()


def q_dedup_minhash_pairs(spark, sf_dir):
    # materialize signatures once: the bucket self-join references the
    # bands plan twice, and Spark re-executes unreferenced subplans
    bands = dedup.minhash_bands_np(
        _read_spread(spark, sf_dir, "documents")
    ).localCheckpoint(eager=False)
    return dedup.lsh_candidate_pairs(bands)


_SQL_MINHASH_PAIRS = f"""
    with bands as ({_SQL_MINHASH})
    select distinct a.doc_id as doc_a, b.doc_id as doc_b
    from bands a join bands b using (band_id, band_hash)
    where a.doc_id < b.doc_id
"""


def q_dedup_simhash(spark, sf_dir):
    # numpy twin (exact — integer math): see q_dedup_minhash
    return dedup.simhash_np(_read_spread(spark, sf_dir, "documents"))


def _sql_simhash() -> str:
    h = _sql_hash60("t")
    votes = " + ".join(
        f"(case when (list_sum(list_transform(ts, t -> "
        f"case when ({h} >> {b}) & 1 = 1 then 1 else -1 end))) > 0 "
        f"then {1 << b} else 0 end)"
        for b in range(16)
    )
    return f"""
        with toks as (select doc_id, {_TOKS} as ts from documents)
        select doc_id, ({votes})::bigint as simhash from toks
    """


def q_jaccard_pairs(spark, sf_dir):
    """Exact shingle Jaccard for LSH candidate pairs."""
    docs = _read_spread(spark, sf_dir, "documents")
    # one evaluation of the signature plan (referenced 2x by the bucket
    # self-join) and one of the candidate pairs (referenced by 2 joins)
    bands = dedup.minhash_bands_np(docs).localCheckpoint(eager=False)
    pairs = dedup.lsh_candidate_pairs(bands).localCheckpoint(eager=False)
    j = dedup.jaccard_pairs(docs, pairs)
    return j.select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))


_SQL_JACCARD = f"""
    with toks as (select doc_id, {_TOKS} as ts from documents),
    sh as (select doc_id,
                  list_distinct(list_transform(
                      list_transform(generate_series(1, len(ts)-2),
                                     i -> ts[i]||' '||ts[i+1]||' '||ts[i+2]),
                      s -> {_sql_hash60('s')})) as sh
           from toks),
    pairs as ({_SQL_MINHASH_PAIRS})
    select doc_a, doc_b,
           round(len(list_intersect(a.sh, b.sh))::double /
                 len(list_distinct(list_concat(a.sh, b.sh))), 6) as jaccard
    from pairs join sh a on doc_a = a.doc_id join sh b on doc_b = b.doc_id
"""


# every 7th document plays the "new crawl drop"; the rest is the
# committed corpus whose band table already exists
_INCR_DROP_MOD = 7
_INCR_TAU = 0.5


def q_dedup_incremental(spark, sf_dir):
    """Incremental drop-vs-corpus near-dup verdicts
    (ops/dedup.py::incremental_near_dups): the drop's docs are signed
    fresh, the corpus contributes only its committed band table plus
    candidate texts — the growing-corpus production shape."""
    docs = _read_spread(spark, sf_dir, "documents")
    drop = docs.filter(F.col("doc_id") % _INCR_DROP_MOD == 0)
    corpus = docs.filter(F.col("doc_id") % _INCR_DROP_MOD != 0)
    corpus_bands = dedup.minhash_bands_np(corpus).localCheckpoint(
        eager=False
    )
    decisions, _ = dedup.incremental_near_dups(
        drop, corpus, corpus_bands, threshold=_INCR_TAU
    )
    return decisions.select(
        "doc_id", "dup_of", F.round("jaccard", 6).alias("jaccard"), "scope"
    )


_SQL_DEDUP_INCREMENTAL = f"""
    with bands as ({_SQL_MINHASH}),
    drop_b as (select * from bands where doc_id % {_INCR_DROP_MOD} = 0),
    corp_b as (select * from bands where doc_id % {_INCR_DROP_MOD} <> 0),
    cand as (
        select distinct d.doc_id as doc_a, c.doc_id as doc_b,
               'corpus' as scope
        from drop_b d join corp_b c using (band_id, band_hash)
        union all
        select distinct a.doc_id as doc_a, b.doc_id as doc_b,
               'drop' as scope
        from drop_b a join drop_b b using (band_id, band_hash)
        where a.doc_id < b.doc_id
    ),
    toks as (select doc_id, {_TOKS} as ts from documents),
    sh as (select doc_id,
                  list_distinct(list_transform(
                      list_transform(generate_series(1, len(ts)-2),
                                     i -> ts[i]||' '||ts[i+1]||' '||ts[i+2]),
                      s -> {_sql_hash60('s')})) as sh
           from toks),
    ver as (select doc_a, doc_b, scope,
                   len(list_intersect(a.sh, b.sh))::double /
                   len(list_distinct(list_concat(a.sh, b.sh))) as jacc
            from cand join sh a on doc_a = a.doc_id
                      join sh b on doc_b = b.doc_id),
    dup_rows as (
        select case when scope = 'drop' then doc_b else doc_a end as doc_id,
               case when scope = 'drop' then doc_a else doc_b end as dup_of,
               jacc, scope
        from ver where jacc >= {_INCR_TAU}
    ),
    best as (
        select doc_id, dup_of, jacc, scope,
               row_number() over (partition by doc_id
                                  order by jacc desc, dup_of asc) as rn
        from dup_rows
    )
    select doc_id, dup_of, round(jacc, 6) as jaccard, scope
    from best where rn = 1
"""




_DEDUP_TAU = 0.8


def q_dedup_clusters(spark, sf_dir):
    """Full near-dup clustering recipe: LSH candidates -> exact Jaccard
    >= tau -> connected components -> canonical doc per cluster
    (ops/dedup.py::near_dup_clusters)."""
    return dedup.near_dup_clusters(
        _read_spread(spark, sf_dir, "documents"), tau=_DEDUP_TAU
    )


# unrounded jaccard here (the op thresholds the exact ratio; the
# rounded value in _SQL_JACCARD is display-only)
_SQL_CC_CTES = f"""
    with recursive toks as (select doc_id, {_TOKS} as ts from documents),
    sh as (select doc_id,
                  list_distinct(list_transform(
                      list_transform(generate_series(1, len(ts)-2),
                                     i -> ts[i]||' '||ts[i+1]||' '||ts[i+2]),
                      s -> {_sql_hash60('s')})) as sh
           from toks),
    pairs as ({_SQL_MINHASH_PAIRS}),
    e0 as (
        select doc_a, doc_b
        from pairs join sh a on doc_a = a.doc_id
                   join sh b on doc_b = b.doc_id
        where len(list_intersect(a.sh, b.sh))::double /
              len(list_distinct(list_concat(a.sh, b.sh))) >= {_DEDUP_TAU}
    ),
    e as (select doc_a as u, doc_b as v from e0
          union select doc_b, doc_a from e0),
    nodes as (select distinct u as node from e),
    reach(node, r) as (
        select node, node from nodes
        union
        select reach.node, e.v from reach join e on reach.r = e.u
    ),
    cc as (select node, min(r) as component from reach group by node)"""

_SQL_DEDUP_CLUSTERS = f"""{_SQL_CC_CTES},
    sz as (select component, count(*) as cluster_size from cc
           group by component)
    select node as doc_id, component as canonical_id, cluster_size
    from cc join sz using (component)
"""


def q_dedup_decisions(spark, sf_dir):
    """The dedup family's end artifact: one keep/drop decision per
    document.  Exact duplicates (same normalized content hash) drop
    first; then near-dup cluster members that aren't their cluster's
    canonical; everything else keeps.  Composes the content-hash grouping
    of :func:`q_dedup_exact` with near_dup_clusters; the corpus never
    shuffles, only hashes and the tiny verified-edge graph."""
    docs = _read_spread(spark, sf_dir, "documents")
    hashes = docs.select(
        "doc_id", hash60(norm_text(F.col("text"))).alias("content_hash")
    )
    keepers = hashes.groupBy("content_hash").agg(
        F.min("doc_id").alias("exact_keeper")
    )
    exact = hashes.join(keepers, "content_hash").select(
        "doc_id", "exact_keeper"
    )
    clusters = dedup.near_dup_clusters(docs, tau=_DEDUP_TAU).select(
        "doc_id", "canonical_id"
    )
    joined = exact.join(clusters, "doc_id", "left")
    reason = (
        F.when(F.col("doc_id") != F.col("exact_keeper"), "exact_dup")
        .when(
            F.col("canonical_id").isNotNull()
            & (F.col("canonical_id") != F.col("doc_id")),
            "near_dup",
        )
        .otherwise("keep")
    )
    return joined.select(
        "doc_id",
        reason.alias("reason"),
        (reason == "keep").alias("keep"),
    )


_SQL_DEDUP_DECISIONS = f"""{_SQL_CC_CTES},
    hashes as (select doc_id, {_sql_hash60(_NORM)} as content_hash
               from documents),
    ex as (select doc_id,
                  min(doc_id) over (partition by content_hash)
                      as exact_keeper
           from hashes),
    j as (select ex.doc_id, ex.exact_keeper, cc.component as canonical_id
          from ex left join cc on ex.doc_id = cc.node),
    r as (select doc_id,
                 case when doc_id != exact_keeper then 'exact_dup'
                      when canonical_id is not null
                           and canonical_id != doc_id then 'near_dup'
                      else 'keep' end as reason
          from j)
    select doc_id, reason, reason = 'keep' as keep from r
"""


# ----------------------------------------------------------- text ops


def q_text_token_stats(spark, sf_dir):
    return text.token_stats(_read_spread(spark, sf_dir, "documents"))


_SQL_TOKEN_STATS = f"""
    with t as (select doc_id, {_NORM} as nt, {_TOKS} as ts from documents)
    select doc_id,
           len(ts) as n_tokens,
           len(list_distinct(ts)) as n_distinct,
           length(nt) as n_chars,
           round(list_sum(list_transform(ts, x -> length(x)))::double / len(ts), 4) as avg_token_len,
           round(len(list_distinct(ts))::double / len(ts), 4) as distinct_ratio,
           len(regexp_extract_all(nt, '[a-z]+|[0-9]+|[^a-z0-9 ]')) as n_pieces
    from t
"""


def q_text_quality(spark, sf_dir):
    return text.quality_score(_read_spread(spark, sf_dir, "documents"))


_SQL_QUALITY = f"""
    with t as (select doc_id, {_TOKS} as ts from documents),
    s as (select doc_id, len(ts) as n,
                 len(list_filter(ts, x -> x in ('the','a','and','of','to','in','is'))) as stop_hits,
                 len(list_distinct(ts))::double / len(ts) as dr
          from t)
    select doc_id, n as n_tokens,
           round(stop_hits::double / n, 4) as stopword_ratio,
           round(dr, 4) as distinct_ratio,
           round(0.4 * (case when n between 20 and 100000 then 1.0 else 0.0 end)
                 + 0.3 * least(dr * 2, 1.0)
                 + 0.3 * least(stop_hits::double / n * 10, 1.0), 4) as quality
    from s
"""


def q_text_lang_id(spark, sf_dir):
    return text.lang_id(_read_spread(spark, sf_dir, "documents"))


def _sql_lang_id() -> str:
    from mhdb_tables2turtles_spark.ops.text import LANG_MARKERS

    codes = sorted(LANG_MARKERS)
    score_cols = ", ".join(
        f"len(list_filter(ts, x -> x in {tuple(LANG_MARKERS[c])!r})) as {c}"
        for c in codes
    )
    best = f"greatest({', '.join(codes)})"
    pred = "case when " + f"{best} <= 0 then 'und' " + " ".join(
        f"when {c} = {best} then '{c}'" for c in codes
    ) + " end"
    return f"""
        with t as (select doc_id, {_TOKS} as ts from documents),
        s as (select doc_id, len(ts) as n, {score_cols} from t)
        select doc_id, {pred} as pred_lang,
               round({best}::double / greatest(n, 1), 4) as lang_score
        from s
    """


def q_text_fingerprint(spark, sf_dir):
    return text.fingerprint(_read_spread(spark, sf_dir, "documents"))


_SQL_FINGERPRINT = f"""
    with t as (select doc_id, {_NORM} as nt, {_TOKS} as ts from documents),
    sh as (select doc_id, nt,
                  list_transform(generate_series(1, len(ts)-4),
                    i -> ts[i]||' '||ts[i+1]||' '||ts[i+2]||' '||ts[i+3]||' '||ts[i+4]) as sh
           from t)
    select doc_id,
           {_sql_hash60('nt')} as content_hash,
           list_aggregate(list_transform(sh, x -> {_sql_hash60('x')}), 'min') as winnow_hash
    from sh
"""


# ----------------------------------------------------- similarity ops


def q_embed_topk(spark, sf_dir):
    emb = _read_spread(spark, sf_dir, "embeddings")
    return similarity.topk_bruteforce(emb, emb.filter(F.col("vec_id") < 8), k=5)


_SQL_TOPK = """
    with q as (select vec_id as query_id, embedding::double[] as qe
               from embeddings where vec_id < 8),
    s as (select query_id, vec_id as neighbor_id,
                 round(list_dot_product(qe, embedding::double[]) /
                       (sqrt(list_dot_product(qe, qe)) *
                        sqrt(list_dot_product(embedding::double[], embedding::double[]))), 6) as cos
          from q, embeddings where vec_id != query_id)
    select query_id, rank, neighbor_id, cos from (
      select query_id, neighbor_id, cos,
             row_number() over (partition by query_id order by cos desc, neighbor_id) as rank
      from s)
    where rank <= 5
"""


def q_embed_lsh_buckets(spark, sf_dir):
    return similarity.lsh_buckets(
        _read_spread(spark, sf_dir, "embeddings"), n_planes=8, dim=64, n_tables=2
    )


def _sql_lsh_buckets(n_planes: int = 8, n_tables: int = 2) -> str:
    def proj(p: int) -> str:
        key = f"'{p},'||d::varchar"  # must equal plane_matrix's f"{p},{d}"
        w = f"((({_sql_hash60(key)}) % 2001) - 1000) / 1000.0"
        return (
            f"list_sum(list_transform(generate_series(0,63), "
            f"d -> embedding[d+1]::double * ({w})))"
        )

    tables = []
    for t in range(n_tables):
        bits = " + ".join(
            f"(case when ({proj(t * n_planes + p)}) > 0 then {1 << p} else 0 end)"
            for p in range(n_planes)
        )
        tables.append(
            f"select vec_id, {t} as table_id, ({bits})::bigint as bucket from embeddings"
        )
    return " union all ".join(tables)


def q_embed_ann(spark, sf_dir):
    """Multi-table LSH ANN top-k (bucket-join candidates + exact rerank)."""
    emb = _read_spread(spark, sf_dir, "embeddings")
    return similarity.topk_lsh(
        emb, emb.filter(F.col("vec_id") < 8), k=5, n_planes=4, n_tables=8
    )


def _sql_ann(k: int = 5, n_planes: int = 4, n_tables: int = 8) -> str:
    """Mirror of similarity.topk_lsh: same md5-derived plane matrix,
    bucket candidate join, exact cosine rerank with identical rounding
    and tie order."""
    buckets = _sql_lsh_buckets(n_planes=n_planes, n_tables=n_tables)
    return f"""
    with buckets as ({buckets}),
    qb as (select vec_id as query_id, table_id, bucket
           from buckets where vec_id < 8),
    cand as (select distinct qb.query_id, b.vec_id as neighbor_id
             from qb join buckets b using (table_id, bucket)
             where b.vec_id != qb.query_id),
    s as (select c.query_id, c.neighbor_id,
                 round(list_dot_product(eq.embedding::double[], en.embedding::double[]) /
                       (sqrt(list_dot_product(eq.embedding::double[], eq.embedding::double[])) *
                        sqrt(list_dot_product(en.embedding::double[], en.embedding::double[]))), 6) as cos
          from cand c
          join embeddings eq on c.query_id = eq.vec_id
          join embeddings en on c.neighbor_id = en.vec_id)
    select query_id, rank, neighbor_id, cos from (
      select query_id, neighbor_id, cos,
             row_number() over (partition by query_id order by cos desc, neighbor_id) as rank
      from s)
    where rank <= {k}
"""


def q_ann_recall(spark, sf_dir):
    """Measure, don't guess: recall@5 of the LSH ANN against the
    brute-force exact top-5, per query vector, in integer basis points —
    the evaluation harness an ANN index ships with.  Pure composition of
    the two existing operators plus one join."""
    exact = q_embed_topk(spark, sf_dir).select("query_id", "neighbor_id")
    ann = q_embed_ann(spark, sf_dir).select(
        "query_id", "neighbor_id", F.lit(1).alias("hit")
    )
    return (
        exact.join(ann, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("*").alias("k"),
            F.expr("(10000 * count(hit)) div count(*)").alias("recall_bp"),
        )
    )


_SQL_ANN_RECALL_TEMPLATE = """
    with ex as ({topk}),
    an as ({ann})
    select ex.query_id,
           count(*) as k,
           cast((10000 * count(an.neighbor_id)) // count(*) as bigint)
               as recall_bp
    from ex left join an
      on ex.query_id = an.query_id and ex.neighbor_id = an.neighbor_id
    group by ex.query_id
"""


def q_embed_near_dup(spark, sf_dir):
    """Embedding-cosine near-dup pairs via LSH buckets (tau tuned to the
    synthetic corpus's cosine range)."""
    emb = _read_spread(spark, sf_dir, "embeddings")
    return similarity.embedding_near_duplicates(
        emb, tau=0.35, n_planes=4, n_tables=4
    )


def _sql_near_dup(tau: float = 0.35, n_planes: int = 4, n_tables: int = 4) -> str:
    """Mirror of similarity.embedding_near_duplicates: identical
    md5-derived plane matrix, bucket-collision candidate pairs, exact
    cosine with the same rounding."""
    buckets = _sql_lsh_buckets(n_planes=n_planes, n_tables=n_tables)
    return f"""
    with buckets as ({buckets}),
    pairs as (select distinct a.vec_id as vec_a, b.vec_id as vec_b
              from buckets a join buckets b using (table_id, bucket)
              where a.vec_id < b.vec_id),
    s as (select p.vec_a, p.vec_b,
                 round(list_dot_product(ea.embedding::double[], eb.embedding::double[]) /
                       (sqrt(list_dot_product(ea.embedding::double[], ea.embedding::double[])) *
                        sqrt(list_dot_product(eb.embedding::double[], eb.embedding::double[]))), 6) as cos
          from pairs p
          join embeddings ea on p.vec_a = ea.vec_id
          join embeddings eb on p.vec_b = eb.vec_id)
    select vec_a, vec_b, cos from s where cos >= {tau}
"""


# ----------------------------------------------------- multimodal ops


def q_multimodal_sniff(spark, sf_dir):
    media = multimodal.media_from_documents(_read_spread(spark, sf_dir, "documents"))
    return multimodal.sniff_metadata(media)


_SQL_SNIFF = """
    select doc_id as media_id,
           case doc_id % 4 when 0 then 'image/png'
                           when 1 then 'image/jpeg'
                           when 2 then 'audio/wav'
                           else 'video/webm' end as kind,
           octet_length(encode(text)) + (case doc_id % 4 when 1 then 3 else 4 end) as n_bytes,
           true as payload_ok
    from documents
"""


def q_multimodal_frames(spark, sf_dir):
    """Frame-sampling plumbing (mapInPandas 1->N)."""
    media = multimodal.media_from_documents(_read_spread(spark, sf_dir, "documents"))
    return multimodal.sample_frames(media)


# frame checksums are byte arithmetic over hex(payload): one 64-byte
# window sum per sampled offset — expressible, so the frames query gets a
# full value oracle instead of the rows-only check
_SQL_FRAMES = """
    with m as (
        select doc_id as media_id,
               (case doc_id % 4 when 0 then '89504E47'
                                when 1 then 'FFD8FF'
                                when 2 then '52494646'
                                else '1A45DFA3' end) || hex(encode(text)) as h
        from documents
    ),
    n as (select media_id, h, length(h) // 2 as nb from m),
    f as (
        select media_id, (i - 1) * 64 as frame_offset,
               (list_sum(list_transform(
                   generate_series((i - 1) * 64, least((i - 1) * 64 + 63, nb - 1)),
                   j -> ('0x'||substring(h, 2 * j + 1, 2))::bigint)) % 256) as chk
        from n, unnest(generate_series(1, (nb + 63) // 64)) u(i)
    )
    select media_id, frame_offset::bigint as frame_offset,
           chk::int as frame_checksum
    from f
"""


# --------------------------------------------------------- the catalog

QUERIES = {
    "kg_mentions": q_kg_mentions,
    "kg_triples": q_kg_triples,
    "kg_cooccurrence": q_kg_cooccurrence,
    "kg_entity_degree": q_kg_entity_degree,
    "kg_subject_blocks": q_kg_subject_blocks,
    "kg_components": q_kg_components,
    "sheet_nation_triples": q_sheet_nation_triples,
    "w1_running_counter": q_w1_running_counter,
    "w2_rdf_seq": q_w2_rdf_seq,
    "event_sessions": q_event_sessions,
    "j4_priority_resolve": q_j4_priority_resolve,
    "j5_reln_dispatch": q_j5_reln_dispatch,
    "pricing_summary": q_pricing_summary,
    "nation_revenue": q_nation_revenue,
    "top_orders_per_customer": q_top_orders_per_customer,
    "dedup_exact": q_dedup_exact,
    "dedup_minhash": q_dedup_minhash,
    "dedup_minhash_pairs": q_dedup_minhash_pairs,
    "dedup_simhash": q_dedup_simhash,
    "jaccard_pairs": q_jaccard_pairs,
    "dedup_incremental": q_dedup_incremental,
    "dedup_clusters": q_dedup_clusters,
    "dedup_decisions": q_dedup_decisions,
    "text_token_stats": q_text_token_stats,
    "text_quality": q_text_quality,
    "text_lang_id": q_text_lang_id,
    "text_fingerprint": q_text_fingerprint,
    "embed_topk": q_embed_topk,
    "embed_lsh_buckets": q_embed_lsh_buckets,
    "embed_ann": q_embed_ann,
    "embed_near_dup": q_embed_near_dup,
    "ann_recall": q_ann_recall,
    "multimodal_sniff": q_multimodal_sniff,
    "multimodal_frames": q_multimodal_frames,
}

# workbook-plan operator families (compound labels, W1+W2 question chain,
# SheetSpec emitter coverage) — defined in queries_sheets to keep this
# module bounded
from mhdb_tables2turtles_spark.queries_sheets import (  # noqa: E402
    SHEET_QUERIES,
    sheet_oracles,
)

QUERIES.update(SHEET_QUERIES)

# corpus-cleaning operator family (PII, repetition, segment dedup, host
# stats) — defined in queries_cleaning
from mhdb_tables2turtles_spark.queries_cleaning import (  # noqa: E402
    CLEANING_QUERIES,
    cleaning_oracles,
)

QUERIES.update(CLEANING_QUERIES)

# graph-analytics family (fixed-point PageRank, IVF k-means) — defined
# in queries_graph; the PageRank oracle reuses this module's co-mention
# SQL, passed in to avoid an import cycle
from mhdb_tables2turtles_spark.queries_graph import (  # noqa: E402
    GRAPH_QUERIES,
    graph_oracles,
)

QUERIES.update(GRAPH_QUERIES)


def oracles() -> dict[str, str]:
    return {
        "kg_mentions": _SQL_MENTIONS,
        "kg_triples": _SQL_KG_TRIPLES,
        "kg_cooccurrence": _SQL_KG_COOC,
        "kg_entity_degree": _SQL_KG_DEGREE,
        "kg_subject_blocks": _SQL_KG_BLOCKS,
        "kg_components": _SQL_KG_COMPONENTS,
        "sheet_nation_triples": _SQL_NATION,
        "w1_running_counter": _SQL_W1,
        "w2_rdf_seq": _SQL_W2,
        "event_sessions": _SQL_EVENT_SESSIONS,
        "j4_priority_resolve": _SQL_J4,
        "j5_reln_dispatch": _SQL_J5,
        "pricing_summary": _SQL_Q1,
        "nation_revenue": _SQL_NATION_REV,
        "top_orders_per_customer": _SQL_TOP_ORDERS,
        "dedup_exact": _SQL_DEDUP_EXACT,
        "dedup_minhash": _SQL_MINHASH,
        "dedup_minhash_pairs": _SQL_MINHASH_PAIRS,
        "dedup_simhash": _sql_simhash(),
        "jaccard_pairs": _SQL_JACCARD,
        "dedup_incremental": _SQL_DEDUP_INCREMENTAL,
        "dedup_clusters": _SQL_DEDUP_CLUSTERS,
        "dedup_decisions": _SQL_DEDUP_DECISIONS,
        "text_token_stats": _SQL_TOKEN_STATS,
        "text_quality": _SQL_QUALITY,
        "text_lang_id": _sql_lang_id(),
        "text_fingerprint": _SQL_FINGERPRINT,
        "embed_topk": _SQL_TOPK,
        "embed_lsh_buckets": _sql_lsh_buckets(),
        "embed_ann": _sql_ann(),
        "embed_near_dup": _sql_near_dup(),
        "ann_recall": _SQL_ANN_RECALL_TEMPLATE.format(
            topk=_SQL_TOPK, ann=_sql_ann()
        ),
        "multimodal_sniff": _SQL_SNIFF,
        "multimodal_frames": _SQL_FRAMES,
        **sheet_oracles(),
        **cleaning_oracles(),
        **graph_oracles(_SQL_KG_COOC, _SQL_MENTIONS, _SQL_KG_TRIPLES),
    }
