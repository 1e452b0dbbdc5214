"""Mirror of the driver's correctness gate, run at sf0.001: every
queries() entry executes, and every oracle_sql() entry matches the Spark
result (row count + column names + order-insensitive values)."""

from __future__ import annotations

import math

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.001"
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"create view {t} as select * from '{SF_DIR}/{t}.parquet'"
        )
    return con


def _norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.6f}"
    return str(v)


def _canon(rows, columns):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(
        tuple(_norm_cell(r[i]) for i in order) for r in rows
    )


ALL = sorted(entry_mod.queries())


@pytest.mark.parametrize("name", ALL)
def test_query_runs_and_matches_oracle(spark, ddb, name):
    q = entry_mod.queries()[name]
    df = q(spark, SF_DIR)
    cols = df.columns
    rows = [tuple(r) for r in df.collect()]
    assert rows is not None

    sql = entry_mod.oracle_sql().get(name)
    if sql is None:
        return  # rows-only contract
    res = ddb.execute(sql)
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    assert sorted(cols) == sorted(ocols), f"{name}: column names differ"
    assert len(rows) == len(orows), f"{name}: row count {len(rows)} != {len(orows)}"
    a = _canon(rows, cols)
    b = _canon(orows, ocols)
    mismatches = [i for i, (x, y) in enumerate(zip(a, b)) if x != y][:3]
    assert a == b, f"{name}: value mismatch at {mismatches}: " + "; ".join(
        f"{a[i]} != {b[i]}" for i in mismatches
    )


@pytest.mark.parametrize("name", ALL)
def test_query_output_columns_are_scalar(spark, name):
    """Driver-canonicalizer contract: every output column must be a
    scalar type.  The driver hashes results by sorting rows through
    pandas ``sort_values``, which cannot factorize list/map/struct
    cells — kg_named_graphs' ArrayType column silently violated this
    in round 4 (`TypeError: unhashable type: 'list'`) even though its
    values were correct.  Emit arrays as sorted concat_ws strings."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    df = entry_mod.queries()[name](spark, SF_DIR)
    bad = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    assert not bad, (
        f"{name}: non-scalar output columns {bad} — the driver gate "
        "cannot hash these; stringify (concat_ws on a sort_array) instead"
    )


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert df.columns == ["subject", "predicate", "object"]


def test_bench_queries_are_catalog_names():
    """bench.py times every BENCH_QUERIES name once: a renamed or
    duplicated entry would otherwise surface only minutes into a run."""
    import bench
    from mhdb_tables2turtles_spark.queries import QUERIES

    names = bench.BENCH_QUERIES
    assert sorted(set(names) - set(QUERIES)) == []
    assert len(set(names)) == len(names)


def test_staleness_counts_only_value_green_rows(tmp_path):
    """A driver row with rows_match=true but hash_match=false is a
    VALUE BUG, not a green check: the query must keep staleness -1 so
    the next capped gate re-verifies it.  rows_match counts only when
    hash_match is absent/null (rows-only checks without an oracle)."""
    import json

    from __spark_entry__ import _driver_staleness

    (tmp_path / "CORRECTNESS_r07.json").write_text(
        json.dumps(
            {
                "green": {
                    "rows_match": True,
                    "schema_match": True,
                    "hash_match": True,
                    "err": None,
                },
                "value_bug": {
                    "rows_match": True,
                    "schema_match": True,
                    "hash_match": False,
                    "err": None,
                },
                "rows_only": {
                    "rows_match": True,
                    "schema_match": True,
                    "hash_match": None,
                    "err": None,
                },
                "errored": {
                    "rows_match": False,
                    "schema_match": False,
                    "hash_match": False,
                    "err": "boom",
                },
            }
        ),
        encoding="utf-8",
    )
    last = _driver_staleness(str(tmp_path))
    assert last.get("green") == 7
    assert last.get("rows_only") == 7
    assert "value_bug" not in last
    assert "errored" not in last
