"""CLI driver (`python -m mhdb_tables2turtles_spark` / spark-submit shim).

The north rule's deployment shape is spark-submit with --py-files; the
CLI must therefore (a) not force a master when none is given (the
cluster manager's wins), (b) run the full staged pipeline, and (c)
resume from committed stages on re-invocation.
"""

import json
from conftest import GOLDEN_TTL, requires

from mhdb_tables2turtles_spark.__main__ import build_session, main


def _run(capsys, argv):
    rc = main(argv)
    out = capsys.readouterr().out.strip().splitlines()
    return rc, json.loads(out[-1])


def test_cli_synthesize_and_resume(spark, tmp_path, capsys, onto_ttl):
    argv = [
        "--synthesize",
        "60",
        "--workdir",
        str(tmp_path / "kg"),
        "--vocab-ttl",
        onto_ttl,
        "--count",
        "--ttl",
    ]
    rc, summary = _run(capsys, argv)
    assert rc == 0
    assert set(summary["stages"]) == {
        "extract",
        "triples",
        "canonical",
    }
    assert summary["stages"]["extract"]["rows"] == 60
    assert summary["canonical_triples"] > 0
    assert (tmp_path / "kg" / "ttl" / "header.ttl").exists()

    # second invocation resumes: stage manifests are reused verbatim
    rc2, summary2 = _run(capsys, argv)
    assert rc2 == 0
    assert summary2["stages"] == summary["stages"]
    assert summary2["canonical_triples"] == summary["canonical_triples"]


def test_cli_reads_parquet_input(spark, tmp_path, capsys, onto_ttl):
    from mhdb_tables2turtles_spark.web.pipeline import build_corpus

    src = str(tmp_path / "pages")
    build_corpus(spark, 40, seed=7, ttl_path=onto_ttl).write.parquet(src)
    rc, summary = _run(
        capsys,
        ["--input", src, "--workdir", str(tmp_path / "kg2"),
         "--vocab-ttl", onto_ttl],
    )
    assert rc == 0
    assert summary["stages"]["extract"]["rows"] == 40
    assert "canonical_triples" not in summary  # no --count: no extra job


def test_cli_web_mode_requires_vocab_ttl(tmp_path, monkeypatch):
    # no default ontology: web mode without --vocab-ttl is a usage error
    # raised before any Spark session is built
    import pytest

    import mhdb_tables2turtles_spark.__main__ as cli

    def no_session(args):
        raise AssertionError("a Spark session was requested")

    monkeypatch.setattr(cli, "build_session", no_session)
    with pytest.raises(SystemExit, match="--vocab-ttl"):
        cli.main(["--synthesize", "5", "--workdir", str(tmp_path / "kg")])


def test_cli_no_master_flag_defers_to_submitter(spark):
    # with no --master the builder must not pin one — under spark-submit
    # the cluster manager's master applies; here getOrCreate returns the
    # active (test) session untouched
    import argparse

    ns = argparse.Namespace(master=None, shuffle_partitions=None)
    assert build_session(ns) is spark


@requires(GOLDEN_TTL)
def test_cli_workbooks_run_all(spark, tmp_path, capsys):
    # the reference's run_all driver path: all six workbook plans -> ttl
    out = tmp_path / "ttl"
    rc, summary = _run(capsys, ["--workbooks", str(out)])
    assert rc == 0
    wb = summary["workbooks"]
    assert set(wb) == {
        "states", "disorders", "resources", "assessments", "measures",
        "chills",
    }
    for name, info in wb.items():
        assert (out / f"{name}.ttl").exists()
        assert info["n_triples"] > 0
    # chills is the golden pipeline: parse the written file and score
    from mhdb_tables2turtles_spark.sources.golden import (
        load_golden_triples,
        parse_turtle_body,
    )

    ours = set(parse_turtle_body((out / "chills.ttl").read_text()))
    golden = load_golden_triples(GOLDEN_TTL)
    assert len(ours & golden) / len(golden) >= 0.99


def test_cli_update_batch_epoch(spark, tmp_path, capsys, onto_ttl):
    from mhdb_tables2turtles_spark.web.pipeline import build_corpus

    wd = str(tmp_path / "kgu")
    # base crawl via the CLI
    rc, base = _run(
        capsys,
        ["--synthesize", "20", "--workdir", wd, "--vocab-ttl", onto_ttl],
    )
    assert rc == 0 and base["epochs"] == []

    # a re-crawl batch lands as parquet, applied via --update-batch
    drop = str(tmp_path / "drop")
    build_corpus(spark, 30, seed=2, ttl_path=onto_ttl).limit(8).write.parquet(
        drop
    )
    rc, upd = _run(
        capsys,
        ["--input", drop, "--workdir", wd, "--update-batch", "b1", "--count",
         "--vocab-ttl", onto_ttl],
    )
    assert rc == 0
    assert upd["epochs"] == ["b1"]
    assert "components_b1" in upd["stages"]
    assert upd["stages"]["triples_epochs"]["rows"] > 0
    assert upd["canonical_triples"] > 0
