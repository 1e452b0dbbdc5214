#!/usr/bin/env python3
"""Scaling evidence: run the identical end-to-end KG pipeline job at two
parallelism levels (default local[2] vs local[8], N vs 4N cores) and
print throughput at both plus scaling efficiency as a Markdown report,
followed by one JSON line.  Nothing is written to the repository.

Single-machine stand-in for the north rule's "N vs 4N executors on a
cluster".  One JVM per run: each measurement executes in a fresh
subprocess.

The vocabulary is the in-repo ontology (``tests/data/ontology.ttl``, 40
entities), so the numbers are not comparable with the 32-core
campaigns in ``BENCH/BASELINE.md``, which used the reference's chills
vocabulary.

Methodology notes (shared machines have minutes-long external load/IO
noise windows — single measurements swing 5-10x):

* runs ALTERNATE between the two configs so a noise
  window hits both, and the per-config minimum over all reps is scored;
* stage outputs and the corpus live on tmpfs (/dev/shm) so the measured
  section evidences compute scaling, not one local disk's queue — on a
  real cluster stage I/O is distributed storage;
* the corpus is large enough (default 50k pages, ~5 KB text each) that
  per-page work dominates fixed stage overhead.

Weak-scaling mode (``SPARK_GRAFT_SCALE_MODE=weak``): the page count
scales WITH the core count (4x pages at 4x cores), so per-core work is
constant — this separates compute scaling from fixed per-stage overhead
(job scheduling + stage commit).  Ideal weak scaling = equal elapsed at
both configs; efficiency = T_N / T_4N.  Strong mode (the default) runs
the same input at both configs; efficiency = speedup / (4N / N).

Usage:
    python scripts/scaling_bench.py            # full interleaved run + report
    python scripts/scaling_bench.py --one 8 /dev/shm/corpus   # single run
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
N_PAGES = int(os.environ.get("SPARK_GRAFT_SCALE_PAGES", "50000"))
CONFIGS = tuple(
    int(x)
    for x in os.environ.get("SPARK_GRAFT_SCALE_CONFIGS", "2,8").split(",")
)
REPS = int(os.environ.get("SPARK_GRAFT_SCALE_REPS", "2"))
# "strong": same input at both configs.  "weak": pages scale with cores
# (N_PAGES at min(CONFIGS), proportionally more at the larger config).
MODE = os.environ.get("SPARK_GRAFT_SCALE_MODE", "strong")
ONTOLOGY = os.path.join(REPO, "tests", "data", "ontology.ttl")
FAST_DIR = "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir()


def pages_for(cpus: int) -> int:
    if MODE == "weak":
        return N_PAGES * cpus // min(CONFIGS)
    return N_PAGES


def build_scale_spark(cpus: int):
    """Session builder for the N-vs-4N emulation — same knobs as
    ``bench.build_spark`` EXCEPT the two that must scale with the
    emulated executor count:

    * ``spark.sql.shuffle.partitions = cpus * 4`` with NO floor — on a
      real cluster 4N executors give 4x shuffle parallelism; bench.py's
      ``max(cpus*2, 8)`` floor (right for the fixed-sf query catalog)
      silently made the local[2] config run its data over MORE
      partitions per core than local[8], i.e. 2x the per-partition rows
      at the large config.  Weak scaling demands constant per-partition
      work.
    * ``spark.driver.memory = 3g * cpus`` — aggregate cluster memory
      grows with executor count; a fixed single-JVM heap forces the 4x
      data config through 4x the GC pressure, which no cluster story
      includes.  (Round-4 measured the fixed-heap form at 0.71-0.79
      weak efficiency with the `linked`/`triples` shuffle stages as the
      bottleneck; see BENCH/BASELINE.md.)
    """
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("mhdb-tables2turtles-spark-scaling")
        .config("spark.sql.shuffle.partitions", str(cpus * 4))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", f"{3 * cpus}g")
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.sql.files.openCostInBytes", "1m")
        .getOrCreate()
    )


def run_one(cpus: int, corpus_path: str) -> dict:
    sys.path.insert(0, REPO)
    from mhdb_tables2turtles_spark.web.pipeline import KGPipeline, build_corpus

    n_pages = pages_for(cpus)
    spark = build_scale_spark(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    if not os.path.exists(os.path.join(corpus_path, "_SUCCESS")):
        build_corpus(
            spark, n_pages, seed=42, ttl_path=ONTOLOGY, partitions=128
        ).write.mode("overwrite").parquet(corpus_path)
    pages = spark.read.parquet(corpus_path)

    workdir = tempfile.mkdtemp(prefix=f"scale_{cpus}_", dir=FAST_DIR)
    t0 = time.time()
    pipe = KGPipeline(spark, workdir, ttl_path=ONTOLOGY)
    out = pipe.run(pages)
    n_triples = out["canonical"].count()
    elapsed = time.time() - t0
    stage_secs = {
        s: pipe.staged.manifest(s).get("elapsed_sec")
        for s in ("extract", "triples", "canonical")
        if pipe.staged.is_committed(s)
    }
    shutil.rmtree(workdir, ignore_errors=True)
    spark.stop()
    return {
        "cpus": cpus,
        "n_pages": n_pages,
        "elapsed_sec": round(elapsed, 2),
        "pages_per_sec": round(n_pages / elapsed, 1),
        "n_triples": n_triples,
        "stages": stage_secs,
    }


def main() -> None:
    if len(sys.argv) >= 3 and sys.argv[1] == "--one":
        corpus = sys.argv[3] if len(sys.argv) > 3 else os.path.join(FAST_DIR, "scale_corpus")
        print("RESULT " + json.dumps(run_one(int(sys.argv[2]), corpus)))
        return

    corpus_base = tempfile.mkdtemp(prefix="scale_corpus_", dir=FAST_DIR)
    # weak mode: each config reads its OWN corpus (4x pages at 4x cores)
    corpus_of = {
        c: os.path.join(
            corpus_base, "corpus" if MODE != "weak" else f"corpus_{c}"
        )
        for c in CONFIGS
    }
    runs: dict[int, list[dict]] = {c: [] for c in CONFIGS}
    try:
        for _ in range(REPS):
            for cpus in CONFIGS:  # interleave so noise windows hit both
                proc = subprocess.run(
                    [
                        sys.executable,
                        os.path.abspath(__file__),
                        "--one",
                        str(cpus),
                        corpus_of[cpus],
                    ],
                    capture_output=True,
                    text=True,
                    cwd=REPO,
                    timeout=4000,
                    env={**os.environ, "SPARK_GRAFT_SCALE_PAGES": str(N_PAGES)},
                )
                lines = [
                    l for l in proc.stdout.splitlines() if l.startswith("RESULT ")
                ]
                if not lines:
                    sys.stderr.write(proc.stdout[-2000:] + proc.stderr[-4000:])
                    raise SystemExit(f"run at local[{cpus}] failed")
                runs[cpus].append(json.loads(lines[-1][len("RESULT "):]))
    finally:
        shutil.rmtree(corpus_base, ignore_errors=True)

    best = {c: min(rs, key=lambda r: r["elapsed_sec"]) for c, rs in runs.items()}
    lo, hi = min(CONFIGS), max(CONFIGS)
    weak = MODE == "weak"
    # ideal speedup: equal elapsed under weak scaling (constant per-core
    # work), hi/lo under strong scaling (same input)
    ideal = 1 if weak else hi / lo
    eff = best[lo]["elapsed_sec"] / best[hi]["elapsed_sec"] / ideal

    # noise-robust estimator: external load windows pollute individual
    # stages independently, so the sum of per-stage minima across reps
    # estimates each config's quiet-window capability
    stage_names = ("extract", "triples", "canonical")
    stage_min = {
        c: {
            s: min(r["stages"].get(s, float("inf")) for r in rs)
            for s in stage_names
        }
        for c, rs in runs.items()
    }
    qt = {c: sum(stage_min[c].values()) for c in CONFIGS}
    eff_q = qt[lo] / qt[hi] / ideal

    heading = (
        f"Weak scaling: {hi // lo}x pages at {hi // lo}x cores"
        if weak
        else f"Strong scaling: {N_PAGES} pages at both configs"
    )
    print(
        f"""
## {heading} (local[{lo}] vs local[{hi}])

End-to-end KG pipeline (extract → triples, linking inside the triples
write → canonical, every stage committed) over a pre-materialized synthetic
corpus (seed 42) built from `tests/data/ontology.ttl`.  Runs alternate
between configs; each config's best of {REPS} is scored; stage I/O on
tmpfs.

| config | pages | elapsed (s) | pages/sec | triples | all reps |
|---|---|---|---|---|---|
"""
        + "".join(
            f"| local[{c}] ({tag}) | {best[c]['n_pages']} |"
            f" {best[c]['elapsed_sec']} | {best[c]['pages_per_sec']} |"
            f" {best[c]['n_triples']} |"
            f" {', '.join(str(r['elapsed_sec']) + 's' for r in runs[c])} |\n"
            for c, tag in ((lo, "N"), (hi, f"{hi // lo}N"))
        )
        + f"""
**Scaling efficiency ({lo} → {hi} cores, ideal speedup {ideal:g}x):
best-total {eff:.3f}; per-stage minima {eff_q:.3f}** (target >= 0.8)

Per-stage seconds (minimum across reps per config):

| stage | local[{lo}] | local[{hi}] |
|---|---|---|
"""
        + "".join(
            f"| {s} | {stage_min[lo][s]} | {stage_min[hi][s]} |\n"
            for s in stage_names
        )
        + "".join(
            f"\nQuiet-window total local[{c}]: {qt[c]:.1f}s"
            f" ({best[c]['n_pages'] / qt[c]:.0f} pages/s)."
            for c in (lo, hi)
        )
        + f"""

Reproduce: `SPARK_GRAFT_SCALE_MODE={MODE} SPARK_GRAFT_SCALE_PAGES={N_PAGES} \
SPARK_GRAFT_SCALE_CONFIGS={lo},{hi} SPARK_GRAFT_SCALE_REPS={REPS} \
python scripts/scaling_bench.py`
"""
    )
    print(
        json.dumps(
            {
                "mode": MODE,
                "efficiency": round(eff, 3),
                "efficiency_quiet": round(eff_q, 3),
                "quiet_totals": qt,
                "local_lo": best[lo],
                "local_hi": best[hi],
            }
        )
    )


if __name__ == "__main__":
    main()
