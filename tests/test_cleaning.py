"""Corpus-cleaning ops (ops/cleaning.py): crafted-fixture unit tests.

The driver oracle queries (queries_cleaning.py) prove engine-vs-DuckDB
value equality at scale; these tests pin the SEMANTICS on hand-written
rows where the expected answers are computed by eye.
"""

from __future__ import annotations

import pytest

from mhdb_tables2turtles_spark.ops import cleaning


@pytest.fixture(scope="module")
def pii_docs(spark):
    rows = [
        (1, "mail me at jo.smith+x@example.co.uk or call 555-123-4567 now"),
        (2, "server at 10.0.42.7 and 192.168.1.255 no pii otherwise"),
        (3, "plain text with nothing sensitive at all"),
        (4, "double alice@a.io bob@b.org and 1.2.3.4"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_pii_counts(pii_docs):
    got = {r.doc_id: r for r in cleaning.pii_scan(pii_docs).collect()}
    assert (got[1].n_email, got[1].n_phone, got[1].n_ipv4) == (1, 1, 0)
    assert (got[2].n_email, got[2].n_phone, got[2].n_ipv4) == (0, 0, 2)
    assert (got[3].n_email, got[3].n_phone, got[3].n_ipv4) == (0, 0, 0)
    assert (got[4].n_email, got[4].n_phone, got[4].n_ipv4) == (2, 0, 1)


def test_pii_redaction(pii_docs):
    got = {r.doc_id: r.redacted for r in cleaning.pii_scan(pii_docs).collect()}
    assert got[1] == "mail me at <EMAIL> or call <PHONE> now"
    assert got[2] == "server at <IP> and <IP> no pii otherwise"
    assert got[3] == "plain text with nothing sensitive at all"
    assert got[4] == "double <EMAIL> <EMAIL> and <IP>"


def test_repetition_stats(spark):
    docs = spark.createDataFrame(
        [
            # bigrams: "a b","b a","a b","b a","a b" -> 5 total,
            # "a b" x3, "b a" x2 -> top 3/5, dup 5/5
            (1, "a b a b a b"),
            # all 4 bigrams distinct
            (2, "v w x y z"),
            (3, "one"),  # < 2 tokens -> no row
        ],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r for r in cleaning.repetition_stats(docs).collect()}
    assert set(got) == {1, 2}
    assert got[1].n_bigrams == 5
    assert got[1].top_bigram_bp == 6000  # 3/5 in basis points
    assert got[1].dup_bigram_bp == 10000  # 5/5
    assert got[2].n_bigrams == 4
    assert got[2].top_bigram_bp == 2500  # 1/4
    assert got[2].dup_bigram_bp == 0


def test_segment_dedup(spark):
    boiler = "the quick brown fox"  # 4-token shared segment
    docs = spark.createDataFrame(
        [
            (1, boiler + " unique tail one x"),  # segs: boiler, tail
            (2, boiler + " other ending here y"),  # segs: boiler, other
            (3, "completely different words only here"),
            (4, "tiny"),  # < k tokens -> no segments -> no row
        ],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r for r in cleaning.segment_dedup(docs, k=4).collect()}
    assert set(got) == {1, 2, 3}
    assert (got[1].n_segments, got[1].n_dup_segments) == (2, 1)
    assert got[1].dup_bp == 5000  # 1/2 in basis points
    assert (got[2].n_segments, got[2].n_dup_segments) == (2, 1)
    assert (got[3].n_segments, got[3].n_dup_segments) == (1, 0)


def test_host_stats(spark):
    docs = spark.createDataFrame(
        [
            (1, "same page body", "h1"),
            (2, "same  PAGE body ", "h1"),  # normalizes equal to doc 1
            (3, "different body", "h1"),
            (4, "solo content here", "h2"),
        ],
        ["doc_id", "text", "source"],
    )
    got = {r.host: r for r in cleaning.host_stats(docs).collect()}
    assert (got["h1"].n_docs, got["h1"].n_unique_texts) == (3, 2)
    assert got["h1"].dup_bp == 3333  # 1/3 in basis points
    assert (got["h2"].n_docs, got["h2"].n_unique_texts) == (1, 1)
    assert got["h2"].dup_bp == 0
    assert got["h2"].avg_tokens_milli == 3000


def test_stratified_sample_deterministic_and_monotone(spark):
    rows = [(i, f"text {i}", f"s{i % 3}") for i in range(300)]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    full = {
        r.doc_id
        for r in cleaning.stratified_sample(
            docs, {"s0": 1.0, "s1": 0.5}, default_rate=0.0
        ).collect()
    }
    half = {
        r.doc_id
        for r in cleaning.stratified_sample(
            docs, {"s0": 0.5, "s1": 0.25}, default_rate=0.0
        ).collect()
    }
    # rate 1.0 keeps every s0 doc; rate 0.0 drops every s2 doc
    assert {i for i in range(300) if i % 3 == 0} <= full
    assert not any(i % 3 == 2 for i in full)
    # lowering a rate only removes docs, never swaps them (mix stability)
    assert half <= full
    # rerun identical
    again = {
        r.doc_id
        for r in cleaning.stratified_sample(
            docs, {"s0": 1.0, "s1": 0.5}, default_rate=0.0
        ).collect()
    }
    assert again == full


def test_pack_documents_greedy(spark):
    from mhdb_tables2turtles_spark.ops.packing import pack_documents

    def words(n):
        return " ".join(["w"] * n)

    rows = [
        (1, words(6), "g"),
        (2, words(3), "g"),   # 6+3=9 <= 10 -> pack 0
        (3, words(4), "g"),   # 9+4 > 10 -> pack 1
        (4, words(12), "g"),  # oversize: own pack 2
        (5, words(2), "g"),   # after oversize -> pack 3
        (6, words(10), "h"),  # other group packs independently
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    got = {
        r.doc_id: (r.group, r.pack_id, r.pack_fill)
        for r in pack_documents(docs, budget=10).collect()
    }
    assert got[1] == ("g", 0, 6)
    assert got[2] == ("g", 0, 9)
    assert got[3] == ("g", 1, 4)
    assert got[4] == ("g", 2, 12)
    assert got[5] == ("g", 3, 2)
    assert got[6] == ("h", 0, 10)


def test_split_documents_chunks(spark):
    from mhdb_tables2turtles_spark.ops.packing import split_documents

    docs = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(7))), (2, "a b")],
        ["doc_id", "text"],
    )
    got = {
        (r.doc_id, r.chunk_id): (r.n_chunks, r.chunk_tokens, r.chunk_text)
        for r in split_documents(docs, budget=3).collect()
    }
    assert got[(1, 1)] == (3, 3, "t0 t1 t2")
    assert got[(1, 2)] == (3, 3, "t3 t4 t5")
    assert got[(1, 3)] == (3, 1, "t6")  # remainder chunk
    assert got[(2, 1)] == (1, 2, "a b")
    assert len(got) == 4


def test_ngram_decontaminate(spark):
    # n=3 grams; eval text "c d e f" contributes grams {c d e, d e f}
    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g"),   # grams include both eval grams -> 2 hits
            (2, "x y z c d e"),     # "c d e" only -> 1 hit
            (3, "p q r s t"),       # clean
            (4, "so short"),        # < 3 tokens -> 0 grams, clean, kept
        ],
        ["doc_id", "text"],
    )
    eval_docs = spark.createDataFrame([(100, "c d e f")], ["doc_id", "text"])
    got = {
        r.doc_id: r
        for r in cleaning.ngram_decontaminate(docs, eval_docs, n=3).collect()
    }
    assert set(got) == {1, 2, 3, 4}
    assert (got[1].n_grams, got[1].n_hits, got[1].contaminated) == (5, 2, 1)
    assert (got[2].n_grams, got[2].n_hits, got[2].contaminated) == (4, 1, 1)
    assert (got[3].n_grams, got[3].n_hits, got[3].contaminated) == (3, 0, 0)
    assert (got[4].n_grams, got[4].n_hits, got[4].contaminated) == (0, 0, 0)


def test_ngram_decontaminate_empty_eval(spark):
    docs = spark.createDataFrame([(1, "a b c d")], ["doc_id", "text"])
    ev = spark.createDataFrame([], "doc_id long, text string")
    [r] = cleaning.ngram_decontaminate(docs, ev, n=2).collect()
    assert (r.n_grams, r.n_hits, r.contaminated) == (3, 0, 0)


def test_url_canonicalize(spark):
    docs = spark.createDataFrame(
        [
            (1, "HTTP://WWW.Ex.COM:80/A/b?utm_source=x&b=2&a=1#frag"),
            (2, "https://ex.com:8443"),
            (3, "http://ex.com/?utm_campaign=c&fbclid=z"),
            (4, "https://Ex.Com:443/p?z=9&a=1"),
            # '?' INSIDE the fragment is fragment text, not a query
            (5, "http://ex.com/p#sec?x=1"),
            # schemeless/opaque entries pass through unchanged (merging
            # them all to one canonical key would corrupt exact-dedup)
            (6, "page1.html?a=1"),
            (7, "mailto:user@ex.com"),
        ],
        ["doc_id", "url"],
    )
    got = {r.doc_id: r for r in cleaning.url_canonicalize(docs).collect()}
    # default port stripped, host/scheme lowered, params sorted, tracking
    # + fragment dropped
    assert got[1].canonical_url == "http://www.ex.com/A/b?a=1&b=2"
    assert got[1].host == "www.ex.com"
    # non-default port kept; empty path -> /
    assert got[2].canonical_url == "https://ex.com:8443/"
    # all params tracking -> no query string at all
    assert got[3].canonical_url == "http://ex.com/"
    assert got[4].canonical_url == "https://ex.com/p?a=1&z=9"
    assert got[5].canonical_url == "http://ex.com/p"  # no phantom query
    assert got[6].canonical_url == "page1.html?a=1"
    assert got[7].canonical_url == "mailto:user@ex.com"
    assert got[6].host is None and got[7].host is None


def test_mix_weights_temperature(spark):
    # sources with 100x token imbalance: sqrt tempering gives the small
    # source ~10x its proportional share, weights sum to ~10000 bp
    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * 400), "big") for i in range(25)]
        + [(100, " ".join(["w"] * 100), "small")],
        ["doc_id", "text", "source"],
    )
    got = {r.stratum: r for r in cleaning.mix_weights(docs).collect()}
    assert got["big"].n_tokens == 10000 and got["small"].n_tokens == 100
    # proportional shares would be 9900/99 bp; sqrt tempering: 10:1
    assert got["small"].weight_bp == 909   # 100/(1000+100) in bp
    assert got["big"].weight_bp == 9090
    assert 9998 <= got["big"].weight_bp + got["small"].weight_bp <= 10000


def test_line_repetition_crafted(spark):
    """Hand-checked line-level repetition: duplicated nav line counts
    both occurrences, whitespace-only lines ignored, char share weighs
    by line length."""
    docs = spark.createDataFrame(
        [
            (1, "nav menu\nbody text one\nnav menu\n\n   \nfooter"),
            (2, "all\nlines\nare\nunique"),
            (3, "\n \n"),  # nothing but empties -> drops out
        ],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r for r in cleaning.line_repetition_stats(docs).collect()}
    assert set(got) == {1, 2}
    r1 = got[1]
    # lines: [nav menu, body text one, nav menu, footer]
    assert r1.n_lines == 4
    assert r1.dup_line_bp == 5000          # 2 of 4 occurrences duplicated
    # chars: nav menu(8)*2=16 dup, total 16+13+6=35
    assert r1.dup_char_bp == (10000 * 16) // 35
    assert (got[2].dup_line_bp, got[2].dup_char_bp) == (0, 0)


def test_kn_bigram_lm_matches_hand_formula(spark):
    """kn_bigram_lm equals the interpolated KN formula computed in
    plain Python over the same counts, and every probability is a
    valid fixed-point value in (0, SCALE]."""
    from collections import Counter

    from mhdb_tables2turtles_spark.ops.text import LM_SCALE, kn_bigram_lm

    texts = ["a b a b a c", "a b c a b", "c a b"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    got = {
        (r["w1"], r["w2"]): (r["c12"], r["p_micro"])
        for r in kn_bigram_lm(docs, min_count=1).collect()
    }

    c12 = Counter()
    for t in texts:
        ts = t.split()
        for a, b in zip(ts, ts[1:]):
            c12[(a, b)] += 1
    c1 = Counter()
    nf1 = Counter()
    np2 = Counter()
    for (a, b), c in c12.items():
        c1[a] += c
        nf1[a] += 1
        np2[b] += 1
    T = len(c12)
    for (a, b), c in c12.items():
        expect = (LM_SCALE * ((4 * c - 3) * T + 3 * nf1[a] * np2[b])) // (
            4 * c1[a] * T
        )
        assert got[(a, b)] == (c, expect), (a, b)
        assert 0 < expect <= LM_SCALE
    # interpolated KN sums to 1 over the full vocab per context; over
    # the OBSERVED continuations it must stay strictly below SCALE for
    # a context with unseen continuations ('c' never precedes 'c')
    mass_c = sum(p for (a, _), (_, p) in got.items() if a == "c")
    assert mass_c < LM_SCALE


def test_bpe_train_matches_reference(spark):
    """bpe_train equals a plain-Python greedy BPE reference (same
    tie-break: count desc, pair string asc) on a mixed corpus."""
    from collections import Counter

    from mhdb_tables2turtles_spark.ops.bpe import bpe_train

    texts = [
        "low lower lowest low low",
        "new newer newest new",
        "wide wider widest new low",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )

    wc = Counter(w for t in texts for w in t.split())
    words = {tuple(w): n for w, n in wc.items()}
    expected = []
    for r in range(1, 6):
        pc = Counter()
        for syms, n in words.items():
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += n
        if not pc:
            break
        (a, b), c = min(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0] + "  " + kv[0][1])
        )
        expected.append((r, a, b, c))
        merged = {}
        for syms, n in words.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            merged[tuple(out)] = merged.get(tuple(out), 0) + n
        words = merged

    got = [
        tuple(r)
        for r in bpe_train(docs, n_merges=5)
        .orderBy("rank")
        .collect()
    ]
    assert got == expected


def test_bpe_merge_is_symbol_boundary_anchored(spark):
    """Regression (round-4 ADVICE): merge application must fuse only
    exact adjacent FULL symbols.  After round 1 learns (t,h) and round
    2 learns (th,e), round 3's rule (e,t) must leave 'meth' = [m, e,
    th] untouched — a substring replace on the double-space-joined
    string would corrupt it to [m, eth] (the 'e  t' pattern matches
    into the 'th' symbol), making rank 4 learn (m, eth) instead of the
    true (e, th)."""
    from mhdb_tables2turtles_spark.ops.bpe import bpe_train

    text = " ".join(["the"] * 10 + ["meth"] * 3 + ["et"] * 8)
    docs = spark.createDataFrame([(0, text)], ["doc_id", "text"])
    got = [
        tuple(r) for r in bpe_train(docs, n_merges=5).orderBy("rank").collect()
    ]
    assert got == [
        (1, "t", "h", 13),
        (2, "th", "e", 10),
        (3, "e", "t", 8),
        (4, "e", "th", 3),  # buggy replace() learned (m, eth) here
        (5, "m", "eth", 3),
    ]


def test_bpe_encode_counts(spark):
    """bpe_encode compresses: n_bpe_tokens is chars-per-word total
    minus one per applied merge occurrence, bounded by [n_words, total
    chars]; a corpus whose best merge is 'lo' must shrink 'low'."""
    from mhdb_tables2turtles_spark.ops.bpe import bpe_encode

    docs = spark.createDataFrame(
        [(0, "low low low"), (1, "low lot")], ["doc_id", "text"]
    )
    got = {
        r["doc_id"]: (r["n_words"], r["n_bpe_tokens"])
        for r in bpe_encode(docs, n_merges=1).collect()
    }
    # best pair: ('l','o') freq 5 -> 'low' = [lo, w], 'lot' = [lo, t]
    assert got == {0: (3, 6), 1: (2, 4)}


def test_cdc_dedup_shift_robust(spark):
    """The CDC property: prepending tokens to a doc re-aligns chunk
    boundaries, so shared boilerplate still dedups — where the fixed-k
    segmenter misses it after the shift.  'at' is a boundary token
    (hash60 % 8 == 0); the shared tail starts right after it."""
    from mhdb_tables2turtles_spark.ops.cleaning import cdc_dedup, segment_dedup

    boiler = "the and of to a in is it on by we or"  # no boundary tokens
    d0 = f"at {boiler}"
    d1 = f"the of in at {boiler}"  # 3-token prefix shifts everything
    docs = spark.createDataFrame(
        [(0, d0), (1, d1)], ["doc_id", "text"]
    )
    cdc = {r["doc_id"]: r["n_dup_chunks"] for r in cdc_dedup(docs).collect()}
    # both docs share the post-'at' boilerplate chunk
    assert cdc[0] >= 1 and cdc[1] >= 1
    seg = {
        r["doc_id"]: r["n_dup_segments"]
        for r in segment_dedup(docs, k=4).collect()
    }
    assert seg[0] == 0 and seg[1] == 0  # fixed strides misalign


def test_bpe_degenerate_corpus_parity(spark, tmp_path):
    """A corpus whose vocabulary runs out of adjacent pairs BEFORE
    n_merges rounds (every word a single symbol): bpe_train breaks and
    returns fewer rules; bpe_encode still emits one row per doc with
    n_bpe_tokens == n_words.  The DuckDB oracles must mirror both — a
    cross join against the empty best-pair table used to wipe the word
    table (zero encode rows); the LEFT JOIN fold keeps it intact."""
    import duckdb
    import pandas as pd

    from mhdb_tables2turtles_spark.ops.bpe import bpe_encode, bpe_train
    from mhdb_tables2turtles_spark.queries_cleaning import (
        _SQL_BPE,
        _SQL_BPE_ENCODE,
    )

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": ["a b c", "a a b", "c c c c"],
            "lang": ["en"] * 3,
            "source": ["t"] * 3,
            "n_chars": [5, 5, 7],
        }
    )
    pq = str(tmp_path / "documents.parquet")
    pdf.to_parquet(pq)
    docs = spark.read.parquet(pq)

    assert bpe_train(docs, n_merges=5).count() == 0
    enc_s = sorted(
        (r["doc_id"], r["n_words"], r["n_bpe_tokens"])
        for r in bpe_encode(docs, n_merges=5).collect()
    )
    assert enc_s == [(1, 3, 3), (2, 3, 3), (3, 4, 4)]

    con = duckdb.connect()
    con.execute(
        f"create view documents as select * from read_parquet('{pq}')"
    )
    assert len(con.execute(_SQL_BPE).df()) == 0
    enc_o = sorted(
        map(tuple, con.execute(_SQL_BPE_ENCODE).df().values.tolist())
    )
    assert enc_o == enc_s
