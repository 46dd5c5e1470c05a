import datetime

import pytest

import pyspark.sql.functions as F

from hepcrawl_spark.operators import dedup as D

TS = datetime.datetime


def _frontier(spark):
    return spark.createDataFrame(
        [
            ("u1", TS(2024, 1, 2)),   # unseen -> keep
            ("u2", TS(2024, 1, 2)),   # seen older -> keep (re-crawl)
            ("u3", TS(2024, 1, 2)),   # seen newer -> drop
            ("u4", TS(2024, 1, 2)),   # seen equal -> drop (new_ts must be >)
        ],
        "url string, warc_ts timestamp",
    )


def _seen(spark):
    return spark.createDataFrame(
        [
            ("u2", TS(2024, 1, 1)),
            ("u3", TS(2024, 1, 3)),
            ("u4", TS(2024, 1, 2)),
        ],
        "url string, last_ts timestamp",
    )


def test_crawl_once_gate_semantics(spark):
    out = D.crawl_once_gate(_frontier(spark), _seen(spark))
    assert {r["url"] for r in out.collect()} == {"u1", "u2"}


def test_crawl_once_gate_with_prefilter_matches_exact(spark):
    from hepcrawl_spark.operators.bloom import (
        build_bloom_sharded,
        sharded_might_contain_udf,
    )

    fr, seen = _frontier(spark), _seen(spark)
    sb = build_bloom_sharded(
        seen.select(F.xxhash64("url").alias("url_hash")), n_items=3, n_shards=4
    )
    probe = sharded_might_contain_udf(spark, sb)
    out = D.crawl_once_gate(
        fr.withColumn("_m", probe(F.xxhash64("url"))),
        seen,
        might_be_seen=F.col("_m"),
    )
    assert {r["url"] for r in out.collect()} == {"u1", "u2"}


def test_exact_dedup(spark):
    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "A  b C"), (3, "unique text")],
        "doc_id long, text string",
    )
    out = {r["keep_id"]: r["dup_count"] for r in D.exact_dedup(docs).collect()}
    assert out == {1: 2, 3: 1}  # 1 and 2 normalize identically


def test_ngram_jaccard_identical_docs(spark):
    docs = spark.createDataFrame(
        [(1, "w1 w2 w3 w4 w5"), (2, "w1 w2 w3 w4 w5"), (3, "x1 x2 x3 x4 x5")],
        "doc_id long, text string",
    )
    pairs = D.ngram_jaccard_pairs(docs, threshold=0.99).collect()
    assert [(p["id_a"], p["id_b"]) for p in pairs] == [(1, 2)]
    assert pairs[0]["jaccard"] == 1.0


def test_minhash_lsh_superset_of_exact_dups(spark):
    docs = spark.createDataFrame(
        [(1, "w1 w2 w3 w4 w5 w6"), (2, "w1 w2 w3 w4 w5 w6"), (3, "z1 z2 z3 z4 z5 z6")],
        "doc_id long, text string",
    )
    cands = {(r["id_a"], r["id_b"]) for r in D.minhash_lsh_candidates(docs).collect()}
    assert (1, 2) in cands
    assert (1, 3) not in cands  # disjoint shingle sets never bucket together


def test_simhash_identical_and_different(spark):
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, "delta eps zeta")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r["simhash"] for r in D.simhash(docs).collect()}
    assert rows[1] == rows[2]
    assert rows[1] != rows[3]


def test_dedup_by_key_deterministic(spark):
    df = spark.createDataFrame(
        [("k1", "b"), ("k1", "a"), ("k2", "z")], "k string, v string"
    )
    out = {(r["k"], r["v"]) for r in D.dedup_by_key(df, "k", "v").collect()}
    assert out == {("k1", "a"), ("k2", "z")}


def test_dedup_by_key_tiebreak(spark):
    from hepcrawl_spark.operators.dedup import dedup_by_key

    df = spark.createDataFrame(
        [("k", 1, "b"), ("k", 1, "a"), ("k", 2, "c"), ("j", 5, "z")],
        "key string, ord int, tb string",
    )
    # without a tiebreak, (key, min-ord) ties are ALL kept (documented)
    assert dedup_by_key(df, "key", "ord").count() == 3
    rows = dedup_by_key(df, "key", "ord", tiebreak="tb").orderBy("key").collect()
    assert [(r["key"], r["ord"], r["tb"]) for r in rows] == [
        ("j", 5, "z"), ("k", 1, "a")
    ]


def test_value_dict_shaping(spark):
    import pyspark.sql.functions as F

    from hepcrawl_spark.functions import shaping as SH

    df = spark.createDataFrame([(["a", "b"],)], "vals array<string>")
    r = df.select(
        SH.list_to_value_dicts("vals").alias("v"),
        SH.free_keywords("vals", source="classifier").alias("k"),
        SH.classification_numbers("vals").alias("c"),
    ).collect()[0]
    assert [d.asDict() for d in r["v"]] == [{"value": "a"}, {"value": "b"}]
    assert [d.asDict() for d in r["k"]] == [
        {"source": "classifier", "value": "a"},
        {"source": "classifier", "value": "b"},
    ]
    assert [d.asDict() for d in r["c"]] == [
        {"standard": "PACS", "classification_number": "a"},
        {"standard": "PACS", "classification_number": "b"},
    ]


def test_record_features_fused_matches_columns(spark):
    """The one-Arrow-pass record_features must be bit-equal to the
    column-expression forms on real testdata (incl. empty/multispace
    edges via the synthetic corpus)."""
    import pyspark.sql.functions as F

    from hepcrawl_spark.operators import textstats as X
    from hepcrawl_spark.sources.pages import synthesize_corpus
    from tests.conftest import SF_MED

    docs = spark.read.parquet(f"{SF_MED}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("url"), "text"
    )
    corp = synthesize_corpus(spark, n_pages=500, n_hosts=8, links_per_page=3).select(
        "url", "text"
    )
    edge = spark.createDataFrame(
        [
            ("e1", ""),
            ("e2", "  the   of  "),
            ("e3", "of the"),
            ("e4", "x"),
            # null body must propagate (null stats, null fingerprint) — a
            # round-2 ADVICE repro aborted the whole task on t=None
            ("e5", None),
        ],
        "url string, text string",
    )
    for df in (docs, corp, edge):
        want = {
            r["url"]: (r["a"], r["b"], r["c"], r["d"])
            for r in df.select(
                "url",
                X.token_count_ws("text").alias("a"),
                X.token_count_bpe_ish("text").alias("b"),
                F.round(X.english_score("text"), 4).alias("c"),
                X.fingerprint("text").alias("d"),
            ).collect()
        }
        got = {
            r["url"]: (r["n_tokens"], r["n_pieces"], r["en_score"], r["fingerprint"])
            for r in X.record_features(df).collect()
        }
        assert got == want


def test_lsh_max_bucket_size_guard(spark):
    """A degenerate corpus (identical text) puts all docs in one bucket per
    band; the cap drops those buckets so the self-join output is bounded."""
    from hepcrawl_spark.operators.dedup import minhash_lsh_candidates

    docs = spark.createDataFrame(
        [(i, "same boilerplate text everywhere always") for i in range(40)]
        + [(100, "a genuinely different document body"),
           (101, "a genuinely different document body")],
        "doc_id long, text string",
    )
    uncapped = minhash_lsh_candidates(docs, num_hashes=8, bands=4)
    assert uncapped.count() >= 40 * 39 // 2  # quadratic blowup
    capped = minhash_lsh_candidates(docs, num_hashes=8, bands=4, max_bucket_size=8)
    pairs = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert (100, 101) in pairs          # small buckets survive
    assert len(pairs) <= 8 * 8 * 4      # every bucket bounded at cap^2
    assert not any(a < 40 and b < 40 for a, b in pairs)


def test_simhash_candidates_hamming_and_recall(spark):
    """Band pigeonhole: pairs within hamming <= bands-1 are always found;
    the hamming column is exact bit distance of the x4 fingerprints."""
    from hepcrawl_spark.operators.dedup import simhash, simhash_candidates

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon ") * 2
    docs = spark.createDataFrame(
        [(0, base), (1, base + "phi"), (2, base + "chi psi"),
         (3, "completely unrelated words " * 8)],
        "doc_id long, text string",
    )
    fps = {r["doc_id"]: r["simhash"] for r in simhash(docs, bits=32).collect()}
    got = {(r["id_a"], r["id_b"]): r["hamming"]
           for r in simhash_candidates(docs, bits=32, bands=4, max_hamming=3).collect()}
    for (a, b), h in got.items():
        assert h == bin(fps[a] ^ fps[b]).count("1") and h <= 3
    # every true pair with hamming <= 3 must be present (pigeonhole recall)
    import itertools
    for a, b in itertools.combinations(sorted(fps), 2):
        if bin(fps[a] ^ fps[b]).count("1") <= 3:
            assert (a, b) in got


def test_repetition_features(spark):
    from hepcrawl_spark.operators.textstats import repetition_features

    docs = spark.createDataFrame(
        [
            (1, "a\nb\na\n\n  \nc"),     # 'a' repeats; blanks dropped
            (2, "x\ny\nz"),               # no repetition
            (3, None),                    # null text -> null stats
            (4, "\n \n"),                 # only blanks -> null stats
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in repetition_features(docs).collect()}
    r1 = got[1]
    assert (r1["n_lines"], r1["n_unique_lines"]) == (4, 3)
    assert r1["dup_line_frac"] == 0.5            # 2 of 4 lines repeated
    assert r1["dup_char_frac"] == 0.5            # 'a'+'a' of a,b,a,c
    assert got[2]["dup_line_frac"] == 0.0
    assert got[3]["n_lines"] is None and got[4]["n_lines"] is None
    assert set(got) == {1, 2, 3, 4}


def test_ngram_repetition_features(spark):
    from hepcrawl_spark.operators.textstats import ngram_repetition_features

    docs = spark.createDataFrame(
        [
            (1, "ab cd ab cd ab"),   # bigrams: 'ab cd'x2, 'cd ab'x2
            (2, "p q r s"),          # all bigrams unique
            (3, "solo"),             # < n tokens -> null stats
            (4, None),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in ngram_repetition_features(docs, n=2).collect()}
    # doc 1: grams {ab cd:2, cd ab:2}, chars each 4*2=8, total 16
    # top = min gram at max cnt = 'ab cd' -> 8/16; dup = 16/16
    assert got[1]["top_ngram_char_frac"] == 0.5
    assert got[1]["dup_ngram_char_frac"] == 1.0
    assert got[2]["dup_ngram_char_frac"] == 0.0
    assert got[2]["top_ngram_char_frac"] == pytest.approx(1 / 3, abs=1e-6)
    assert got[3]["top_ngram_char_frac"] is None
    assert got[4]["top_ngram_char_frac"] is None


def test_decontamination(spark):
    from hepcrawl_spark.operators.dedup import decontaminate

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over dogs")],
        "bench_id long, text string",
    )
    docs = spark.createDataFrame(
        [
            (1, "intro text then the quick brown fox jumps over dogs and more tail"),
            (2, "the quick brown cat sits quietly nearby today"),  # partial overlap
            (3, "entirely unrelated content about spark plans"),
        ],
        "doc_id long, text string",
    )
    clean = {r["doc_id"] for r in decontaminate(docs, bench, threshold=0.5).collect()}
    assert clean == {2, 3}  # doc 1 contains the whole benchmark
    # strict threshold keeps everything but exact containment
    strict = {r["doc_id"] for r in decontaminate(docs, bench, threshold=1.01).collect()}
    assert strict == {1, 2, 3}
    # df-cap variant still catches the containment (shingles are rare here)
    capped = {r["doc_id"] for r in decontaminate(
        docs, bench, threshold=0.5, max_shingle_df=5).collect()}
    assert capped == {2, 3}


def test_paragraph_dedup_keep_first_and_reassembly(spark):
    from hepcrawl_spark.operators.dedup import paragraph_dedup

    docs = spark.createDataFrame(
        [
            (1, "alpha one\n\nCOMMON FOOTER\n\nunique-a"),
            (2, "beta two\n\nCOMMON FOOTER"),
            (3, "COMMON FOOTER\n\n  \n\ngamma three"),   # blank para dropped
            (4, ""),                                      # paragraph-less doc
            (5, "dup-in-doc\n\ndup-in-doc"),              # within-doc dup: kept
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in paragraph_dedup(docs).collect()}
    assert len(out) == 5
    # footer survives only in the smallest-id document, original order kept
    assert out[1]["text"] == "alpha one\n\nCOMMON FOOTER\n\nunique-a"
    assert out[2]["text"] == "beta two"
    assert out[3]["text"] == "gamma three"
    assert (out[2]["n_paragraphs"], out[2]["n_dropped"]) == (2, 1)
    assert (out[3]["n_paragraphs"], out[3]["n_dropped"]) == (2, 1)
    # empty doc survives the left join with empty text
    assert (out[4]["text"], out[4]["n_paragraphs"], out[4]["n_dropped"]) == ("", 0, 0)
    # a paragraph duplicated WITHIN one doc is cross-doc-unique: both kept
    assert out[5]["text"] == "dup-in-doc\n\ndup-in-doc"
    assert out[5]["n_dropped"] == 0


def test_gopher_rules_verdicts(spark):
    from hepcrawl_spark.operators.textstats import gopher_rules

    good = " ".join(f"word{i} the quick brown" for i in range(20))  # 80 words
    docs = spark.createDataFrame(
        [
            (1, good),
            (2, "too short"),
            (3, good + "\n" + "\n".join(f"- item {i}" for i in range(30))),
            (4, good + "\nwait for it...\nnearly there...\nnot yet..."
                + "".join("\nplain line" for _ in range(1))),
            (5, " ".join("12345 67890" for _ in range(40))),  # no alpha words
            (6, None),
            (7, "   "),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in gopher_rules(docs).collect()}
    assert out[1]["passes"] is True
    assert out[2]["passes"] is False and out[2]["ok_words"] is False
    # 30 bullet lines out of ~31 non-blank lines > 0.9
    assert out[3]["ok_bullets"] is False and out[3]["passes"] is False
    # 3 of 5 lines end in ellipsis > 0.3
    assert out[4]["ok_ellipsis"] is False
    assert out[5]["ok_alpha"] is False
    # null/blank text: zero words, every null check coalesces to False
    for d in (6, 7):
        assert out[d]["n_words"] == 0 and out[d]["passes"] is False


def test_verify_jaccard_equals_exact_on_candidates(spark):
    """The LSH verify step must compute the SAME jaccard as the exact
    all-pairs operator, restricted to the candidate set — and kill false
    candidates below threshold."""
    from hepcrawl_spark.operators.dedup import (
        minhash_lsh_candidates,
        ngram_jaccard_pairs,
        verify_jaccard_pairs,
    )

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .filter("doc_id < 120")
        .select("doc_id", "text")
    )
    cands = minhash_lsh_candidates(docs, num_hashes=8, bands=4)
    cand_set = {(r["id_a"], r["id_b"]) for r in cands.collect()}
    ver = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
        for r in verify_jaccard_pairs(docs, cands, threshold=0.3).collect()
    }
    exact = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
        for r in ngram_jaccard_pairs(docs, threshold=0.3).collect()
    }
    expected = {p: j for p, j in exact.items() if p in cand_set}
    assert ver == expected


def test_substring_dedup_first_occurrence_wins(spark):
    """Lee et al. 2022 exact substring pass (cf. the reference's record-at-
    a-time dedup in middlewares.py, which has no substring analogue): every
    duplicated W-token run is kept only at its smallest (doc, pos)."""
    from hepcrawl_spark.operators.dedup import substring_dedup

    words = lambda a, b: " ".join(f"w{i}" for i in range(a, b))
    docs = spark.createDataFrame(
        [
            (1, words(0, 30)),                            # owns the shared run
            (2, words(0, 22) + " " + words(100, 110)),    # shares tokens 0..21
            (3, "unique " + words(200, 230)),             # no overlap
            (4, "short doc"),                             # < W tokens
            (5, words(300, 320) + " mid " + words(300, 320)),  # self-repeat
            (6, "   "),                                   # whitespace-only
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in substring_dedup(docs, window=20, rebuild_text=True).collect()
    }
    # owner doc: nothing flagged, text unchanged
    assert (out[1]["n_dup_positions"], out[1]["n_removed_tokens"]) == (0, 0)
    assert out[1]["text"] == words(0, 30)
    # 22 shared leading tokens -> gram starts 0..2 flagged, union covers 22
    assert (out[2]["n_tokens"], out[2]["n_dup_positions"]) == (32, 3)
    assert out[2]["n_removed_tokens"] == 22
    assert out[2]["text"] == words(100, 110)
    assert (out[3]["n_dup_positions"], out[3]["n_removed_tokens"]) == (0, 0)
    assert (out[4]["n_tokens"], out[4]["n_removed_tokens"]) == (2, 0)
    # within-doc self-repeat: second copy (exactly W tokens) removed
    assert (out[5]["n_dup_positions"], out[5]["n_removed_tokens"]) == (1, 20)
    assert out[5]["text"] == words(300, 320) + " mid"
    # empty-token doc survives with zeros
    assert (out[6]["n_tokens"], out[6]["n_removed_tokens"]) == (0, 0)


def test_substring_dedup_overlapping_span_union(spark):
    """Overlapping flagged windows must count union coverage, not W x flags."""
    from hepcrawl_spark.operators.dedup import substring_dedup

    run = " ".join(f"r{i}" for i in range(28))  # 28-token shared run
    pad = lambda tag: " ".join(f"{tag}{i}" for i in range(12))
    docs = spark.createDataFrame(
        [(1, run + " " + pad("a")), (2, pad("b") + " " + run)],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r for r in substring_dedup(docs, window=20).collect()
    }
    # doc 2's run spans positions 12..39; grams fully inside start at
    # 12..20 (9 flags); union coverage = 28 tokens, NOT 9*20
    assert (out[1]["n_dup_positions"], out[1]["n_removed_tokens"]) == (0, 0)
    assert (out[2]["n_dup_positions"], out[2]["n_removed_tokens"]) == (9, 28)


def test_substring_dedup_rejects_degenerate_window(spark):
    from hepcrawl_spark.operators.dedup import substring_dedup

    with pytest.raises(ValueError):
        substring_dedup(spark.range(1).withColumn("text", F.lit("x")), window=1)


def test_host_quality_rollup(spark):
    from hepcrawl_spark.operators.textstats import host_quality_rollup

    rows = [
        # h1: 2 docs, one english-ish, duplicated body
        ("h1", "the and of to in a is it for was on"),
        ("h1", "the and of to in a is it for was on"),
        # h2: 3 docs, none english, all unique
        ("h2", "zz yy xx"),
        ("h2", "qq pp oo"),
        ("h2", "mm nn ll"),
    ]
    df = spark.createDataFrame(rows, "host string, text string")
    got = {r["host"]: r for r in host_quality_rollup(df).collect()}
    h1, h2 = got["h1"], got["h2"]
    assert h1["n_docs"] == 2 and h1["n_tokens"] == 22
    assert h1["n_en"] == 2 and h1["en_ppm"] == 1_000_000
    assert h1["dup_ppm"] == 500_000  # 2 docs, 1 unique body
    assert h2["n_docs"] == 3 and h2["n_en"] == 0 and h2["dup_ppm"] == 0
