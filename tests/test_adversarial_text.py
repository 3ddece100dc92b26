"""Adversarial-text robustness: the text/dedup operator surface must
survive (and behave sensibly on) the degenerate documents a 100 TB
crawl actually contains — empty, whitespace-only, unicode, single-token
and pathologically long texts."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

ROWS = [
    (1, ""), (2, "   "), (3, "\t\n "), (4, "one"), (5, "two words"),
    (6, "héllo wörld ünïcode ✓ 中文 токен"),
    (7, "a " * 5000), (8, "x" * 10000),
    (9, "email me a@b.co or 555-123-4567 at 10.0.0.1"),
    (10, None),  # NULL text — crawls contain these
]


@pytest.fixture(scope="module")
def adv(spark):
    return spark.createDataFrame(ROWS, "doc_id long, text string")


def test_text_functions_survive_and_behave(spark, adv):
    from stupp_exclusion_etl_spark.functions.text import (
        fingerprint, lang_id_ngram, quality_score, redact_pii, token_count,
    )

    got = {
        r.doc_id: r
        for r in adv.select(
            "doc_id",
            token_count(F.col("text")).alias("n_tok"),
            quality_score(F.col("text")).alias("q"),
            fingerprint(F.col("text")).alias("fp"),
            lang_id_ngram(F.col("text")).alias("lang"),
            redact_pii(F.col("text")).alias("red"),
        ).collect()
    }
    assert got[1].n_tok == 0 and got[2].n_tok == 0 and got[3].n_tok == 0
    assert got[10].n_tok is None  # NULL propagates, no crash
    assert got[4].n_tok == 1 and got[5].n_tok == 2
    assert got[7].n_tok == 5000
    for did, r in got.items():  # no crashes; NULL text scores NULL quality
        assert r.lang is not None
        assert (r.q is None) == (did == 10), (did, r.q)
    red = got[9].red
    for pii in ("a@b.co", "555-123-4567", "10.0.0.1"):
        assert pii not in red, red


def test_dedup_operators_survive_degenerate_docs(spark, adv):
    from stupp_exclusion_etl_spark.operators.dedup import (
        minhash_lsh_pairs, ngram_containment_pairs, ngram_jaccard_pairs,
        simhash16_from_values, simhash16_token_values,
    )

    sims = adv.select(
        "doc_id",
        simhash16_from_values(simhash16_token_values(F.col("text"))).alias("fp"),
    ).collect()
    assert len(sims) == len(ROWS)
    # pair ops must not crash and must only pair docs with shingles
    for pairs in (
        ngram_jaccard_pairs(adv, "doc_id", "text", 3, 0.01).collect(),
        ngram_containment_pairs(adv, "doc_id", "text", 3, 0.01).collect(),
        minhash_lsh_pairs(adv, "doc_id", "text").collect(),
    ):
        for p in pairs:
            assert p.id1 not in (1, 2, 3, 10) and p.id2 not in (1, 2, 3, 10)


def test_dup_span_removal_adversarial(spark):
    """remove_dup_spans (VERDICT r12 task #5) over the degenerate doc
    classes: unicode spans dedup byte-exact, NULL/empty/short docs
    pass through untouched, within-doc repeats alone are NOT cut
    (cross-document contract), the owner (smallest id) keeps its
    copy, and overlapping duplicate windows merge into one maximal
    cut."""
    from stupp_exclusion_etl_spark.operators.dedup import remove_dup_spans

    uni = "héllo wörld ünïcode ✓ 中文 токен ε ζ"  # 8 unicode tokens
    rows = [
        (1, ""), (2, "   "), (3, None),
        (4, "short doc under n tokens"),
        # within-doc repeat only: the 8-gram repeats INSIDE doc 5
        (5, "r1 r2 r3 r4 r5 r6 r7 r8 r1 r2 r3 r4 r5 r6 r7 r8"),
        # unicode cross-doc span: doc 6 owns it, doc 7 loses it
        (6, "lead " + uni),
        (7, uni + " tail1 tail2"),
        # overlapping duplicates: docs 8/9 share a 10-token run (three
        # overlapping 8-gram windows) -> one maximal cut in doc 9
        (8, "s1 s2 s3 s4 s5 s6 s7 s8 s9 s10"),
        (9, "pre1 s1 s2 s3 s4 s5 s6 s7 s8 s9 s10 post1"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_removed, r.cleaned)
        for r in remove_dup_spans(docs, "doc_id", "text", n=8).collect()
    }
    assert len(got) == len(rows)
    for did in (1, 2, 3):
        assert got[did] == (0, ""), did
    assert got[4] == (0, "short doc under n tokens")
    assert got[5][0] == 0, "within-doc repeat must not cut"
    assert got[6] == (0, "lead " + uni), "owner keeps its copy"
    assert got[7] == (8, "tail1 tail2"), got[7]
    assert got[8][0] == 0
    assert got[9] == (10, "pre1 post1"), "overlap must merge maximally"


# Separators Java's \s (Spark's split) and Python's str.split() disagree
# on, next to the ones they share, and the short/repeated shapes the
# shingle fallback handles.
TOKENIZER_TEXTS = [
    "a\u00a0b c d", "x\u2028y z w v", "p\x1cq\x1dr\x1es\x1ft u v",
    "m\x85n o p", "a\x0bb\x0cc d e", "a\tb\t\tc\td", "\ta b c d\n",
    "", " ", "\t\n\x0b\x0c\r ", "one", "two words", "\u00a0",
    "r r r r r r r", "a b a b a b a b", "\u2028", "x\x1cy",
]


def test_kernel_shingles_equal_spark_shingles(spark):
    """The near-dedup kernel's shingle sets (operators.dedup) equal
    Spark's shingles(tokens(text)) as sets, also where Python's
    str.split() would cut on a character Java's \\s does not."""
    from stupp_exclusion_etl_spark.functions.text import shingles, tokens
    from stupp_exclusion_etl_spark.operators.dedup import _shingle_set

    rows = list(enumerate(TOKENIZER_TEXTS)) + [(len(TOKENIZER_TEXTS), None)]
    df = spark.createDataFrame(rows, "i int, text string")
    got = df.select("i", shingles(tokens(F.col("text")), 3).alias("sh")).collect()
    assert len(got) == len(rows)
    for r in got:
        text = rows[r.i][1]
        assert set(r.sh or []) == _shingle_set(text, 3), repr(text)
    # the disagreement is real: str.split() would have cut these
    assert _shingle_set("a\u00a0b c d", 3) == {"a\u00a0b c d"}
    assert _shingle_set("p\x1cq\x1dr\x1es\x1ft u v", 3) == {"p\x1cq\x1dr\x1es\x1ft u v"}
