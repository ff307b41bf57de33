"""Duplicated-substring spans (`osmgraft/operators/dedup.py:dup_spans`)."""

from __future__ import annotations

from pyspark.sql import functions as F

from osmgraft.operators.dedup import dup_spans


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dup_spans_finds_planted_passage(spark):
    shared = "alpha beta gamma delta epsilon zeta eta"  # 7 words
    d = _docs(
        spark,
        [
            (0, f"u0 u1 {shared} u2 u3"),
            (1, f"v0 {shared} v1 v2 v3 v4"),
            (2, "w0 w1 w2 w3 w4 w5 w6 w7 w8"),
        ],
    )
    out = {r["doc_id"]: r for r in dup_spans(d, n=5).collect()}
    # doc 0: shared passage occupies words 2..8; doc 1: words 1..7
    assert set(out) == {0, 1}
    assert (out[0]["start_word"], out[0]["end_word"], out[0]["span_words"]) == (2, 8, 7)
    assert (out[1]["start_word"], out[1]["end_word"], out[1]["span_words"]) == (1, 7, 7)


def test_dup_spans_within_doc_repeat_excluded_by_min_docs(spark):
    rep = "p q r s t"
    d = _docs(spark, [(0, f"{rep} x y z {rep}"), (1, "a b c d e f g")])
    # the repeat lives in ONE document: min_docs=2 counts DISTINCT docs,
    # so a within-doc repeat never qualifies
    assert dup_spans(d, n=5, min_docs=2).count() == 0
    # min_docs=1 degenerates to "every gram qualifies": each doc collapses
    # to one full-width island (documents the parameter's semantics)
    spans1 = {
        (r["doc_id"], r["start_word"], r["end_word"])
        for r in dup_spans(d, n=5, min_docs=1).collect()
    }
    assert spans1 == {(0, 0, 12), (1, 0, 6)}


def test_dup_spans_short_docs_emit_nothing(spark):
    d = _docs(spark, [(0, "one two three"), (1, "one two three")])
    assert dup_spans(d, n=5).count() == 0
    # but at n=3 the 3-word docs are a full shared gram
    out = dup_spans(d, n=3).collect()
    assert {(r["doc_id"], r["start_word"], r["end_word"]) for r in out} == {
        (0, 0, 2),
        (1, 0, 2),
    }


def test_dup_spans_back_to_back_passages_stay_separate(spark):
    # two shared passages back-to-back in doc 0: the grams crossing the
    # boundary exist only in doc 0, so the duplicated positions are {0, 5}
    # — two maximal spans that tile [0..9], not one island
    p1, p2 = "a1 a2 a3 a4 a5", "b1 b2 b3 b4 b5"
    d = _docs(
        spark,
        [(0, f"{p1} {p2}"), (1, f"x0 {p1} x1 x2 x3 x4 x5"), (2, f"y0 y1 {p2} y2 y3 y4")],
    )
    spans0 = sorted(
        (r["start_word"], r["end_word"])
        for r in dup_spans(d, n=5).where(F.col("doc_id") == 0).collect()
    )
    assert spans0 == [(0, 4), (5, 9)]


def test_dup_spans_overlapping_passages_merge(spark):
    # doc 0 shares words 0..5 with doc 1 and words 2..7 with doc 2: the
    # duplicated gram positions {0,1} and {2,3} are consecutive -> ONE span
    d = _docs(
        spark,
        [
            (0, "c1 c2 c3 c4 c5 c6 c7 c8"),
            (1, "z1 c1 c2 c3 c4 c5 c6 z2"),
            (2, "z3 z4 c3 c4 c5 c6 c7 c8"),
        ],
    )
    spans0 = [
        (r["start_word"], r["end_word"], r["span_words"])
        for r in dup_spans(d, n=5).where(F.col("doc_id") == 0).collect()
    ]
    assert spans0 == [(0, 7, 8)]


def test_dup_spans_xxhash64_variant_same_spans(spark):
    shared = "m1 m2 m3 m4 m5 m6"
    d = _docs(spark, [(0, f"{shared} k1 k2"), (1, f"k3 {shared} k4")])
    a = sorted(map(tuple, dup_spans(d, n=5, gram_hash="md5").collect()))
    b = sorted(map(tuple, dup_spans(d, n=5, gram_hash="xxhash64").collect()))
    assert a == b and len(a) == 2
