"""The text family's one word-n-gram kernel, checked against a
pure-Python reference: `token_ngrams` at n = 2..5 with and without
positions, per-key distinct grams, short-doc padding and pass-through
keys, over docs shorter than n, empty text and repeated spaces."""

from __future__ import annotations

from collections import Counter

import pytest

from bqfetch_spark.functions.text import SHINGLE_DF_CAP, drop_stop_shingles, token_ngrams

DOCS = [
    (1, "a", "the cat sat on the mat the cat sat"),
    (2, "a", "the cat sat on a log"),
    (3, "b", "one two"),  # shorter than n >= 3
    (4, "b", ""),  # one empty token
    (5, "b", "x  y   z"),  # repeated spaces: empty tokens
    (6, "c", "solo"),
    (7, "c", "a b c d e f g h"),
    (8, "c", None),  # no tokens at all
]


def _reference(n, keys, positional, distinct, pad_short):
    """Rows the kernel must return, as a multiset of tuples."""
    rows = []
    for doc_id, source, text in DOCS:
        if text is None:
            continue
        t = text.split(" ")
        width = len(t) - n + 1
        if pad_short and width < 1:  # one gram, clamped at the last token
            t, width = t + [t[-1]] * (n - 1), 1
        key = {"doc_id": doc_id, "source": source, "text": text}
        for i in range(width):
            g = " ".join(t[i : i + n])
            rows.append(tuple(key[k] for k in keys) + ((i + 1,) if positional else ()) + (g,))
    return Counter(dict.fromkeys(rows, 1) if distinct else rows)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id bigint, source string, text string")


@pytest.mark.parametrize("n", [2, 3, 4, 5])
@pytest.mark.parametrize(
    "positional,distinct,pad_short",
    [
        (False, False, False),
        (True, False, False),
        (False, True, False),
        (False, False, True),
        (True, False, True),
    ],
)
def test_token_ngrams_matches_python_reference(docs, n, positional, distinct, pad_short):
    out = token_ngrams(docs, n, positional=positional, distinct=distinct, pad_short=pad_short)
    assert out.columns == (["doc_id", "i", "g"] if positional else ["doc_id", "g"])
    got = Counter(tuple(r) for r in out.collect())
    assert got == _reference(n, ("doc_id",), positional, distinct, pad_short)


@pytest.mark.parametrize("keys", [("source",), ("doc_id", "source"), ("source", "text")])
@pytest.mark.parametrize("distinct", [False, True])
def test_token_ngrams_carries_keys(docs, keys, distinct):
    out = token_ngrams(docs, 3, keys=keys, distinct=distinct)
    assert out.columns == [*keys, "g"]
    got = Counter(tuple(r) for r in out.collect())
    assert got == _reference(3, keys, False, distinct, False)


def test_positions_are_one_based_bigints(docs):
    out = token_ngrams(docs.filter("doc_id = 7"), 5, positional=True)
    assert dict(out.dtypes)["i"] == "bigint"
    assert [(r.i, r.g) for r in out.orderBy("i").collect()] == [
        (1, "a b c d e"),
        (2, "b c d e f"),
        (3, "c d e f g"),
        (4, "d e f g h"),
    ]


def test_drop_stop_shingles_keeps_shingles_within_the_cap(spark):
    hot = [(d, "hot") for d in range(SHINGLE_DF_CAP + 1)]
    edge = [(d, "edge") for d in range(SHINGLE_DF_CAP)]
    grams = spark.createDataFrame(hot + edge + [(0, "rare")], "doc_id bigint, g string")
    kept = Counter(r.g for r in drop_stop_shingles(grams).collect())
    assert kept == {"edge": SHINGLE_DF_CAP, "rare": 1}
