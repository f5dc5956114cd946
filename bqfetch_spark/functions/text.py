"""Whitespace-token word n-grams: the one n-gram builder of the text
family (the dedup, decontamination and curation queries), plus the
stop-shingle cut their shingle joins share.

Every query that shingles `documents.text` builds its grams through
``token_ngrams``, so "how a word n-gram is built" is decided once; the
DuckDB oracles spell the same grams as
``list_transform(generate_series(1, len(t) - n + 1), i -> t[i:i+n-1])``
over ``string_split(text, ' ')``.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

SHINGLE_DF_CAP = 8  # stop-shingle cut: drop shingles present in > CAP docs
CONTAM_N = 5  # decontamination n-gram width; the published standard is
# 8-13, 5 here so the tiny-vocabulary fixture produces non-trivial overlap


def token_ngrams(
    frame: DataFrame,
    n: int,
    keys: Sequence[str] = ("doc_id",),
    positional: bool = False,
    distinct: bool = False,
    pad_short: bool = False,
) -> DataFrame:
    """Word n-grams of ``frame.text`` split on single spaces (so a
    repeated space yields an empty token): one row per gram as
    ``(*keys, g)``, or ``(*keys, i, g)`` with the gram's 1-based start
    token when ``positional``. ``keys`` are carried through unchanged.

    - ``distinct`` keeps one row per ``(*keys, g)``. It rides any
      exchange ``frame`` is already hash-partitioned by on a subset of
      ``keys`` (e.g. ``repartition(np, "doc_id")`` upstream).
    - Docs with fewer than ``n`` tokens yield no grams, unless
      ``pad_short``: then the token list is padded with ``n - 1``
      copies of its last token, so a short doc yields exactly one
      clamped gram and a long doc's grams are unchanged.

    Spelling: the grams are FLAT rows — ``arrays_zip`` of ``n`` shifted
    ``slice``s of the token array, ``explode`` (``posexplode`` for the
    position), then one ``concat_ws`` over the zipped fields. All of it
    stays in whole-stage codegen. The per-element spelling
    (``transform(sequence(...), i -> concat_ws(' ', slice(t, i, n)))``)
    runs the lambda in Catalyst's interpreter for every gram and gives
    the same row multiset; on the sf0.1 fixture's ``documents`` (4
    cores, cached, noop write, min of 5 after a warm-up round) the flat
    spelling took 0.15 / 0.10 / 0.11 s against the lambda's 0.22 /
    0.22 / 0.23 s for n = 2 / 3 / 5 (positional)."""
    tok = frame.select(*keys, F.split(F.col("text"), " ").alias("__t"))
    if pad_short:
        last = F.element_at("__t", -1)
        words = F.concat("__t", F.array(*[last] * (n - 1)))
        width = F.greatest(F.size("__t") - (n - 1), F.lit(1))
    else:
        tok = tok.filter(F.size("__t") >= n)
        words = F.col("__t")
        width = F.size("__t") - (n - 1)
    z = F.arrays_zip(*[F.slice(words, k + 1, width).alias(f"w{k}") for k in range(n)])
    g = F.concat_ws(" ", *[F.col(f"__z.w{k}") for k in range(n)]).alias("g")
    if positional:
        grams = tok.select(*keys, F.posexplode(z).alias("__p", "__z")).select(
            *keys, (F.col("__p") + 1).cast("bigint").alias("i"), g
        )
    else:
        grams = tok.select(*keys, F.explode(z).alias("__z")).select(*keys, g)
    return grams.dropDuplicates([*keys, "g"]) if distinct else grams


def drop_stop_shingles(grams: DataFrame) -> DataFrame:
    """``grams`` without the shingles ``g`` that occur in more than
    SHINGLE_DF_CAP of its rows (rows are per-doc distinct grams, so
    that is the shingle's document frequency). A shingle join costs
    Σ df², so the hot boilerplate shingles dominate it; true near-dups
    share many rare shingles and survive the cut. The window count
    rides a ``g`` exchange when ``grams`` is repartitioned on ``g``."""
    return (
        grams.withColumn("__df", F.count(F.lit(1)).over(Window.partitionBy("g")))
        .filter(F.col("__df") <= SHINGLE_DF_CAP)
        .drop("__df")
    )
