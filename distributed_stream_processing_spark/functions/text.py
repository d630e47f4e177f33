"""Text primitives: tokenization, n-grams, fingerprints.

The reference tokenizes by single-space split and canonically sorts
tokens (DSim-Join ds_join/BuildSig.scala:38-53,75); here that is
``sort_array(array_distinct(...))`` — JVM-side, codegen'd, no UDF.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def tokens(text: Column | str) -> Column:
    """Distinct, canonically sorted, space-split tokens (empty removed)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.array_sort(
        F.array_distinct(F.filter(F.split(c, " "), lambda x: x != ""))
    )


def word_ngrams(text: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles (space-joined), order-preserving.

    Built from the raw token sequence (duplicates kept) so shingles
    capture word order — unlike ``tokens`` which is set semantics.
    """
    c = F.col(text) if isinstance(text, str) else text
    seq = F.filter(F.split(c, " "), lambda x: x != "")
    # slide a window of n over the sequence: indexes 0..len-n
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(seq) - n, F.lit(-1))),
            lambda i: F.concat_ws(" ", F.slice(seq, i + 1, n)),
        )
    )


def normalized_text(text: Column | str) -> Column:
    """Lowercase, whitespace-collapsed normalization for fingerprinting."""
    c = F.col(text) if isinstance(text, str) else text
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def fingerprint_md5(text: Column | str) -> Column:
    """Deterministic document fingerprint = md5 of normalized text."""
    return F.md5(normalized_text(text))


def winnow_fingerprints(text: Column | str, k: int = 4, w: int = 5) -> Column:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD'03):
    hash every token k-gram, slide a window of ``w`` hashes, keep each
    window's minimum; the distinct kept hashes are the fingerprint
    set. Shift-robust (guaranteed to share fingerprints with any copy
    of length >= w+k-1 tokens). All JVM-side higher-order functions.
    """
    c = F.col(text) if isinstance(text, str) else text
    seq = F.filter(F.split(c, " "), lambda x: x != "")
    empty = F.array().cast("array<bigint>")
    # guard the sequences: F.sequence(0, stop) DESCENDS when stop < 0
    kgrams = F.when(
        F.size(seq) >= k,
        F.transform(
            F.sequence(F.lit(0), F.size(seq) - k),
            lambda i: md5_hash60(F.concat_ws(" ", F.slice(seq, i + 1, k))),
        ),
    ).otherwise(empty)
    mins = F.when(
        F.size(kgrams) >= w,
        F.transform(
            F.sequence(F.lit(0), F.size(kgrams) - w),
            lambda j: F.array_min(F.slice(kgrams, j + 1, w)),
        ),
    ).otherwise(empty)
    # short docs (< k+w-1 tokens): fall back to all k-gram hashes
    return F.when(F.size(mins) > 0, F.array_distinct(mins)).otherwise(
        F.array_distinct(kgrams)
    )


def winnow_fingerprint_rows(
    df, id_col: str, text_col: str, k: int = 4, w: int = 5
):
    """Winnowing as (id, fp) ROWS: tokens exploded once, k-grams
    assembled with lead() windows, window minima via a per-document
    sliding frame.

    Same output set as exploding ``winnow_fingerprints``, but each
    k-gram is hashed exactly once inside whole-stage codegen. The
    array-lambda form evaluates interpreted (higher-order functions
    disable codegen) and re-evaluates the split/filter subexpression
    for every window position — O(n^2) interpreted work that measured
    ~30 ms per 50-token document (the round-3 q47 profile). Windows
    partition by document id, so parallelism is per-doc — right for a
    many-document corpus.
    """
    from pyspark.sql import Window as W

    c = F.col(text_col)
    seq = F.filter(F.split(c, " "), lambda x: x != "")
    tok = df.select(
        F.col(id_col).alias("id"), F.posexplode(seq).alias("pos", "tok")
    )
    wo = W.partitionBy("id").orderBy("pos")
    gram_cols = [F.col("tok")] + [
        F.lead("tok", j).over(wo) for j in range(1, k)
    ]
    kg = (
        tok.select(
            "id",
            "pos",
            F.when(
                F.lead("tok", k - 1).over(wo).isNotNull(),
                md5_hash60(F.concat_ws(" ", *gram_cols)),
            ).alias("h"),
            (F.count(F.lit(1)).over(W.partitionBy("id")) - (k - 1)).alias(
                "n_kg"
            ),
        )
        .filter(F.col("h").isNotNull())
    )
    win = W.partitionBy("id").orderBy("pos").rowsBetween(0, w - 1)
    kg2 = kg.select(
        "id",
        "n_kg",
        "h",
        F.min("h").over(win).alias("mn"),
        F.count(F.lit(1)).over(win).alias("cnt"),
    )
    return (
        kg2.filter((F.col("cnt") == w) | (F.col("n_kg") < w))
        .select(
            "id",
            F.when(F.col("n_kg") < w, F.col("h")).otherwise(F.col("mn")).alias("fp"),
        )
        .distinct()
    )


def md5_hash60(c: Column) -> Column:
    """Deterministic 60-bit positive hash = first 15 hex chars of md5.

    Chosen over xxhash64 for the dedup/fingerprint primitives because
    DuckDB reproduces it exactly (CAST(concat('0x', substr(md5(x),1,15))
    AS BIGINT)), which turns the MinHash/SimHash/winnowing queries into
    hard oracle-gated checks. 15 hex chars keep the value < 2^60, so
    it stays positive in both engines' BIGINT.
    """
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


def duck_md5_hash60(expr: str) -> str:
    """The DuckDB twin of md5_hash60, as SQL text over ``expr``."""
    return f"CAST(concat('0x', substr(md5({expr}), 1, 15)) AS BIGINT)"


def md5_hash32_pair(c: Column) -> tuple[Column, Column]:
    """Two independent 32-bit positive hashes (hi, lo) from one md5 —
    used where 64 independent bits are needed (SimHash) without ever
    forming a negative/overflowing 64-bit value in either engine."""
    hi = F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("bigint")
    lo = F.conv(F.substring(F.md5(c), 9, 8), 16, 10).cast("bigint")
    return hi, lo


def jaccard_parts(a_tokens: Column, b_tokens: Column) -> tuple[Column, Column]:
    """(intersection size, union size) of two token arrays — exact ints.

    Exposing the integer parts (not the ratio) keeps threshold
    predicates exact: J >= p/q  <=>  q*inter >= p*union.
    """
    inter = F.size(F.array_intersect(a_tokens, b_tokens))
    uni = F.size(a_tokens) + F.size(b_tokens) - inter
    return inter, uni
