"""Salted join equivalence, index compaction completeness, deletion
signatures, and hypothesis-driven similarity-join properties."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from distributed_stream_processing_spark.operators.skew import salted_join
from distributed_stream_processing_spark.operators.subsequence_match import (
    build_kv_index,
    compact_kv_index,
    subsequence_match_ed,
)


def test_salted_join_equals_plain(spark):
    # one pathologically hot key (80% of rows) + long tail
    left = spark.range(0, 5000).select(
        F.when(F.col("id") % 5 != 0, F.lit(7)).otherwise(F.col("id") % 100).alias("k"),
        F.col("id").alias("rowid"),
    )
    right = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("payload")
    )
    plain = left.join(right, "k").select("rowid", "k", "payload")
    salted = salted_join(left, right, "k", n_salt=8).select("rowid", "k", "payload")
    assert salted.exceptAll(plain).count() == 0
    assert plain.exceptAll(salted).count() == 0


def test_compacted_index_preserves_matches(spark):
    rng = np.random.default_rng(9)
    vals = np.round(rng.normal(0, 1, 2500).cumsum(), 2)
    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(vals)], "pos long, value double"
    )
    q = vals[400:460].tolist()
    idx = build_kv_index(df, widths=(25,), value_scale=100).cache()
    compact = compact_kv_index(idx, factor=4).cache()
    assert compact.count() < idx.count()  # actually smaller
    full = {
        (r.start, r.dist)
        for r in subsequence_match_ed(df, q, 6.0, index=idx, widths=(25,)).collect()
    }
    comp = {
        (r.start, r.dist)
        for r in subsequence_match_ed(
            df, q, 6.0, index=compact, widths=(25,), index_grid=4 * 0.5
        ).collect()
    }
    assert comp == full and len(full) >= 1
    # width/index mismatch must raise, not silently return empty
    with pytest.raises(ValueError, match="lacks widths"):
        subsequence_match_ed(df, q, 6.0, index=idx, widths=(25, 50)).collect()


def test_deletion_signature_catches_one_token_diff(spark):
    """createDeletion parity: y = x + one extra token must match x via
    deletion-signature equality even when segment equality fails."""
    from distributed_stream_processing_spark.functions.signatures import (
        deletion_signatures,
        segment_signatures,
    )

    h = 4
    rows = [(1, ["a", "b", "c", "d", "e"]), (2, ["a", "b", "c", "d", "e", "zz"])]
    df = spark.createDataFrame(rows, "id long, tokens array<string>")
    sigs = df.select(
        "id",
        segment_signatures(F.col("tokens"), h).alias("seg"),
        deletion_signatures(F.col("tokens"), h).alias("dele"),
    )
    a, b = sigs.collect()
    seg_a = {(s.seg, s.sig) for s in a.seg}
    seg_b = {(s.seg, s.sig) for s in b.seg}
    del_b = {(s.seg, s.sig) for s in b.dele}
    # y's deletion signatures include x's segment signature for the
    # segment holding the extra token
    assert seg_a & del_b
    # and all other segments already match by equality
    assert len(seg_a & seg_b) == h - 1


def test_deletion_signatures_treat_multiset_as_set(spark):
    """ADVICE r5: the O(s) splice form drops by POSITION; for multiset
    inputs that diverged from the value-based filter it replaced
    (which removed every copy). Contract now: segment content is
    deduplicated first, so a duplicated token yields exactly the
    distinct-set signatures."""
    from distributed_stream_processing_spark.functions.signatures import (
        deletion_signatures,
    )

    h = 2
    rows = [(1, ["a", "a", "b", "c"]), (2, ["a", "b", "c"])]
    df = spark.createDataFrame(rows, "id long, tokens array<string>")
    out = df.select(
        "id", deletion_signatures(F.col("tokens"), h).alias("dele")
    ).collect()
    multi = {(s.seg, s.sig) for s in out[0].dele}
    distinct = {(s.seg, s.sig) for s in out[1].dele}
    assert multi == distinct


def test_similarity_join_equals_bruteforce_hypothesis(spark):
    """Randomized corpora: prefix join == brute force at any threshold
    (exercises both the bitmask and array verification paths)."""
    from fractions import Fraction
    import random

    from distributed_stream_processing_spark.functions.text import tokens
    from distributed_stream_processing_spark.operators.similarity_join import (
        brute_force_similarity_join,
        similarity_join,
    )

    @settings(max_examples=8, deadline=None)
    @given(
        seed=st.integers(0, 10_000),
        n=st.integers(6, 24),
        thr_num=st.sampled_from([(1, 2), (7, 10), (4, 5)]),
    )
    def run(seed, n, thr_num):
        rng = random.Random(seed)
        vocab = [f"t{i}" for i in range(rng.randint(8, 90))]  # both rep paths
        rows = []
        for i in range(n):
            k = rng.randint(1, min(12, len(vocab)))
            rows.append((i, " ".join(rng.sample(vocab, k))))
        if rng.random() < 0.7:  # plant a near-dup
            rows.append((n, rows[0][1] + " extra"))
        df = spark.createDataFrame(rows, "id long, text string").select(
            "id", tokens("text").alias("tokens")
        )
        t = Fraction(*thr_num)
        got = {tuple(r) for r in similarity_join(df, None, t).collect()}
        want = {tuple(r) for r in brute_force_similarity_join(df, None, t).collect()}
        assert got == want

    run()


def test_asof_join_equals_bruteforce_hypothesis(spark):
    """Randomized keys/timestamps (+ null right columns): the
    union-window as-of plan == per-row latest-at-or-before scan."""
    import random

    from distributed_stream_processing_spark.operators.asof_join import asof_join

    @settings(max_examples=8, deadline=None)
    @given(seed=st.integers(0, 10_000), nl=st.integers(1, 30), nr=st.integers(0, 30))
    def run(seed, nl, nr):
        rng = random.Random(seed)
        left = [(i, rng.randint(0, 4), rng.randint(0, 50)) for i in range(nl)]
        seen = set()
        right = []
        for j in range(nr):
            key, ts = rng.randint(0, 4), rng.randint(0, 50)
            if (key, ts) in seen:  # right must be unique per (key, ts)
                continue
            seen.add((key, ts))
            val = rng.randint(0, 9) if rng.random() < 0.6 else None
            right.append((key, ts, j, val))
        ldf = spark.createDataFrame(left, "lid long, k long, lts long")
        rdf = spark.createDataFrame(
            right, "k long, rts long, rid long, rv long"
        )
        got = {
            (r.lid, r.rid, r.rv)
            for r in asof_join(
                ldf, rdf, key="k", left_ts="lts", right_ts="rts",
                right_cols=["rid", "rv"],
            ).collect()
        }
        want = set()
        for lid, k, lts in left:
            best = None
            for rk, rts, rid, rv in right:
                if rk == k and rts <= lts and (best is None or rts > best[0]):
                    best = (rts, rid, rv)
            want.add((lid, best[1] if best else None, best[2] if best else None))
        assert got == want

    run()


def test_merge_intervals_equals_bruteforce_hypothesis(spark):
    """Random interval sets: merge_intervals == maximal coverage runs
    (for gap 0 and the adjacency gap 1)."""
    import random

    from distributed_stream_processing_spark.operators.interval import (
        merge_intervals,
    )

    @settings(max_examples=8, deadline=None)
    @given(seed=st.integers(0, 10_000), n=st.integers(1, 40), gap=st.sampled_from([0, 1]))
    def run(seed, n, gap):
        rng = random.Random(seed)
        rows = []
        for _ in range(n):
            s = rng.randint(0, 60)
            rows.append((rng.randint(0, 2), s, s + rng.randint(0, 8)))
        df = spark.createDataFrame(rows, "k long, start long, end long")
        got = {
            (r.k, r.start, r.end)
            for r in merge_intervals(df, "k", merge_gap=gap).collect()
        }
        want = set()
        for k in {r[0] for r in rows}:
            ivs = sorted((s, e) for kk, s, e in rows if kk == k)
            cs, ce = ivs[0]
            for s, e in ivs[1:]:
                if s <= ce + gap:
                    ce = max(ce, e)
                else:
                    want.add((k, cs, ce))
                    cs, ce = s, e
            want.add((k, cs, ce))
        assert got == want

    run()


def test_probe_equals_numpy_candidates_hypothesis(spark, probe_reference):
    """Random series/epsilons: the interval sweep-line probe admits
    exactly the starts a numpy intersection of the collected index rows
    admits (stresses partition-boundary handling in the distributed
    prefix sum)."""
    import random

    from distributed_stream_processing_spark.operators.subsequence_match import (
        build_kv_index,
        plan_segments,
        probe_index,
    )

    @settings(max_examples=5, deadline=None)
    @given(seed=st.integers(0, 10_000), eps=st.sampled_from([0.5, 2.0, 6.0]))
    def run(seed, eps):
        rng = random.Random(seed)
        n, m = 600, 40
        vals, x = [], 0.0
        for _ in range(n):
            x += rng.gauss(0, 1)
            vals.append(round(x, 2))
        df = spark.createDataFrame(
            list(enumerate(vals)), "pos long, value double"
        )
        idx = build_kv_index(df, widths=(10, 20), value_scale=100)
        q = vals[100 : 100 + m]
        segs = plan_segments(q, widths=(10, 20))
        got = sorted(
            r.start
            for r in probe_index(
                idx, segs, eps, n, m, available_widths={10, 20}
            ).collect()
        )
        assert got == probe_reference(idx.collect(), segs, eps, n, m)

    run()
