"""Property + equivalence tests for the similarity-join operators.

Mirrors the reference's validation strategy (SURVEY §5): the cached/
indexed variants are checked against the brute-force scan
(sequentialScan, ds_join/JaccardIndex.scala:211-231), plus a
completeness property for the signature scheme.
"""

from __future__ import annotations

import random
from fractions import Fraction

import pytest
from pyspark.sql import functions as F

from distributed_stream_processing_spark.functions.signatures import (
    multigroup,
    seg_count_for,
)
from distributed_stream_processing_spark.functions.text import tokens
from distributed_stream_processing_spark.operators.similarity_join import (
    brute_force_similarity_join,
    dima_similarity_join,
    similarity_join,
)

T = Fraction(4, 5)


def _random_corpus(n: int, seed: int) -> list[tuple[int, str]]:
    """Token sets with planted near-duplicates around the threshold."""
    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(60)]
    rows = []
    for i in range(n):
        k = rng.randint(5, 25)
        toks = rng.sample(vocab, k)
        rows.append((i, " ".join(toks)))
        if rng.random() < 0.5:  # planted near-dup: mutate 0-3 tokens
            mut = list(toks)
            for _ in range(rng.randint(0, 3)):
                mut[rng.randrange(len(mut))] = rng.choice(vocab)
            rows.append((n + i, " ".join(mut)))
    return rows


@pytest.fixture(scope="module")
def corpus(spark):
    rows = _random_corpus(60, seed=7)
    df = spark.createDataFrame(rows, "id long, text string").select(
        "id", tokens("text").alias("tokens")
    )
    df.cache().count()
    return df


def _pairs(df) -> set[tuple]:
    return {tuple(r) for r in df.collect()}


def test_prefix_join_equals_brute_force(spark, corpus):
    assert _pairs(similarity_join(corpus, None, T)) == _pairs(
        brute_force_similarity_join(corpus, None, T)
    )


def test_freq_order_equals_brute_force(spark, corpus):
    assert _pairs(similarity_join(corpus, None, T, order="freq")) == _pairs(
        brute_force_similarity_join(corpus, None, T)
    )


def test_dima_join_equals_brute_force(spark, corpus):
    assert _pairs(dima_similarity_join(corpus, None, T)) == _pairs(
        brute_force_similarity_join(corpus, None, T)
    )


def test_dima_deletion_scheme_equals_brute_force(spark, corpus):
    """The low-H deletion-signature mode (half the segments, deletion
    sigs carrying the 1-diff matches) must stay exact."""
    assert _pairs(dima_similarity_join(corpus, None, T, scheme="deletion")) == _pairs(
        brute_force_similarity_join(corpus, None, T)
    )


def test_dima_deletion_scheme_two_table(spark, corpus):
    left = corpus.filter(F.col("id") % 3 == 0)
    right = corpus.filter(F.col("id") % 3 != 0)
    assert _pairs(
        dima_similarity_join(left, right, T, scheme="deletion")
    ) == _pairs(brute_force_similarity_join(left, right, T))


def test_two_table_join_equals_brute_force(spark, corpus):
    left = corpus.filter(F.col("id") % 3 == 0)
    right = corpus.filter(F.col("id") % 3 != 0)
    assert _pairs(similarity_join(left, right, T)) == _pairs(
        brute_force_similarity_join(left, right, T)
    )


def test_two_table_freq_order_equals_brute_force(spark, corpus):
    """Prefix-filter completeness under order='freq' requires ONE
    shared token order across both sides — per-side frequency tables
    would sort the prefixes under different orders and drop pairs."""
    left = corpus.filter(F.col("id") % 3 == 0)
    right = corpus.filter(F.col("id") % 3 != 0)
    assert _pairs(similarity_join(left, right, T, order="freq")) == _pairs(
        brute_force_similarity_join(left, right, T)
    )


def test_signature_completeness_property(spark):
    """Any pair with J >= t must share >= 1 equal segment signature.

    This is the pigeonhole theorem the segment join relies on
    (signature scheme completeness — SURVEY §7 'what's hard' #3).
    """
    from distributed_stream_processing_spark.functions.signatures import (
        segment_signatures,
    )

    rows = _random_corpus(40, seed=13)
    df = spark.createDataFrame(rows, "id long, text string").select(
        "id", tokens("text").alias("tokens")
    )
    lmax = df.agg(F.max(F.size("tokens"))).first()[0]
    h = seg_count_for(T, lmax)
    sigged = df.select("id", "tokens", segment_signatures(F.col("tokens"), h).alias("sigs"))
    a = sigged.selectExpr("id a_id", "tokens a_tokens", "sigs a_sigs")
    b = sigged.selectExpr("id b_id", "tokens b_tokens", "sigs b_sigs")
    qualifying = (
        a.crossJoin(b)
        .filter(F.col("a_id") < F.col("b_id"))
        .withColumn("inter", F.size(F.array_intersect("a_tokens", "b_tokens")))
        .withColumn(
            "uni", F.size("a_tokens") + F.size("b_tokens") - F.col("inter")
        )
        .filter(T.denominator * F.col("inter") >= T.numerator * F.col("uni"))
        .withColumn("shared", F.size(F.array_intersect("a_sigs", "b_sigs")))
    )
    assert qualifying.count() > 0  # fixture plants qualifying pairs
    assert qualifying.filter(F.col("shared") == 0).count() == 0


def test_multigroup_covers_range():
    groups = multigroup(5, 100, T)
    assert groups[0][0] == 5 and groups[-1][1] >= 100
    # contiguous, non-overlapping
    for (lo1, hi1), (lo2, _) in zip(groups, groups[1:]):
        assert lo2 == hi1 + 1


def test_empty_and_identical_docs(spark):
    rows = [(1, "a b c"), (2, "a b c"), (3, "")]
    df = spark.createDataFrame(rows, "id long, text string").select(
        "id", tokens("text").alias("tokens")
    )
    got = _pairs(similarity_join(df, None, T))
    assert got == {(1, 2, 3, 3)}


def test_dima_adaptive_scheme_equals_brute_force(spark, corpus):
    """scheme='adaptive' (T5: per-group frequency-driven choice) must
    be exact regardless of which schemes the cost model picks."""
    left = corpus.filter(F.col("id") % 3 == 0)
    right = corpus.filter(F.col("id") % 3 != 0)
    assert _pairs(
        dima_similarity_join(left, right, T, scheme="adaptive")
    ) == _pairs(brute_force_similarity_join(left, right, T))


def test_adaptive_chooser_flips_under_skew(spark):
    """The cost model must actually discriminate: a corpus whose
    records share one hot token block (hot equality buckets -> cnt^2
    collision blowup) should flip at least one group to deletion,
    while tiny distinct records keep equality."""
    from distributed_stream_processing_spark.functions.signatures import (
        multigroup,
        seg_count_dima,
    )
    from distributed_stream_processing_spark.operators.similarity_join import (
        choose_signature_schemes,
    )

    t = Fraction(7, 10)
    hot = [(i, " ".join(f"h{j}" for j in range(20))) for i in range(80)]
    cold = [(1000 + i, f"u{i}a u{i}b u{i}c") for i in range(10)]
    df = spark.createDataFrame(hot + cold, "id long, text string").select(
        "id", tokens("text").alias("tokens")
    )
    groups = multigroup(1, 25, t)
    h_eq = {g: max(1, seg_count_dima(t, hi)) for g, (_, hi) in enumerate(groups)}
    h_del = {
        g: max(1, (seg_count_dima(t, hi) + 1) // 2)
        for g, (_, hi) in enumerate(groups)
    }
    decisions = choose_signature_schemes(df, groups, t, h_eq, h_del)
    hot_g = next(g for g, (lo, hi) in enumerate(groups) if lo <= 20 <= hi)
    cold_g = next(g for g, (lo, hi) in enumerate(groups) if lo <= 3 <= hi)
    assert decisions[hot_g] is True  # 80 identical 20-token docs: collisions dominate
    assert decisions[cold_g] is False  # distinct tiny docs: emission dominates

    # materiality guard (r13): the hot group carries ~all collision
    # mass, so it survives any sane material_frac; a fraction above
    # its share (1.0) un-flips it — and an immaterial group can never
    # flip however eliminable it is
    kept = choose_signature_schemes(
        df, groups, t, h_eq, h_del, material_frac=0.5
    )
    assert kept[hot_g] is True and kept[cold_g] is False
    none = choose_signature_schemes(
        df, groups, t, h_eq, h_del, material_frac=1.5
    )
    assert not any(none.values())


def test_semi_stream_similarity_transparent(spark, corpus):
    """Union of cached-pipeline batch outputs == one-shot exact join
    (the DSim-Join cache-transparency invariant), on a corpus small
    enough to cross cache hit/miss/eviction states."""
    from distributed_stream_processing_spark.operators.semi_stream_similarity import (
        run_semi_stream_similarity,
    )

    # id < 60 = originals, id >= 60 = planted mutations: qualifying
    # pairs cross the split (an id%k split keeps them same-side — the
    # corpus generator plants copies at id+60)
    stream = corpus.filter(F.col("id") < 60)
    stored = corpus.filter(F.col("id") >= 60)
    got = _pairs(
        run_semi_stream_similarity(stream, stored, T, n_batches=3).select(
            "a_id", "b_id", "inter", "uni"
        )
    )
    want = _pairs(brute_force_similarity_join(stream, stored, T))
    assert got == want != set()


def test_store_v5_artifacts_consistent(spark, corpus, tmp_path):
    """v5 persisted-store internal consistency: the saved sk column
    equals the recomputed hash (a drifted hash would silently split
    keys between a saved store and new probe rows), the persisted kv
    directory explodes back to exactly the flat signature rows, and an
    empty stored corpus fails loudly instead of a TypeError deep in
    group arithmetic."""
    from distributed_stream_processing_spark.operators.semi_stream_similarity import (
        SemiStreamSimilarityJoin,
        build_similarity_store,
        save_similarity_store,
    )

    stored = corpus.filter(F.col("id") >= 60)
    j = SemiStreamSimilarityJoin(stored=stored, threshold=T)
    path = str(tmp_path / "v5store")
    save_similarity_store(j, path)
    sigs = spark.read.parquet(f"{path}/sigs")
    assert (
        sigs.filter(F.col("sk") != F.xxhash64("g", "seg", "sig")).count() == 0
    )
    kv = spark.read.parquet(f"{path}/kv")
    flat = {
        (r.sk, r.b_id, r.b_sz, r.b_kind)
        for r in kv.select("sk", F.explode("rows").alias("r"))
        .select("sk", "r.*")
        .collect()
    }
    want = {
        (r.sk, r.b_id, r.b_sz, r.b_kind)
        for r in sigs.select("sk", "b_id", "b_sz", "b_kind").collect()
    }
    assert flat == want != set()
    with pytest.raises(ValueError, match="empty"):
        build_similarity_store(stored.limit(0), T)


def test_similarity_store_save_load_roundtrip(spark, corpus, tmp_path):
    """A pipeline rebuilt from the persisted signature store must emit
    exactly the batch outputs of the originally-built one (DSim's
    durable signature collection parity)."""
    from distributed_stream_processing_spark.operators.semi_stream_similarity import (
        SemiStreamSimilarityJoin,
        load_similarity_store,
        save_similarity_store,
    )

    stream = corpus.filter(F.col("id") < 60)
    stored = corpus.filter(F.col("id") >= 60)
    built = SemiStreamSimilarityJoin(stored=stored, threshold=T)
    path = str(tmp_path / "simstore")
    save_similarity_store(built, path)
    loaded = load_similarity_store(spark, path, T)

    def run(j):
        outs = [
            j.process_batch(stream.filter(F.pmod(F.col("id"), F.lit(2)) == b), b)
            for b in range(2)
        ]
        return _pairs(outs[0].unionByName(outs[1]))

    assert run(built) == run(loaded) != set()


def test_similarity_store_layout_version_gate(spark, corpus, tmp_path):
    """Loading a store saved under a DIFFERENT layout version must
    raise (r13): a layout mismatch silently DROPS pairs — e.g. sigs
    emitted at the old halved-H deletion count decoded under the
    full-H V-selection contract."""
    import pytest

    from distributed_stream_processing_spark.operators.semi_stream_similarity import (
        SemiStreamSimilarityJoin,
        load_similarity_store,
        save_similarity_store,
    )

    stored = corpus.filter(F.col("id") >= 60)
    j = SemiStreamSimilarityJoin(stored=stored, threshold=T)
    path = str(tmp_path / "verstore")
    save_similarity_store(j, path)
    # doctor the persisted groups table back to layout version 1
    groups = spark.read.parquet(f"{path}/groups")
    doctored = groups.withColumn("layout_version", F.lit(1))
    doctored.write.mode("overwrite").parquet(f"{path}/groups2")
    import shutil

    shutil.rmtree(f"{path}/groups")
    shutil.move(f"{path}/groups2", f"{path}/groups")
    with pytest.raises(ValueError, match="layout version"):
        load_similarity_store(spark, path, T)


def test_similarity_store_threshold_gate(spark, corpus, tmp_path):
    """A store built at one threshold must not load at another: its
    segment counts and signatures belong to the build threshold, so a
    load at a different one would silently drop pairs."""
    from distributed_stream_processing_spark.operators.semi_stream_similarity import (
        build_similarity_store,
        load_similarity_artifacts,
        save_similarity_artifacts,
    )

    stored = corpus.filter(F.col("id") >= 60)
    path = str(tmp_path / "tstore")
    save_similarity_artifacts(build_similarity_store(stored, Fraction(3, 4)), path)
    with pytest.raises(ValueError, match="threshold 3/4, the load asks for 4/5"):
        load_similarity_artifacts(spark, path, Fraction(4, 5))
    assert load_similarity_artifacts(spark, path, Fraction(3, 4)).threshold == Fraction(3, 4)


def test_dima_vsl_scheme_equals_brute_force(spark, corpus):
    """scheme='vsl' (per-record per-segment probe V-selection,
    DimaJoin.scala:330-479 granularity) must stay exact whatever
    probe levels the cost model assigns."""
    assert _pairs(dima_similarity_join(corpus, None, T, scheme="vsl")) == _pairs(
        brute_force_similarity_join(corpus, None, T)
    )
    left = corpus.filter(F.col("id") % 2 == 0)
    right = corpus.filter(F.col("id") % 2 == 1)
    assert _pairs(dima_similarity_join(left, right, T, scheme="vsl")) == _pairs(
        brute_force_similarity_join(left, right, T)
    )


def test_dima_vsl_prunes_hot_buckets(spark):
    """Skewed fixture: many index records share one hot segment
    content. V-selection must probe around the hot equality bucket
    (v=0 there, v=2 on cheap segments), producing strictly fewer
    candidate pairs than the all-equality scheme — with identical
    verified output."""
    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(200)]
    hot = " ".join(f"h{i}" for i in range(4))  # shared hot token block
    rows = []
    for i in range(150):
        k = rng.randint(8, 14)
        toks = rng.sample(vocab, k)
        # every stored doc carries the hot block -> one segment's
        # signature bucket goes quadratic under pure equality probing
        rows.append((i, hot + " " + " ".join(toks)))
    probe_rows = [(1000 + i, hot + " " + " ".join(rng.sample(vocab, 10)))
                  for i in range(20)]
    stored = spark.createDataFrame(rows, "id long, text string").select(
        "id", tokens("text").alias("tokens")
    )
    probe = spark.createDataFrame(probe_rows, "id long, text string").select(
        "id", tokens("text").alias("tokens")
    )
    n_eq = dima_similarity_join(
        probe, stored, T, scheme="equality", candidates_only=True
    ).count()
    n_vsl = dima_similarity_join(
        probe, stored, T, scheme="vsl", candidates_only=True
    ).count()
    assert n_vsl < n_eq
    assert _pairs(dima_similarity_join(probe, stored, T, scheme="vsl")) == _pairs(
        brute_force_similarity_join(probe, stored, T)
    )


def test_emit_sigs_deletion_layout_complete(spark):
    """Signature-level completeness of the semi-stream store's
    deletion layout: every brute-force qualifying pair must share at
    least one candidate instance under (seg-seg, seg-del, del-seg)
    matching — for ALL groups forced to the low-H layout."""
    from distributed_stream_processing_spark.functions.signatures import (
        multigroup,
        seg_count_dima,
    )
    from distributed_stream_processing_spark.operators.semi_stream_similarity import (
        _KEY,
        _emit_sigs,
    )

    t = Fraction(7, 10)
    rows = _random_corpus(40, seed=23)
    df = spark.createDataFrame(rows, "id long, text string").select(
        "id", tokens("text").alias("tokens")
    )
    # originals vs planted mutations: qualifying pairs cross the split
    left = df.filter(F.col("id") < 40)
    right = df.filter(F.col("id") >= 40)
    sizes = df.agg(F.max(F.size("tokens")).alias("hi")).first()
    groups = multigroup(1, int(sizes.hi / t) + 1, t)
    h_del = {
        g: max(1, (seg_count_dima(t, hi) + 1) // 2)
        for g, (lo, hi) in enumerate(groups)
    }
    deletion = {g: True for g in h_del}
    a = _emit_sigs(left, "a", True, groups, h_del, t, deletion)
    b = _emit_sigs(right, "b", False, groups, h_del, t, deletion)
    cand = {
        (r.a_id, r.b_id)
        for r in a.join(b, _KEY)
        .filter((F.col("a_kind") == 0) | (F.col("b_kind") == 0))
        .select("a_id", "b_id")
        .distinct()
        .collect()
    }
    want = {
        (r.a_id, r.b_id)
        for r in brute_force_similarity_join(left, right, t).collect()
    }
    assert want <= cand and want


def test_semi_stream_similarity_transparent_hypothesis(spark):
    """Randomized cache-transparency: union of cached-pipeline batch
    outputs == one-shot brute force for random corpora, thresholds,
    and batch counts — every cache state (cold, warm, evicting) and
    every scheme the chooser picks must be invisible in the output.
    Guards the r6 pipeline refactors (reused exprs, repartitioned
    store, lazy checkpoints, measured timings)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from distributed_stream_processing_spark.operators.semi_stream_similarity import (
        run_semi_stream_similarity,
    )

    @settings(max_examples=5, deadline=None)
    @given(
        seed=st.integers(0, 10_000),
        n=st.integers(20, 60),
        thr=st.sampled_from([(7, 10), (4, 5), (1, 2)]),
        nb=st.integers(1, 4),
    )
    def run(seed, n, thr, nb):
        rows = _random_corpus(n, seed)
        df = spark.createDataFrame(rows, "id long, text string").select(
            "id", tokens("text").alias("tokens")
        )
        rng = random.Random(seed + 1)
        cut = rng.randint(1, 3)
        stream = df.filter(F.col("id") % 4 < cut)
        stored = df.filter(F.col("id") % 4 >= cut)
        t = Fraction(*thr)
        got = _pairs(
            run_semi_stream_similarity(stream, stored, t, n_batches=nb).select(
                "a_id", "b_id", "inter", "uni"
            )
        )
        want = _pairs(brute_force_similarity_join(stream, stored, t))
        assert got == want

    run()


def test_vsl_vectorized_matches_heap():
    """The vectorized allocation (_vsl_flush: h cheapest of
    {c1_i} ∪ {max(c1_i, c2x_i)}) must allocate exactly h units per
    record at the SAME total cost as the reference heap greedy
    (_vsl_greedy) — tie-broken sets may differ, cost may not."""
    import random as rnd

    import pandas as pd

    from distributed_stream_processing_spark.operators.similarity_join import (
        _vsl_flush,
        _vsl_greedy,
    )

    rng = rnd.Random(7)
    out_cols = ["a_id", "a_sz", "g", "seg", "sig", "b_kind"]
    out_dtypes = {c: "int64" for c in out_cols}
    for trial in range(50):
        h = rng.randint(1, 12)
        g = rng.randint(0, 3)
        hs = {g: h}
        c1 = [rng.choice([0, 1, 2, 5, 100, 10_000]) for _ in range(h)]
        f1 = [rng.choice([0, 1, 3, 50]) for _ in range(h)]
        n_dels = [rng.randint(0, 3) for _ in range(h)]
        del_f0 = [[rng.choice([0, 2, 40]) for _ in range(k)] for k in n_dels]
        rows = []
        for s in range(h):
            rows.append((1, 10, g, s, 1000 + s, 0, c1[s], f1[s]))
            for d, df0 in enumerate(del_f0[s]):
                rows.append((1, 10, g, s, 2000 + 10 * s + d, 1, df0, 0))
        pdf = pd.DataFrame(
            rows,
            columns=["a_id", "a_sz", "g", "seg", "sig", "a_kind", "f0", "f1"],
        )
        got = _vsl_flush(pdf, hs, out_cols, out_dtypes)
        # unit accounting: v_i = (seg sig, kind 0 taken) + (kind 1 taken)
        v_vec = [0] * h
        for r in got.itertuples():
            if r.sig == 1000 + r.seg:  # the segment's own signature row
                v_vec[r.seg] += 1
        assert sum(v_vec) == h, (trial, v_vec)
        assert all(0 <= v <= 2 for v in v_vec)
        c2x = [f1[s] + sum(del_f0[s]) for s in range(h)]
        v_heap = _vsl_greedy(c1, c2x, h)

        def cost(v):
            return sum(
                (c1[s] if v[s] >= 1 else 0) + (c2x[s] if v[s] == 2 else 0)
                for s in range(h)
            )

        assert cost(v_vec) == cost(v_heap), (trial, v_vec, v_heap)
        # v == 2 segments must emit their deletion sigs (tolerance
        # probes vs index segments) and the kind-1 segment row
        for s in range(h):
            seg_rows = got[got["seg"] == s]
            if v_vec[s] == 2:
                assert (seg_rows["b_kind"] == 1).sum() == 1
                assert len(seg_rows) == 2 + n_dels[s]


def test_vsl_unclustered_fallback(spark, corpus, monkeypatch):
    """Force the pipeline's non-clustered V-selection path (pricing
    table outside the broadcast tier -> pricing join shuffles -> a_id
    re-cluster inside _vsl_probe_rows) and pin output equality with
    the clustered fast path + brute force. _build_hot_freq keeps the
    table inside HOT_TABLE_MAX_ROWS by construction, so without the
    forced gate this branch guards a real cliff untested (VERDICT r13
    missing #3 / ADVICE r13 medium: clustered and the broadcast tier
    now derive from the ONE shared constant)."""
    import distributed_stream_processing_spark.operators.semi_stream_similarity as sss
    import distributed_stream_processing_spark.operators.similarity_join as sj

    # force every group to the VSL layout so the pricing path runs
    monkeypatch.setattr(
        sj,
        "choose_signature_schemes",
        lambda stored, groups, *a, **k: {g: True for g in range(len(groups))},
    )
    stream = corpus.filter(F.col("id") < 60)
    stored = corpus.filter(F.col("id") >= 60)
    store = sss.build_similarity_store(stored, T)
    assert any(store.vsl.values()) and store.sig_freq is not None

    seen: list[bool] = []
    real = sj._vsl_probe_rows

    def spy(a, freq, hs, broadcast_freq=False, clustered=False, **kw):
        seen.append(clustered)
        return real(
            a, freq, hs, broadcast_freq=broadcast_freq, clustered=clustered,
            **kw,
        )

    monkeypatch.setattr(sj, "_vsl_probe_rows", spy)

    from distributed_stream_processing_spark.operators.semi_stream_similarity import (
        run_semi_stream_similarity,
    )

    got_fast = _pairs(
        run_semi_stream_similarity(
            stream, stored, T, n_batches=2, artifacts=store
        ).select("a_id", "b_id", "inter", "uni")
    )
    assert seen and all(seen), "expected the clustered fast path"

    seen.clear()
    # shrink the shared constant: bounded_broadcast's broadcast tier
    # and the clustered gate must BOTH flip off this one value
    monkeypatch.setattr(sss, "HOT_TABLE_MAX_ROWS", 0)
    got_fallback = _pairs(
        run_semi_stream_similarity(
            stream, stored, T, n_batches=2, artifacts=store
        ).select("a_id", "b_id", "inter", "uni")
    )
    assert seen and not any(seen), "expected the unclustered fallback"

    want = _pairs(brute_force_similarity_join(stream, stored, T))
    assert got_fast == got_fallback == want != set()


def test_semi_stream_empty_batch_flows(spark, corpus):
    """A micro-batch with ZERO query docs (idle stream interval —
    routine at scale) must flow through the cached pipeline: empty
    probe, empty V-selection Arrow pass, state maintained, empty
    output — and later batches still produce the exact join."""
    from distributed_stream_processing_spark.operators.semi_stream_similarity import (
        SemiStreamSimilarityJoin,
    )

    # id<60 vs rest splits planted near-dup pairs across the sides
    # (same split as the save/load round-trip test, which pins it
    # nonzero) — an even/odd split left zero qualifying pairs
    stream = corpus.filter(F.col("id") < 60)
    stored = corpus.filter(F.col("id") >= 60)
    j = SemiStreamSimilarityJoin(stored=stored, threshold=T)
    empty = stream.limit(0)
    out0 = j.process_batch(empty, 0)
    assert out0.count() == 0
    out1 = j.process_batch(stream, 1)
    j.flush_attribution()
    got = _pairs(out0.unionByName(out1))
    want = _pairs(brute_force_similarity_join(stream, stored, T))
    assert got == want != set()


def test_vsl_pricing_rides_corpus_broadcast_not_per_batch_join(
    spark, corpus, monkeypatch
):
    """r16 (VERDICT r15 task 6): with the corpus-lifetime sc.broadcast
    pricing in place, the per-batch probe plan must carry NO pricing
    join and NO scan of the hot frequency table — the V-selection's
    Arrow pass prices internally, so an empty batch's plan does no
    pricing work at all (the old shape re-collected and re-shipped
    the ~1M-row table on every batch, the measured empty-batch floor
    at the 100x VSL store). Output equality with the join-based path
    is pinned by test_vsl_unclustered_fallback; this pins the SHAPE.
    """
    import distributed_stream_processing_spark.operators.semi_stream_similarity as sss
    import distributed_stream_processing_spark.operators.similarity_join as sj

    monkeypatch.setattr(
        sj,
        "choose_signature_schemes",
        lambda stored, groups, *a, **k: {g: True for g in range(len(groups))},
    )
    stored = corpus.filter(F.col("id") >= 30)
    store = sss.build_similarity_store(stored, T)
    assert any(store.vsl.values()) and store.sig_freq is not None
    j = sss.SemiStreamSimilarityJoin(threshold=T, artifacts=store)
    assert j._freq_bc is not None, "corpus pricing broadcast not built"
    batch = corpus.filter(F.col("id") < 30)
    plan = (
        j._probe_rows(batch)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "Join" not in plan, f"pricing join leaked into the probe plan:\n{plan}"
    # the broadcast is shared: a second pipeline over the same store
    # must reuse the same handle, not re-collect the table
    j2 = sss.SemiStreamSimilarityJoin(threshold=T, artifacts=store)
    assert j2._freq_bc is j._freq_bc
    j.close()
    j2.close()


def test_concurrent_store_builders_do_not_race(spark, corpus, tmp_path):
    """Two builders hitting the SAME writable fixture dir with a stale
    on-disk store must both come back with working artifacts and leave
    either a complete loadable store or no store — never a
    half-deleted/half-written one (VERDICT r16 item 3: the old
    rmtree-in-place could race another session's ``groups/`` gate
    read). Every live-path mutation is now one atomic rename, pinned
    here with two threads racing the stale-store path end to end."""
    import os
    import threading

    from distributed_stream_processing_spark.operators.semi_stream_similarity import (
        load_similarity_artifacts,
    )
    from distributed_stream_processing_spark.plans.olap_plans import (
        _load_or_build_sim_store,
    )

    stored = corpus.filter(F.col("id") >= 30)
    sf_dir = str(tmp_path)
    path = os.path.join(sf_dir, "q48store")
    # plant a stale store: groups/ exists (passes the gate) but decodes
    # as garbage, forcing both builders through stale-evict + rebuild
    os.makedirs(os.path.join(path, "groups"))
    with open(os.path.join(path, "groups", "junk.parquet"), "w") as f:
        f.write("not parquet")

    results, errs = [], []

    def build():
        try:
            results.append(_load_or_build_sim_store(spark, sf_dir, stored, T))
        except Exception as e:  # pragma: no cover - the failure under test
            errs.append(e)

    threads = [threading.Thread(target=build) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, f"concurrent build raised: {errs}"
    assert len(results) == 2
    for store in results:
        assert store.sig_store.count() > 0
    # the published store (exactly one rename can win) must be complete
    assert os.path.isdir(os.path.join(path, "groups"))
    reloaded = load_similarity_artifacts(spark, path, T)
    assert reloaded.sig_store.count() == results[0].sig_store.count()
    # no temp/stale leftovers accumulate beside the fixture
    leftovers = [d for d in os.listdir(sf_dir) if d.startswith("q48store.")]
    assert leftovers == [], f"leaked build dirs: {leftovers}"


def test_partial_store_is_evicted_and_republished(spark, corpus, tmp_path):
    """A PARTIAL on-disk store — path exists but groups/ (written
    last) is missing, i.e. a save killed mid-write — must be evicted
    so the rebuild can publish: before the r18 fix (ADVICE r17) the
    groups/ gate skipped the load, the rename-aside never ran, and
    os.rename(tmp, path) failed ENOTEMPTY forever, silently charging
    every later session the full in-session rebuild."""
    import os

    from distributed_stream_processing_spark.operators.semi_stream_similarity import (
        load_similarity_artifacts,
    )
    from distributed_stream_processing_spark.plans.olap_plans import (
        _load_or_build_sim_store,
    )

    stored = corpus.filter(F.col("id") >= 30)
    sf_dir = str(tmp_path)
    path = os.path.join(sf_dir, "q48store")
    # plant the partial layout: sigs/ landed, groups/ never did
    os.makedirs(os.path.join(path, "sigs"))
    with open(os.path.join(path, "sigs", "part-0.parquet"), "w") as f:
        f.write("half-written")

    store = _load_or_build_sim_store(spark, sf_dir, stored, T)
    assert store.sig_store.count() > 0
    # the rebuild must have PUBLISHED over the evicted partial dir
    assert os.path.isdir(os.path.join(path, "groups"))
    reloaded = load_similarity_artifacts(spark, path, T)
    assert reloaded.sig_store.count() == store.sig_store.count()
    leftovers = [d for d in os.listdir(sf_dir) if d.startswith("q48store.")]
    assert leftovers == [], f"leaked build dirs: {leftovers}"


def test_orphaned_build_dirs_are_swept_by_age(spark, corpus, tmp_path):
    """Crash leftovers (q48store.tmp.* / q48store.stale.* from a
    process killed between save and rename) are swept on entry once
    older than 1 h; a YOUNG temp — possibly a live concurrent
    builder's — is left alone (ADVICE r17 low)."""
    import os
    import time as _time

    from distributed_stream_processing_spark.plans.olap_plans import (
        _load_or_build_sim_store,
    )

    stored = corpus.filter(F.col("id") >= 30)
    sf_dir = str(tmp_path)
    old_tmp = os.path.join(sf_dir, "q48store.tmp.deadbeef")
    old_stale = os.path.join(sf_dir, "q48store.stale.cafebabe")
    young_tmp = os.path.join(sf_dir, "q48store.tmp.12345678")
    for d in (old_tmp, old_stale, young_tmp):
        os.makedirs(d)
    past = _time.time() - 7200
    os.utime(old_tmp, (past, past))
    os.utime(old_stale, (past, past))

    store = _load_or_build_sim_store(spark, sf_dir, stored, T)
    assert store.sig_store.count() > 0
    assert not os.path.isdir(old_tmp), "aged orphan tmp not swept"
    assert not os.path.isdir(old_stale), "aged orphan stale not swept"
    assert os.path.isdir(young_tmp), "live-aged temp must not be touched"


def test_stale_sorted_sibling_is_never_read(spark, corpus, tmp_path):
    """A saved store's keyed-fetch source is its own flat ``sigs``
    table. A ``q48store_sorted_sk`` directory beside it (the copy the
    fetch experiments write, never checked against the live store) is
    not read, even when it holds rows of the right schema."""
    import os

    from distributed_stream_processing_spark.plans.olap_plans import (
        _load_or_build_sim_store,
    )

    stored = corpus.filter(F.col("id") >= 30)
    sf_dir = str(tmp_path)
    _load_or_build_sim_store(spark, sf_dir, stored, T)  # builds and saves
    path = os.path.join(sf_dir, "q48store")
    assert os.path.isdir(os.path.join(path, "groups"))
    stale = os.path.join(sf_dir, "q48store_sorted_sk")
    spark.range(3).selectExpr(
        "id AS sk", "id AS b_id", "1 AS b_sz", "0 AS b_kind"
    ).write.parquet(stale)
    loaded = _load_or_build_sim_store(spark, sf_dir, stored, T)
    assert loaded.flat_sig_path == os.path.join(path, "sigs")


def test_driver_data_dir_never_receives_a_persisted_store(spark, corpus):
    """The driver's /root/testdata is a dr-xr-xr-x tree, but the
    engine runs as root, where os.access(dir, W_OK) is TRUE anyway —
    the pre-r18 writability gate silently persisted the q48 index
    beside the driver's parquet inputs (cross-run precomputation the
    bench rules forbid, and measurably slower per run than the
    in-session memoized store). The gate is now the PATH itself:
    anything under /root/testdata builds in-session, loads nothing,
    and writes nothing."""
    import os

    from distributed_stream_processing_spark.plans.olap_plans import (
        _load_or_build_sim_store,
    )

    sf_dir = "/root/testdata/sf0.001"
    assert os.path.isdir(sf_dir), "driver fixture dir missing"
    stored = corpus.filter(F.col("id") >= 30)
    store = _load_or_build_sim_store(spark, sf_dir, stored, T)
    assert store.sig_store.count() > 0
    leftovers = [n for n in os.listdir(sf_dir) if n.startswith("q48store")]
    assert leftovers == [], f"store persisted under driver data: {leftovers}"


def test_dima_verify_uses_bitmask_on_small_vocab(spark, corpus):
    """dima_similarity_join's verification must compile to
    bit_count(a&b) on dictionary bitmasks when the vocabulary fits 62
    bits (the similarity_join auto-switch, extended to the dima path
    in r18): the per-pair array_intersect over string arrays was the
    codegen span measured sporadically deoptimizing (identical q17
    runs at 27 s vs 1,216 s stage CPU). Exactness is covered by the
    brute-force equality tests above (this corpus's vocab is 60) and
    the q17/q53/q54 oracle gates; this pins the plan shape."""
    left = corpus.filter(F.col("id") % 3 == 0)
    right = corpus.filter(F.col("id") % 3 != 0)
    df = dima_similarity_join(left, right, T)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "bit_count" in plan, f"mask verify missing:\n{plan[:2000]}"
    assert "array_intersect" not in plan, "array verify leaked back in"


def test_dima_verify_falls_back_to_arrays_on_large_vocab(spark):
    """Vocabulary >62 distinct tokens -> token_bitmask_dict returns
    None and the general array-intersect verify runs (exact for any
    vocabulary; the 100 TB regime)."""
    import random

    rng = random.Random(11)
    vocab = [f"v{i}" for i in range(200)]
    rows = [
        (i, " ".join(rng.sample(vocab, rng.randint(5, 20))))
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "id long, text string").select(
        "id", tokens("text").alias("tokens")
    )
    out = dima_similarity_join(df, None, T)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "array_intersect" in plan
    assert _pairs(out) == _pairs(brute_force_similarity_join(df, None, T))
