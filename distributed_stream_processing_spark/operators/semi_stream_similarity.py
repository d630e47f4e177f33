"""Semi-stream similarity join with a signature cache — DSim-Join's
phase-2 pipeline (SURVEY §3.2) re-expressed on DataFrames.

Reference flow per micro-batch (ds_join/DS_SimJoin_stream.scala:
455-866): query docs -> signatures -> zipPartitions probe of the
cached signature store (hit), missed signatures fetched from the
remote Mongo signature collection in per-partition batched lookups,
verify, union; signature-keyed LRU + eviction + frequency-based
admission maintain the cache.

Engine version: the signature store is a DataFrame
(g, seg, sig, b_id, b_sz) — ids and sizes only; document payloads
live in a separate per-corpus (b_id, b_rep) table joined onto
deduped candidate pairs at verification, so the cache rebuild and
every probe shuffle move ids, not documents. The cache holds a
SUBSET OF WHOLE SIGNATURE KEYS of that store (all rows of a key
enter/leave together), which makes the pipeline provably
transparent: every probe row (for sparse groups, the per-record
V-selection's CHOSEN rows — see build_similarity_store) either joins
the cache (hit) or the fetched rows for its key (miss) — the union
of candidates is exactly the one-shot join's.
The LRU is the key registry: a key in the LRU has all of its store
rows cached, or none exist (negative caching — probed keys absent
from the store are not refetched every batch).

LRU/eviction/controller are shared with the equi-join cache layer.

KEY LAYOUT (r14): every per-batch join is keyed by ``sk``, the 64-bit
xxhash64 of the signature triple (g, seg, sig), instead of the triple
itself — measured 13x cheaper on the fetch scan (74M-row LeftSemi
7.2 s -> 0.5 s at the 100x store; the 3-column composite hash/compare
dominated the whole scan). Distinct triples colliding on sk is a
~1e-7-per-corpus event and SAFE either way: fetch/cache/evict operate
on whole sk-groups (all store rows of an sk enter/leave together), so
completeness is untouched, and a collision only adds spurious
candidates that exact verification removes — the same contract as the
signature hashing itself.

The per-batch miss fetch reads the KEY DIRECTORY ``kv_store`` (one row
per distinct sk, store rows packed as an array), not the flat
signature store: the reference's miss path is an indexed point lookup
into its remote signature collection (per-partition Mongo ``in()``,
ds_join/DS_SimJoin_stream.scala:774-832), and the directory is the
Spark-native shape of that index — the scan touches one row per KEY
(27M at the 100x corpus) instead of one per store row (74M), and the
matched groups explode to exactly the fetched rows. Measured at the
100x store: full fetch 7.9-8.6 s/batch (r13 layout) -> 0.6 s.
Bucket-set pruning of the scan was measured and REJECTED: a 500-doc
probe batch misses ~21k keys covering 4069/4096 hash buckets (every
pruning granule holds a selected key — scan-skipping is
information-theoretically dead at this batch volume), and even at the
reference's own 10-doc batches (484/4096 buckets) the bucket filter
cost more than the full directory scan it pruned (0.54 s vs 0.23 s;
tools/exp_fetch_prune*.py).

STATE: streaming/lru_state.py (``CacheState``, shared with the equi
pipeline) owns the deferred-compaction cache/LRU, the batch's one
combined action and every pin; this module builds the probe, the miss
detect, the key-directory fetch and the verify.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from fractions import Fraction
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from distributed_stream_processing_spark.functions.text import jaccard_parts
from distributed_stream_processing_spark.operators.semi_stream_join import (
    replay_in_batches,
)
from distributed_stream_processing_spark.operators.skew import bounded_broadcast
from distributed_stream_processing_spark.streaming.cache_controller import (
    AdaptiveCacheController,
)
from distributed_stream_processing_spark.streaming.lru_state import (
    CachedPipeline,
    CacheState,
)

# the cache/LRU/fetch key: xxhash64 of the signature triple — see the
# module docstring's KEY LAYOUT note for why the triple itself is not
# the join key (emitted by _emit_sigs; _probe_rows recomputes it on
# V-selection output)
_KEY = ["sk"]


def _sig_exprs(
    own_group_only: bool,
    groups: list,
    hs: dict,
    t: Fraction,
    deletion: dict | None = None,
):
    """Build the two Column expressions of the signature emitter — the
    group-membership struct array and the (single, group-uniform)
    signature-layout expression — over a fixed input column
    ``tokens``.

    Constructing these is pure driver/py4j work that the streaming
    pipeline does ONCE at init, reusing the immutable Column objects
    on every micro-batch (resolution is by name at analysis time, so
    reuse across same-schema DataFrames is sound). Building per batch
    was ~0.7s/batch of driver latency — a third of the r5 batch time.

    SHAPE MATTERS FOR CODEGEN: the group-varying parameters (segment
    count h, deletion flag) ride as literal fields IN the exploded
    membership struct, and one signature expression reads them as
    columns — instead of a per-group CASE over full signature
    subtrees. The CASE form grows linearly in groups x layouts, blows
    janino's method limits, and silently drops the Generate to
    interpreted expression eval — measured ~100x slower on the r10
    100x fixture (5 min/task in CaseWhen.eval/ArrayTransform.eval
    where the uniform form codegens)."""
    from distributed_stream_processing_spark.functions.signatures import (
        deletion_signatures,
        segment_signatures,
    )

    sz = F.size("tokens")
    memberships = []
    for g, (lo, hi) in enumerate(groups):
        if own_group_only:
            cond = (sz >= lo) & (sz <= hi)
        else:
            lo_len = -(-t.numerator * lo // t.denominator)
            hi_len = hi * t.denominator // t.numerator
            cond = (sz >= lo_len) & (sz <= hi_len)
        memberships.append(
            F.when(
                cond,
                F.struct(
                    F.lit(g).cast("int").alias("g"),
                    F.lit(hs[g]).cast("int").alias("h"),
                    F.lit(
                        1 if (deletion and deletion.get(g)) else 0
                    ).cast("int").alias("del"),
                ),
            )
        )
    garr = F.array_compact(F.array(*memberships))

    h = F.col("gm.h")
    segs = F.transform(
        segment_signatures(F.col("tokens"), h),
        lambda s: F.struct(
            s.seg.alias("seg"), s.sig.alias("sig"), F.lit(0).alias("kind")
        ),
    )
    if deletion and any(deletion.values()):
        dels = F.transform(
            deletion_signatures(F.col("tokens"), h),
            lambda s: F.struct(
                s.seg.alias("seg"), s.sig.alias("sig"), F.lit(1).alias("kind")
            ),
        )
        sig_expr = F.when(F.col("gm.del") == 1, F.concat(segs, dels)).otherwise(
            segs
        )
    else:
        sig_expr = segs
    return garr, sig_expr


def _emit_sigs(
    df: DataFrame,
    prefix: str,
    own_group_only: bool,
    groups: list,
    hs: dict,
    t: Fraction,
    deletion: dict | None = None,
    exprs=None,
) -> DataFrame:
    """(id, sz, g, seg, sig, kind) signature rows. Probe side emits
    for its own group; index side for every length-compatible group.
    ``deletion[g]`` makes group g emit BOTH signature kinds (segments
    kind=0 PLUS per-segment single-token-deletion signatures kind=1)
    at the caller's chosen ``hs[g]`` — the halved-H deletion layout
    when hs = h_del (dima_similarity_join's scheme="deletion") or the
    full-H VSL layout when hs = h_eq (the pipeline's per-record
    V-selection, see build_similarity_store).

    ONE scan of ``df``: each record explodes over its compatible
    group structs (g, h, del) and a single group-uniform expression
    reads the layout parameters from the struct (a per-group
    filter+union would re-scan the corpus once per group per side —
    6x read amplification at 100 TB for nothing; a per-group CASE
    over signature subtrees falls out of codegen — see _sig_exprs).
    Pass ``exprs`` (from ``_sig_exprs``) to skip the costly per-call
    expression build."""
    garr, sig_expr = exprs or _sig_exprs(own_group_only, groups, hs, t, deletion)
    base = df.select(
        F.col("id").alias(f"{prefix}_id"),
        F.size("tokens").alias(f"{prefix}_sz"),
        F.col("tokens"),
        F.explode(garr).alias("gm"),
    )
    return (
        base.select(
            f"{prefix}_id",
            f"{prefix}_sz",
            F.col("gm.g").alias("g"),
            F.explode(sig_expr).alias("s"),
        )
        .select(
            f"{prefix}_id",
            f"{prefix}_sz",
            "g",
            "s.seg",
            "s.sig",
            F.col("s.kind").alias(f"{prefix}_kind"),
        )
        .withColumn("sk", F.xxhash64("g", "seg", "sig"))
    )


def build_similarity_store(
    stored: DataFrame, threshold: Fraction | float
) -> SimilarityStore:
    """Index a stored corpus for the cached similarity pipeline: length
    groups widened to the stream's length-filter reach, per-group
    segment counts, the small-vocabulary bitmask dictionary, the
    (b_id, b_sz, b_rep) payload table, and the signature store."""
    from distributed_stream_processing_spark.functions.signatures import (
        multigroup,
        seg_count_dima,
    )
    from distributed_stream_processing_spark.operators.similarity_join import (
        _mask_col,
        choose_signature_schemes,
        token_bitmask_dict,
    )

    t = Fraction(threshold).limit_denominator(1_000_000)
    sizes = stored.agg(
        F.min(F.size("tokens")).alias("lo"), F.max(F.size("tokens")).alias("hi")
    ).first()
    if sizes.lo is None:
        # an empty stored corpus has no length groups to index — fail
        # loudly here instead of a TypeError deep in group arithmetic
        raise ValueError(
            "build_similarity_store: stored corpus is empty — nothing to index"
        )
    # widen groups so stream docs within the length filter of any
    # stored doc fall inside a group
    lmin = max(1, int(sizes.lo * t))
    lmax = max(1, -(-sizes.hi * t.denominator // t.numerator))
    groups = multigroup(lmin, lmax, t)
    # per-group probe scheme from measured index frequencies (the T5
    # cost model) with the ELIMINATION criterion: a group flips to the
    # per-record V-selection layout (VSL — both signature kinds in the
    # store at FULL segment count, probe rows priced per record
    # against the index frequency table, _vsl_probe_rows) only when
    # the halved-H deletion layout would remove >=90% of the collision
    # mass — i.e. when collisions are accidental single-token-segment
    # hits (the sparse-corpus regime: 10x stress data grew candidates
    # 104x under pure equality; VSL measured 17x/10x fewer deduped
    # candidates than the halved-H group layout at 1x/10x). Dense
    # groups — whose collisions are true near-pairs that verify either
    # way — keep plain equality, which measured ~15% faster end-to-end
    # there (pricing + probe re-emission buys nothing when every
    # bucket is uniformly warm). The materiality guard (1% of total
    # collision mass) gates the MACHINERY, not individual groups
    # (r14): the pricing cost is per-batch FIXED, so sf0.1 — whose
    # only eliminable groups hold 0.1%/0.5% of mass — stays on pure
    # zero-overhead equality (r13 measured engaging it there: 2x
    # end-to-end for a 0.8% cut), while a corpus with one material
    # eliminable group flips EVERY eliminable group: the 10x stress
    # corpus's 1.3%-mass short groups dominated the residual
    # candidates once the big groups flipped, and including them cut
    # deduped candidates a further 3.5x (727k -> 207k) at neutral
    # wall — 10x candidate growth drops 93x -> 27x.
    h_eq = {g: max(1, seg_count_dima(t, hi)) for g, (lo, hi) in enumerate(groups)}
    h_del = {
        g: max(1, (seg_count_dima(t, hi) + 1) // 2)
        for g, (lo, hi) in enumerate(groups)
    }
    vsl = choose_signature_schemes(
        stored, groups, t, h_eq, h_del, eliminate_ratio=0.1,
        material_frac=0.01,
    )
    # VSL groups keep the FULL segment count (the probe distributes
    # exactly H_g units, v_i in {0,1,2} — pigeonhole completeness)
    hs = dict(h_eq)
    # dictionary bitmask over the STORED vocabulary: stream-only
    # tokens cannot intersect any stored doc, so masking them out
    # keeps (inter, uni) exact as long as sizes count all tokens
    mapping = token_bitmask_dict(stored)
    # verification payloads live in ONE compact per-corpus table
    # (b_id -> rep); signature rows carry (id, sz) only, so the
    # cache rebuild and every probe shuffle move ids, not documents
    rep = _mask_col(mapping) if mapping is not None else F.col("tokens")
    rep_store = stored.select(
        F.col("id").alias("b_id"),
        F.size("tokens").alias("b_sz"),
        rep.alias("b_rep"),
    ).cache()
    rep_rows = rep_store.count()
    # The probe join BROADCASTS the per-batch probe side and streams
    # the signature store, so the store's own partitioning sets the
    # parallelism of candidate generation + map-side pair dedup — the
    # pipeline's hottest stage (~50 collision rows per store row on
    # dense corpora). A store built from a small parquet scan arrives
    # as ONE partition and runs that stage single-threaded (the r5
    # bench regression: ~1.3s/batch lost at sf0.1); round-robin
    # repartition at build time (paid once per corpus) restores full
    # fan-out without adding any per-batch shuffle.
    n_part = int(stored.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    sig_store = (
        _emit_sigs(stored, "b", False, groups, hs, t, vsl)
        .repartition(n_part)
        .cache()
    )
    sig_store.count()
    kv_store = _build_kv_directory(sig_store, n_part)
    sig_freq, sig_freq_rows = _build_hot_freq(sig_store, vsl)
    # the flat store exists only to DERIVE the key directory and the
    # pricing table — no per-batch path touches it (the fetch reads
    # kv_store, pricing reads sig_freq), so keeping it cached would
    # roughly double executor state for nothing (74M flat + 27M
    # directory rows at the 100x corpus; ADVICE r14). Audit tooling
    # that still scans it recomputes from lineage (or reads the saved
    # parquet) and is fp-cached either way.
    sig_store.unpersist()
    return SimilarityStore(
        groups, hs, mapping, rep_store, sig_store, t, vsl, sig_freq,
        sig_freq_rows, kv_store, rep_rows,
    )


def _build_kv_directory(sig_store: DataFrame, n_part: int) -> DataFrame:
    """The fetch-serving KEY DIRECTORY: one row per distinct sk with
    that key's store rows packed as an array — the Spark shape of the
    reference's indexed signature collection (module docstring). Built
    once per corpus (one groupBy shuffle); every micro-batch fetch then
    scans rows-per-KEY, not rows-per-store-row, with a single-long
    join key. At a real 100 TB deployment the flat store persists to
    parquet and only this directory stays cached."""
    kv = (
        sig_store.groupBy("sk")
        .agg(F.collect_list(F.struct("b_id", "b_sz", "b_kind")).alias("rows"))
        .repartition(n_part)
        .cache()
    )
    kv.count()
    return kv


# a signature key enters the pricing table only when its total
# collision mass could matter to the allocation; keys below this are
# priced as cold (the left-join default). Pricing accuracy only
# shapes EFFICIENCY — any exact-h allocation is complete — so
# dropping the long singleton tail shrinks the table by ~50x on
# sparse corpora, small enough to broadcast into every batch's
# pricing join instead of scanning the full frequency table per batch
HOT_KEY_MIN_MASS = 3
# the pricing table must stay in bounded_broadcast's broadcast tier:
# above this the per-batch pricing join would fall to a shuffled hash
# join — shuffling a corpus-scale table EVERY batch (measured at the
# 100x store: 2.56M mass>=3 keys pushed the steady batch 11.7->29 s).
# The threshold doubles until the table fits; only the hottest
# buckets carry pricing signal anyway.
HOT_TABLE_MAX_ROWS = 1_000_000


def _build_hot_freq(sig_store: DataFrame, vsl: dict) -> tuple:
    """The VSL pricing input: per-key (f0, f1) index frequencies over
    the VSL groups, restricted to HOT keys (mass >= HOT_KEY_MIN_MASS,
    doubled until the table fits HOT_TABLE_MAX_ROWS), built once per
    corpus (the reference builds its frequency map once per index,
    DimaJoin.scala:330-360). Keyed by sk — the pricing join is then a
    single-long broadcast lookup (an sk collision only mis-PRICES one
    key's allocation; any exact-h allocation stays complete). Returns
    (df | None, rows)."""
    if not any(vsl.values()):
        return None, 0
    vsl_gs = [g for g, v in vsl.items() if v]
    freq_full = (
        sig_store.filter(F.col("g").isin(vsl_gs))
        .groupBy("sk")
        .agg(
            F.sum(F.when(F.col("b_kind") == 0, 1).otherwise(0)).alias("f0"),
            F.sum(F.when(F.col("b_kind") == 1, 1).otherwise(0)).alias("f1"),
        )
        .cache()
    )
    mass = F.col("f0") + F.col("f1")
    thr = HOT_KEY_MIN_MASS
    n = freq_full.filter(mass >= thr).count()
    while n > HOT_TABLE_MAX_ROWS:
        thr *= 2
        n = freq_full.filter(mass >= thr).count()
    sig_freq = freq_full.filter(mass >= thr).cache()
    sig_freq.count()
    freq_full.unpersist()
    return sig_freq, n


def _freq_broadcast(sig_freq: DataFrame):
    """Collect the (bounded, <= HOT_TABLE_MAX_ROWS) hot pricing table
    ONCE and ship it as a SparkContext broadcast of sorted numpy
    arrays — the probe path's mapInPandas pass then prices via
    searchsorted with zero per-batch plan cost (no pricing join, no
    per-batch driver collect/re-broadcast). Arrow-accelerated collect;
    ~24 MB at the 1M-row cap."""
    import numpy as np

    spark = sig_freq.sparkSession
    key = "spark.sql.execution.arrow.pyspark.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "true")
    try:
        pdf = sig_freq.select("sk", "f0", "f1").toPandas()
    finally:
        spark.conf.set(key, prev)
    order = np.argsort(pdf["sk"].to_numpy("int64"), kind="stable")
    return spark.sparkContext.broadcast(
        (
            pdf["sk"].to_numpy("int64")[order],
            pdf["f0"].to_numpy("int64")[order],
            pdf["f1"].to_numpy("int64")[order],
        )
    )


def _verify(cands: DataFrame, t: Fraction, masked: bool) -> DataFrame:
    """Exact (inter, uni) verification over UNIQUE candidate pairs
    carrying (a_sz, a_rep, b_sz, b_rep)."""
    if masked:
        inter = F.bit_count(F.col("a_rep").bitwiseAND(F.col("b_rep"))).cast("bigint")
        uni = (F.col("a_sz") + F.col("b_sz") - inter).cast("bigint")
    else:
        inter_c, uni_c = jaccard_parts(F.col("a_rep"), F.col("b_rep"))
        inter, uni = inter_c.cast("bigint"), uni_c.cast("bigint")
    return (
        cands.withColumn("inter", inter)
        .withColumn("uni", uni)
        .filter(t.denominator * F.col("inter") >= t.numerator * F.col("uni"))
        .select("a_id", "b_id", "inter", "uni")
    )


@dataclass
class SimilarityStore:
    """The corpus-level, batch-independent artifacts of the pipeline:
    length groups, per-group segment counts, bitmask dictionary, the
    payload table, and the signature store. Build once per corpus
    (the reference builds its signature collection once and keeps it
    in the remote store) — any number of pipeline instances, each
    with fresh cache/LRU state, can share one."""

    groups: list
    hs: dict
    mapping: dict | None
    rep_store: DataFrame
    sig_store: DataFrame
    # the Jaccard threshold the signatures were built for: the segment
    # counts hs and the signature layout depend on it
    threshold: Fraction
    # per-group VSL flags: a True group's store rows carry BOTH
    # signature kinds at full H and its probe rows are priced per
    # record against sig_freq (_vsl_probe_rows); False groups are
    # plain equality
    vsl: dict | None = None
    # (sk, f0, f1) HOT-key pricing table (see HOT_KEY_MIN_MASS),
    # cached, with its driver-known row count gating the per-batch
    # pricing-join broadcast
    sig_freq: DataFrame | None = None
    sig_freq_rows: int = 0
    # (sk, rows array<struct<b_id,b_sz,b_kind>>) key directory — the
    # fetch-serving index shape (_build_kv_directory)
    kv_store: DataFrame | None = None
    # driver-known payload-table row bound (one row per stored doc),
    # gating the per-batch verification payload join's broadcast tier
    # (None = unknown -> unhinted spillable join)
    rep_rows: int | None = None
    # corpus-lifetime sc.broadcast of the sorted pricing arrays
    # ((sk, f0, f1) numpy triple), built lazily by the FIRST pipeline
    # over this store and reused by every later one: the per-batch
    # DataFrame broadcast of sig_freq re-collected and re-shipped ~1M
    # rows on every batch's plan — the dominant fixed cost of empty
    # batches at the 100x VSL store (VERDICT r15 task 6); an
    # sc.broadcast ships once per executor for the corpus lifetime
    freq_bc: object = None


@dataclass
class SemiStreamSimilarityJoin(CachedPipeline):
    stored: DataFrame | None = None  # (id, tokens) — the remote document store
    threshold: Fraction | float = Fraction(4, 5)
    controller: AdaptiveCacheController = field(default_factory=AdaptiveCacheController)
    artifacts: SimilarityStore | None = None  # prebuilt corpus store
    # compaction cadence (streaming/lru_state.py): the real cadence is
    # min(compact_every, controller window). Deferring the compaction
    # removed the per-batch O(state) rewrite, the pipeline's fixed
    # floor (empty batches cost 2.0-4.3 s rewriting unchanged rows).
    compact_every: int = 8
    # pluggable keyed remote fetch (SURVEY S7; sources/fetcher.py):
    # any object with fetch(missed_keys) -> DataFrame in the cache
    # layout (sk, b_id, b_sz, b_kind). None = the default in-session
    # key-directory semi-scan; a PushdownKeyedFetcher over the flat
    # signature collection turns the miss path into the external
    # WHERE sk IN (...) shape (the reference's per-partition Mongo
    # in() lookups) a 100 TB signature store needs.
    fetcher: object | None = None
    sig_store: DataFrame | None = None
    kv_store: DataFrame | None = None
    _groups: list | None = None
    _hs: dict | None = None

    def __post_init__(self):
        self.threshold = Fraction(self.threshold).limit_denominator(1_000_000)
        a = self.artifacts or build_similarity_store(self.stored, self.threshold)
        self._groups, self._hs, self._mapping = a.groups, a.hs, a.mapping
        self._vsl = a.vsl or {}
        self._vsl_groups = sorted(g for g, v in self._vsl.items() if v)
        self.sig_freq = a.sig_freq
        self._sig_freq_rows = a.sig_freq_rows
        # corpus-lifetime pricing broadcast (see SimilarityStore.
        # freq_bc): built once per store, shared across pipeline
        # instances; gated on the SAME constant as the DataFrame
        # broadcast tier it replaces, so a table past the cap falls
        # to the join-based path (test_vsl_unclustered_fallback)
        self._freq_bc = None
        if a.sig_freq is not None and a.sig_freq_rows <= HOT_TABLE_MAX_ROWS:
            if a.freq_bc is None:
                a.freq_bc = _freq_broadcast(a.sig_freq)
            self._freq_bc = a.freq_bc
        self.rep_store, self.sig_store = a.rep_store, a.sig_store
        self._rep_rows = a.rep_rows
        self.kv_store = a.kv_store
        if self.kv_store is None:
            n_part = int(
                self.sig_store.sparkSession.conf.get(
                    "spark.sql.shuffle.partitions"
                )
            )
            self.kv_store = _build_kv_directory(self.sig_store, n_part)
        spark = self.sig_store.sparkSession
        # cache rows carry the fetch layout: (sk, b_id, b_sz, b_kind)
        self._state = CacheState(
            spark.createDataFrame(
                [], "sk long, b_id long, b_sz int, b_kind int"
            ).cache(),
            spark.createDataFrame([], "sk long, last_seen long").cache(),
            _KEY, self.controller, self.compact_every,
        )
        # probe-side signature expressions built ONCE and reused per
        # batch (see _sig_exprs: ~0.7s of py4j construction per call)
        self._probe_exprs = _sig_exprs(
            True, self._groups, self._hs, self.threshold, self._vsl
        )
        # same for the (vocab-sized) bitmask rep expression and the
        # length/kind pair filter — immutable Columns, batch-invariant
        from distributed_stream_processing_spark.operators.similarity_join import (
            _mask_col,
        )

        self._rep_expr = (
            _mask_col(self._mapping)
            if self._mapping is not None
            else F.col("tokens")
        )
        t = self.threshold
        # length filter only: VSL probe rows each NAME the store kind
        # they target (b_kind is an equi-key of the candidate joins),
        # so deletion x deletion is never generated in the first place
        self._pair_filter = (
            (t.denominator * F.col("b_sz") >= t.numerator * F.col("a_sz"))
            & (t.denominator * F.col("a_sz") >= t.numerator * F.col("b_sz"))
        )

    def _sigs(self, df: DataFrame, prefix: str, own_group_only: bool) -> DataFrame:
        return _emit_sigs(
            df, prefix, own_group_only, self._groups, self._hs, self.threshold,
            self._vsl,
            exprs=self._probe_exprs if own_group_only else None,
        )

    def _probe_rows(self, batch: DataFrame) -> DataFrame:
        """Per-batch probe rows (a_id, a_sz, sk, b_kind).

        Equality groups pass their segment rows straight through
        (b_kind = 0). VSL groups go through per-record V-selection:
        the HOT-key pricing table (corpus-level, ~50x smaller than the
        full frequency table) rides a bounded_broadcast into the
        pricing join, and the vectorized greedy keeps only the chosen
        probe rows, each naming the store kind it targets. The
        per-batch plan never shuffles or scans the corpus-scale
        frequency table. Output rows carry only the hashed key — every
        downstream join (cache hit, fetched miss, LRU maintenance) is
        a single-long equi-join (module docstring KEY LAYOUT)."""
        from distributed_stream_processing_spark.operators.similarity_join import (
            _vsl_probe_rows,
        )

        passthrough = F.col("a_kind").alias("b_kind")  # eq rows: kind 0
        if not self._vsl_groups:
            raw = self._sigs(batch, "a", own_group_only=True)
            return raw.select("a_id", "a_sz", "sk", passthrough)
        # the greedy's parallelism = the batch's partition count (the
        # clustered Arrow pass adds no exchange of its own), and a
        # batch read off a small parquet scan arrives as 1-3
        # partitions — round-robin the COMPACT doc rows (id + tokens,
        # ~100x fewer rows than their exploded signatures) so the
        # per-record pricing fans out across the cluster
        n_part = int(
            self.sig_store.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )
        raw = self._sigs(batch.repartition(n_part), "a", own_group_only=True)
        in_vsl = F.col("g").isin(self._vsl_groups)
        direct = raw.filter(~in_vsl).select("a_id", "a_sz", "sk", passthrough)
        to_price = raw.filter(in_vsl)
        # clustered: probe rows come straight off the signature
        # emitter's explode and a BROADCAST pricing join streams them,
        # so records are already contiguous — no exchange needed. If
        # the hot-key table outgrew the broadcast tier, the pricing
        # join shuffles and clustering is lost — fall back to the
        # a_id exchange inside _vsl_probe_rows. Record contiguity
        # therefore depends on bounded_broadcast choosing its
        # broadcast tier, so BOTH gates derive from the ONE comparison
        # against HOT_TABLE_MAX_ROWS (ADVICE r13: two coincidentally-
        # equal constants would silently under-allocate split records
        # if either moved). _build_hot_freq keeps the table inside the
        # threshold by construction; the fallback stays live and
        # output-equivalent (test_vsl_unclustered_fallback forces it).
        if self._freq_bc is not None:
            # corpus-lifetime sc.broadcast pricing (r16): the pricing
            # JOIN disappears from the per-batch plan — frequencies
            # are looked up inside the same Arrow pass that runs the
            # greedy, rows stay record-contiguous with no exchange,
            # and an empty batch's plan carries no pricing work at all
            chosen = _vsl_probe_rows(
                to_price, None, self._hs, clustered=True,
                freq_bc=self._freq_bc,
            )
        else:
            fits_broadcast = self._sig_freq_rows <= HOT_TABLE_MAX_ROWS
            freq_b = bounded_broadcast(
                self.sig_freq, self._sig_freq_rows,
                max_rows=HOT_TABLE_MAX_ROWS,
            )
            chosen = _vsl_probe_rows(
                to_price, freq_b, self._hs, clustered=fits_broadcast,
                join_key=["sk"],
            )
        chosen = chosen.withColumn(
            "sk", F.xxhash64("g", "seg", "sig")
        ).select("a_id", "a_sz", "sk", "b_kind")
        return direct.unionByName(chosen)

    def _fetch(self, missed_keys: DataFrame) -> DataFrame:
        """Fetch phase: the store rows of the missed keys, in the cache
        layout. A fetcher may DECLINE (return None — AutoFetcher's scan
        pick with no delegate); the inline default then reads the KEY
        DIRECTORY — one row per distinct sk, matched groups exploded
        back to flat cache rows — with a single-long broadcast
        semi-join: the engine's analogue of the reference's indexed
        point lookup (module docstring; measured 7.9-8.6 s -> ~0.6 s
        per batch at the 100x store)."""
        fetch_in = (
            self.fetcher.fetch(missed_keys) if self.fetcher is not None else None
        )
        if fetch_in is None:
            fetch_in = (
                self.kv_store.join(F.broadcast(missed_keys), _KEY, "left_semi")
                .select("sk", F.explode("rows").alias("r"))
                .select("sk", "r.b_id", "r.b_sz", "r.b_kind")
            )
        return fetch_in

    def _verified(
        self, batch: DataFrame, probe: DataFrame, fetched: DataFrame
    ) -> DataFrame:
        """Verify phase: the batch's candidate pairs from the cache (hit)
        and the fetched rows (miss), deduped, joined to their payloads
        and verified exactly."""
        # b_kind is an equi-key: each probe row joins only the store
        # kind it targets (VSL rows name theirs; equality rows are 0)
        hit = self.cache.join(F.broadcast(probe), _KEY + ["b_kind"])
        miss = fetched.join(F.broadcast(probe), _KEY + ["b_kind"])
        # candidate pairs are ids-only; the verification payloads join
        # back from the per-corpus rep_store (stored side) and the
        # tiny per-batch rep table (probe side) AFTER pair dedup —
        # signature rows and the cache never carry document payloads
        a_reps = batch.select(
            F.col("id").alias("a_id"),
            F.size("tokens").alias("a_sz"),
            self._rep_expr.alias("a_rep"),
        )
        pair_ids = (
            hit.unionByName(miss)
            .filter(self._pair_filter)
            .select("a_id", "b_id")
            .dropDuplicates(["a_id", "b_id"])
        )
        # stored-side payload fetch: semi-filter the per-corpus payload
        # table down to the batch's candidate b_ids (a broadcast
        # ids-only semi — a cached-table scan, no payload movement),
        # then a size-laddered join. An unfiltered unhinted join
        # SHUFFLES AND SORTS THE WHOLE PAYLOAD TABLE EVERY BATCH once
        # the corpus outgrows the broadcast threshold (static AQE-off
        # plan → SMJ; measured ~3 s of the 100x batch, corpus-linear —
        # the same scale-killer shape the directory fetch removed from
        # the signature side). bounded_broadcast keeps small corpora
        # on the pinned broadcast plan and sends store-scale ones to a
        # candidate-bounded SHJ (no sort, both sides
        # candidate-bounded after the semi).
        b_side = self.rep_store
        if self._rep_rows is None or self._rep_rows > 100_000:
            # the candidate-id semi detour pays only at store scale:
            # below it the full payload table broadcasts anyway, and
            # the detour's per-batch dedup shuffle of the (candidate-
            # volume!) id column is pure overhead — sf0.1's ~1.2M-pair
            # batches measured +3.5 s headline for nothing (r14)
            # the candidate-id set is bounded only by the stored-doc
            # count, and this semi is planned AQE-off inside the pinned
            # plan — an unconditional broadcast here is the same
            # driver-OOM shape bounded_broadcast removes elsewhere
            # (ADVICE r14), so the ids ride the ladder gated by the
            # driver-known stored-doc bound and degrade to a shuffled
            # hash semi alongside the payload join's own fallback
            b_ids = pair_ids.select("b_id").dropDuplicates(["b_id"])
            b_side = self.rep_store.join(
                bounded_broadcast(b_ids, self._rep_rows), "b_id", "left_semi"
            )
        # payload rows are token arrays, not narrow keys, so the
        # broadcast tier gets its own cap: an in-session A/B at the
        # 100x store measured the ~108k-array-row broadcast 2.5-3.3 s
        # FASTER per batch than the SHJ tier (shuffling both
        # candidate-bounded sides costs more than one driver
        # round-trip at this width), so the cap keeps store-scale
        # corpora on broadcast and only far larger payload sets fall
        # to the spillable tiers
        pairs = pair_ids.join(F.broadcast(a_reps), "a_id").join(
            bounded_broadcast(b_side, self._rep_rows, max_rows=500_000),
            "b_id",
        )
        return _verify(pairs, self.threshold, self._mapping is not None)

    def process_batch(self, batch: DataFrame, batch_id: int) -> DataFrame:
        """One micro-batch of query docs (id, tokens) -> verified
        similar pairs vs the stored corpus, through the cache.

        The previous batch's attribution walk (background diagnostics,
        streaming/lru_state.py) is joined at this batch's first read of
        ``controller.window``, so the walk overlaps THIS batch's
        driver-side plan construction (probe signatures, miss detect,
        verify) even for back-to-back callers like
        run_semi_stream_similarity. Callers reading
        ``controller.history`` after a bare process_batch must call
        :meth:`flush_attribution`."""
        state = self._state
        with state.batch():
            # the probe side (one micro-batch of chosen probe rows) is
            # the small side of every join — broadcast, so the cached
            # signature store is only ever SCANNED, never shuffled
            probe_in = self._probe_rows(batch)
            probe = state.pin(probe_in, cols=["a_id", "a_sz", "sk", "b_kind"])
            probe_keys = state.pin_keys(probe)
            # the LRU holds exactly the keys whose store rows are already
            # cached OR known absent from the store (negative caching:
            # keys with no store rows are not refetched every batch).
            # Miss detect is SCAN-SIDE: semi-join the LRU against
            # the broadcast batch keys (one scan of state, like the kv
            # fetch), then a tiny anti between two batch-sized sets —
            # probe ∖ (lru ⋉ probe) ≡ probe ∖ lru. The previous shape
            # broadcast the LRU itself into the anti-join: a per-batch
            # O(state) driver collect (~16 MB per 1M keys, every batch,
            # forever) — exactly the unconditional-broadcast scale risk
            # bounded_broadcast exists to remove, paid here even on
            # empty batches. The missed keys are pinned as their own
            # leaf so the miss detect is attributed to the JOIN phase,
            # not to the fetch that reads them.
            hit_keys = self.lru.select(*_KEY).join(
                F.broadcast(probe_keys), _KEY, "left_semi"
            )
            missed_in = probe_keys.join(F.broadcast(hit_keys), _KEY, "left_anti")
            missed_keys = state.pin(missed_in, cols=list(_KEY))
            fetch_in = self._fetch(missed_keys)
            fetched = state.pin(fetch_in, cols=["sk", "b_id", "b_sz", "b_kind"])
            # the output is pinned to checkpoint blocks, so the caller's
            # final evaluation of the unioned batches never recomputes
            # through this batch's (by then released) state; the
            # pinning job is the batch's ONE combined action
            out_in = self._verified(batch, probe, fetched)
            out = state.pin(out_in)
            state.commit(
                batch_id, keys=probe_keys, missed=missed_keys,
                fetched=fetched, out=out,
                join_extras=[probe_in, missed_in, out_in],
                fetch_extra=fetch_in,
            )
        return out


def run_semi_stream_similarity(
    stream_table: DataFrame,
    stored: DataFrame,
    threshold: Fraction | float,
    n_batches: int = 3,
    controller: AdaptiveCacheController | None = None,
    artifacts: SimilarityStore | None = None,
    fetcher: object | None = None,
) -> DataFrame:
    """Replay (id, tokens) stream docs through the signature-cached
    similarity join; union of batch outputs == one-shot join. Pass
    ``artifacts`` (build_similarity_store) to probe a pre-indexed
    corpus — fresh cache/LRU state either way."""
    j = SemiStreamSimilarityJoin(
        stored=stored,
        threshold=threshold,
        controller=controller or AdaptiveCacheController(),
        artifacts=artifacts,
        fetcher=fetcher,
    )
    # close() in finally: the state blocks are released on error too
    # (see run_semi_stream_join)
    try:
        outs = [
            j.process_batch(batch, b)
            for b, batch in replay_in_batches(stream_table, n_batches, "id")
        ]
    finally:
        j.close()
    out = reduce(DataFrame.unionByName, outs)
    # per-invocation diagnostics seam, as in run_semi_stream_join
    out._controller = j.controller
    return out


# bumped whenever the persisted store layout changes semantics; a
# saved store whose version differs must be rebuilt, not loaded (a
# layout mismatch silently DROPS pairs — e.g. sigs emitted at the old
# halved-H deletion count decoded under the full-H VSL contract)
# v3: materiality guard on the VSL chooser
# v4 (r14): sk-hashed join keys (sigs parquet carries the sk column;
#     sigfreq is keyed by sk) + the kv key directory serving the fetch
# v5 (r14): machinery-level materiality — saved stores carry baked-in
#     vsl flags, so a chooser-criterion change must rebuild them
# v6: groups/ records the build threshold (t_num, t_den); a load at
#     another threshold is refused
STORE_LAYOUT_VERSION = 6


def save_similarity_artifacts(store: SimilarityStore, path: str) -> None:
    """Persist the corpus-level artifacts (signature store, key
    directory, payload table, pricing table, bitmask dictionary,
    length groups) as parquet — the engine's analogue of the
    reference keeping its signature collection in a durable remote
    store (DS_SimJoin_stream.scala's Mongo signature collection), so a
    restarted pipeline probes without re-indexing the corpus."""
    spark = store.sig_store.sparkSession
    store.sig_store.write.mode("overwrite").parquet(f"{path}/sigs")
    if store.kv_store is not None:
        # the key directory is derivable but EXPENSIVE to rederive (a
        # full groupBy over the signature store — ~40-60 s at the 100x
        # corpus); persist it so loads stay cheap
        store.kv_store.write.mode("overwrite").parquet(f"{path}/kv")
    store.rep_store.write.mode("overwrite").parquet(f"{path}/reps")
    if store.sig_freq is not None:
        # the hot pricing table is derived but EXPENSIVE to rederive
        # (a full groupBy over the signature store — ~27M distinct
        # keys at the 100x corpus); persist it so loads stay cheap
        store.sig_freq.write.mode("overwrite").parquet(f"{path}/sigfreq")
    spark.createDataFrame(
        list((store.mapping or {}).items()), "tok string, bit long"
    ).write.mode("overwrite").parquet(f"{path}/mapping")
    t = store.threshold
    spark.createDataFrame(
        [
            (g, lo, hi, bool((store.vsl or {}).get(g, False)),
             STORE_LAYOUT_VERSION, t.numerator, t.denominator)
            for g, (lo, hi) in enumerate(store.groups)
        ],
        "g int, lo int, hi int, vsl boolean, layout_version int, "
        "t_num long, t_den long",
    ).write.mode("overwrite").parquet(f"{path}/groups")


def save_similarity_store(join: SemiStreamSimilarityJoin, path: str) -> None:
    """Persist a pipeline's corpus artifacts (see
    save_similarity_artifacts — cache/LRU state is per-pipeline and
    never saved)."""
    save_similarity_artifacts(
        SimilarityStore(
            groups=join._groups,
            hs=join._hs,
            mapping=join._mapping,
            rep_store=join.rep_store,
            sig_store=join.sig_store,
            threshold=join.threshold,
            vsl=join._vsl,
            sig_freq=join.sig_freq,
            sig_freq_rows=join._sig_freq_rows,
            kv_store=join.kv_store,
            rep_rows=join._rep_rows,
        ),
        path,
    )


def load_similarity_artifacts(
    spark, path: str, threshold: Fraction | float
) -> SimilarityStore:
    """Reconstruct the corpus artifacts from save_similarity_artifacts
    output: same signature store, payloads, dictionary, and groups —
    probe-ready, no corpus re-index. Raises ValueError on a store
    saved under a different layout version or built for a different
    threshold (stale caches must rebuild loudly, never mis-decode)."""
    from distributed_stream_processing_spark.functions.signatures import (
        seg_count_dima,
    )

    t = Fraction(threshold).limit_denominator(1_000_000)
    graw = spark.read.parquet(f"{path}/groups").collect()
    versions = {int(getattr(r, "layout_version", 1)) for r in graw}
    if versions != {STORE_LAYOUT_VERSION}:
        raise ValueError(
            f"saved store at {path} has layout version {sorted(versions)}, "
            f"engine expects {STORE_LAYOUT_VERSION} — rebuild the store"
        )
    saved = {Fraction(int(r.t_num), int(r.t_den)) for r in graw}
    if saved != {t}:
        raise ValueError(
            f"saved store at {path} was built for threshold "
            f"{', '.join(str(x) for x in sorted(saved))}, the load asks "
            f"for {t} — rebuild the store"
        )
    grows = sorted((r.g, r.lo, r.hi, bool(r.vsl)) for r in graw)
    groups = [(lo, hi) for _, lo, hi, _ in grows]
    vsl = {g: flag for g, (_, _, _, flag) in enumerate(grows)}
    hs = {
        g: max(1, seg_count_dima(t, hi)) for g, (lo, hi) in enumerate(groups)
    }
    mrows = spark.read.parquet(f"{path}/mapping").collect()
    # same parallelism guarantee as build_similarity_store: a small
    # saved store must not reload as one partition
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    sig_store = spark.read.parquet(f"{path}/sigs").repartition(n_part).cache()
    if os.path.isdir(f"{path}/kv"):
        kv_store = spark.read.parquet(f"{path}/kv").repartition(n_part).cache()
        kv_store.count()
    else:
        # store saved before the directory was persisted: derive it
        # and write it back best-effort (read-only paths tolerated —
        # same contract as the sigfreq write-back below)
        kv_store = _build_kv_directory(sig_store, n_part)
        try:
            kv_store.write.mode("overwrite").parquet(f"{path}/kv")
        except Exception as e:
            import sys

            print(f"# kv write-back to {path} skipped: {e}", file=sys.stderr)
    if os.path.isdir(f"{path}/sigfreq"):
        sig_freq = spark.read.parquet(f"{path}/sigfreq").cache()
        sig_freq_rows = sig_freq.count()
    else:
        # store saved before the hot table was persisted: derive it
        # (one groupBy over the signature store — the expensive part)
        # and write it back beside the store so the NEXT load is cheap.
        # BEST-EFFORT (ADVICE r13): the store path may be read-only or
        # concurrently shared — a failed write-back must not fail the
        # load, the table is already derived in-session either way
        sig_freq, sig_freq_rows = _build_hot_freq(sig_store, vsl)
        if sig_freq is not None:
            try:
                sig_freq.write.mode("overwrite").parquet(f"{path}/sigfreq")
            except Exception as e:
                import sys

                print(
                    f"# sigfreq write-back to {path} skipped: {e}",
                    file=sys.stderr,
                )
    # cached only while the fallback derivations above may scan it
    # twice; the pipeline itself never reads the flat store (the fetch
    # goes through kv_store) — see build_similarity_store
    sig_store.unpersist()
    rep_store = spark.read.parquet(f"{path}/reps").cache()
    return SimilarityStore(
        groups=groups,
        hs=hs,
        mapping={r.tok: r.bit for r in mrows} or None,
        rep_store=rep_store,
        rep_rows=rep_store.count(),
        sig_store=sig_store,
        threshold=t,
        vsl=vsl,
        sig_freq=sig_freq,
        sig_freq_rows=sig_freq_rows,
        kv_store=kv_store,
    )


def load_similarity_store(
    spark,
    path: str,
    threshold: Fraction | float,
    controller: AdaptiveCacheController | None = None,
) -> SemiStreamSimilarityJoin:
    """A probe-ready pipeline over load_similarity_artifacts output
    (fresh, empty cache/LRU state)."""
    return SemiStreamSimilarityJoin(
        threshold=Fraction(threshold).limit_denominator(1_000_000),
        controller=controller or AdaptiveCacheController(),
        artifacts=load_similarity_artifacts(spark, path, threshold),
    )
