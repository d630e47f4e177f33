"""Approximate-nearest-neighbor search over an embedding column.

Baseline: brute-force cosine top-k — a broadcast of the (small) query
set against the full corpus, ranked per query. At 100 TB the corpus
side stays partition-parallel with no shuffle: broadcast queries,
score, then a per-query top-k via ranking window on (query, score).

Scale path: LSH bucketing by random-hyperplane sign bits (cosine
LSH) — probe only matching buckets, multi-probe for recall. An IVF
variant (k-means coarse quantizer) would slot in the same shape; the
hyperplane variant keeps everything closed-form and deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from distributed_stream_processing_spark.functions.vectors import (  # noqa: F401
    cosine,  # re-exported: embedding_near_pairs & external callers
    dot,
    norm2,
)
from distributed_stream_processing_spark.streaming.checkpoint import bounded_collect

# Per-pair cosine via per-ROW precomputed norms: higher-order folds
# (aggregate/zip_with) evaluate interpreted, so folding each side's
# norm once per row instead of once per pair cuts the pair cost to a
# single dot fold. Bit-identical to the inline cosine — the norm is
# the same left-to-right fold, just computed earlier in the plan.
# (A function, not a module constant: Column construction requires an
# active SparkContext, which must not be an import-time dependency.)
def _cos_normed():
    return F.col("_dot") / (F.col("q_norm") * F.col("c_norm"))


# the brute-force query set is collected to the driver and shipped in
# the scoring closure; each Arrow batch of corpus rows (10k by default)
# scores against every query at once, in a few (rows x queries) double
# blocks: at this bound each block is ~80 MB
MAX_QUERY_ROWS = 1_024


def _scored(queries: DataFrame, corpus: DataFrame) -> DataFrame:
    """All-pairs cosine of a SMALL query set against the corpus.

    r19 (guide §4.2, VERDICT r18 task 8): the brute-force scoring used
    to be a broadcast crossJoin evaluating the higher-order dot/norm
    folds INTERPRETED per pair (|corpus| x |queries| fold evaluations
    — the headline q26's whole cost). Now the queries are collected
    (driver-side, they are a tiny filter by construction) and the
    corpus streams through one Arrow mapInPandas that evaluates the
    IDENTICAL left-to-right double fold vectorized across the pair
    axis: per dimension d, ``acc += V[:,d] * Q[:,d]`` performs the
    same IEEE add/mul sequence per pair as the JVM fold, and the final
    ``dot / (q_norm * c_norm)`` uses the same operand order — so cos
    is bit-identical and the JVM-side round(.,4) (and the DuckDB
    oracle) see unchanged doubles. Rounding and ranking stay in the
    JVM. The query set is a bounded collect: above ``MAX_QUERY_ROWS``
    the call raises ValueError instead of collecting an unbounded set
    (use ``lsh_topk``/``ivf_topk`` for large query sets)."""
    import numpy as np

    q_rows = bounded_collect(
        queries.select(F.col("vec_id").cast("bigint").alias("q_id"), "embedding"),
        MAX_QUERY_ROWS,
        "brute-force query set (MAX_QUERY_ROWS)",
    )
    if not q_rows:
        return corpus.sparkSession.createDataFrame(
            [], "q_id long, vec_id long, cos double, cos4 double"
        )
    qids = np.array([r.q_id for r in q_rows], dtype=np.int64)
    # float32 -> Python float -> float64: exact widenings, same as the
    # fold's element-wise cast("double")
    Q = np.asarray([r.embedding for r in q_rows], dtype=np.float64)
    nq, dim = Q.shape
    qn = np.zeros(nq)
    for d in range(dim):
        qn += Q[:, d] * Q[:, d]
    qn = np.sqrt(qn)

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            cids = pdf["vec_id"].to_numpy().astype(np.int64)
            b = len(cids)
            acc = np.zeros((b, nq))
            cn = np.zeros(b)
            for d in range(dim):
                vd = V[:, d]
                acc += vd[:, None] * Q[:, d][None, :]
                cn += vd * vd
            cn = np.sqrt(cn)
            cos = acc / (qn[None, :] * cn[:, None])
            bi, qi = np.nonzero(cids[:, None] != qids[None, :])
            yield pd.DataFrame(
                {
                    "q_id": qids[qi],
                    "vec_id": cids[bi],
                    "cos": cos[bi, qi],
                }
            )

    scored = corpus.select(
        F.col("vec_id").cast("bigint").alias("vec_id"), "embedding"
    ).mapInPandas(gen, "q_id long, vec_id long, cos double")
    return scored.withColumn("cos4", F.round(F.col("cos"), 4))


def brute_force_topk(queries: DataFrame, corpus: DataFrame, k: int = 5) -> DataFrame:
    """Exact top-k by (rounded) cosine per query, vec_id tie-break."""
    w = W.partitionBy("q_id").orderBy(F.col("cos4").desc(), F.col("vec_id"))
    return (
        _scored(queries, corpus)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("q_id", "vec_id", "cos4", F.col("rk").cast("bigint").alias("rk"))
    )


def _with_cos4(df: DataFrame) -> DataFrame:
    """cos4 from (q_vec, c_vec, q_norm, c_norm) columns — one dot fold
    per pair, norms precomputed per row (see _cos_normed)."""
    return df.withColumn("_dot", dot(F.col("q_vec"), F.col("c_vec"))).withColumn(
        "cos4", F.round(_cos_normed(), 4)
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    import random

    rng = random.Random(seed)
    return [
        [rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)
    ]


def _bucket(vec, planes: list[list[float]]):
    """Sign-bit bucket id of a vector against fixed hyperplanes."""
    bits = [
        F.when(
            F.aggregate(
                F.zip_with(
                    vec,
                    F.array(*[F.lit(w) for w in plane]),
                    lambda x, y: x.cast("double") * y,
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            > 0,
            F.shiftleft(F.lit(1).cast("bigint"), i),
        ).otherwise(F.lit(0).cast("bigint"))
        for i, plane in enumerate(planes)
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out.bitwiseOR(b)
    return out


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    dim: int = 64,
    seed: int = 42,
    multiprobe: int = 1,
) -> DataFrame:
    """Approximate top-k: score only corpus vectors in hyperplane
    buckets within hamming distance ``multiprobe`` of the query's
    bucket. Same output contract as brute_force_topk; recall trades
    against the scanned fraction (~C(n_planes,<=m)/2^n_planes).
    """
    planes = _hyperplanes(dim, n_planes, seed)
    probe_masks = [0]
    if multiprobe >= 1:
        probe_masks += [1 << i for i in range(n_planes)]
    if multiprobe >= 2:
        probe_masks += [
            (1 << i) | (1 << j)
            for i in range(n_planes)
            for j in range(i + 1, n_planes)
        ]
    # bucket folded ONCE per query row, then the probe masks XOR the
    # resulting column — inlining the (n_planes x dim)-literal bucket
    # expression per mask multiplied the plan tree by the probe count
    q = queries.select(
        F.col("vec_id").cast("bigint").alias("q_id"),
        F.col("embedding").alias("q_vec"),
        norm2(F.col("embedding")).alias("q_norm"),
        _bucket(F.col("embedding"), planes).alias("_b0"),
    ).select(
        "q_id",
        "q_vec",
        "q_norm",
        F.explode(
            F.array(*[F.col("_b0").bitwiseXOR(F.lit(m)) for m in probe_masks])
        ).alias("bucket"),
    )
    c = corpus.select(
        F.col("vec_id").cast("bigint").alias("vec_id"),
        F.col("embedding").alias("c_vec"),
        norm2(F.col("embedding")).alias("c_norm"),
        _bucket(F.col("embedding"), planes).alias("bucket"),
    )
    w = W.partitionBy("q_id").orderBy(F.col("cos4").desc(), F.col("vec_id"))
    return (
        _with_cos4(
            F.broadcast(q)
            .join(c, "bucket")
            .filter(F.col("q_id") != F.col("vec_id"))
            .dropDuplicates(["q_id", "vec_id"])
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("q_id", "vec_id", "cos4", F.col("rk").cast("bigint").alias("rk"))
    )


def seeded_centroids(
    dim: int, n_centroids: int, seed: int = 42
) -> list[list[float]]:
    """Deterministic unit-norm gaussian centroids — plan-time
    constants, so IVF bucketing becomes an exactly-checkable function
    of the seed (the same trick q28 plays with hyperplanes). The
    Voronoi cells of random unit vectors partition the sphere
    uniformly; a data-adaptive quantizer (train_centroids_lloyd) slots
    into the identical probe structure when recall matters more than
    cross-engine reproducibility."""
    import math
    import random

    rng = random.Random(seed)
    out = []
    for _ in range(n_centroids):
        v = [rng.gauss(0.0, 1.0) for _ in range(dim)]
        n = math.sqrt(sum(x * x for x in v))
        out.append([x / n for x in v])
    return out


def train_centroids_lloyd(
    sample, n_centroids: int, seed: int = 42, iters: int = 10
) -> list[list[float]]:
    """Deterministic numpy Lloyd iterations over a driver-collected
    sample (a bounded deterministic slice of the corpus, e.g.
    vec_id % s == 0 — never the full 100 TB). Init = seeded choice
    without replacement; empty clusters keep their previous centroid;
    fixed iteration count. Same seed + same sample -> bit-identical
    centroids, so the result can still be embedded as plan literals."""
    import numpy as np

    x = np.asarray(sample, dtype=np.float64)
    rng = np.random.RandomState(seed)
    idx = rng.choice(len(x), size=min(n_centroids, len(x)), replace=False)
    ctr = x[np.sort(idx)].copy()
    for _ in range(iters):
        d2 = ((x[:, None, :] - ctr[None, :, :]) ** 2).sum(axis=2)
        assign = np.argmin(d2, axis=1)
        for j in range(len(ctr)):
            members = x[assign == j]
            if len(members):
                ctr[j] = members.mean(axis=0)
    return [[float(v) for v in c] for c in ctr]


def _nearest_centroid_structs(vec, centroids: list[list[float]]):
    """Array of (d2, bucket) structs vs every plan-time centroid —
    array_min/array_sort over it gives argmin / top-n_probe with
    bucket-index tie-break, entirely in codegen (no shuffle, no
    window) on the corpus side."""
    from distributed_stream_processing_spark.functions.vectors import d2_to_literal

    return F.array(
        *[
            F.struct(
                d2_to_literal(vec, ctr).alias("d2"),
                F.lit(i).cast("int").alias("bucket"),
            )
            for i, ctr in enumerate(centroids)
        ]
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    centroids: list[list[float]] | None = None,
    dim: int | None = None,
) -> DataFrame:
    """IVF ANN: coarse quantizer with plan-time constant centroids
    (seeded unit-norm by default; pass ``centroids`` from
    train_centroids_lloyd for a data-adaptive quantizer). Corpus rows
    bucket to their nearest centroid via a codegen'd struct-array
    argmin — no shuffle, no window, no ML-library training step —
    and queries score only their ``n_probe`` nearest centroids'
    buckets. Same output contract as brute_force_topk; recall < 1
    (~n_probe/n_centroids of the corpus scanned). Deterministic end
    to end, so the DuckDB oracle reproduces it bit-exactly.

    ``dim`` defaults to the corpus's measured embedding width (one
    first() probe); a row whose embedding width differs from the
    quantizer raises at scan time instead of silently null-folding
    every centroid distance (which would collapse bucketing — and
    pruning — for the whole mismatched slice).

    Reference parity: myNapp's partitioned ANN probe
    (reference: DS_join_step4 partition-pruned fetch shape) —
    re-expressed as broadcast-bucket equi-join.
    """
    if centroids is not None:
        dim = len(centroids[0])
    elif dim is None:
        first = corpus.select(F.size("embedding").alias("d")).first()
        if first is None:
            raise ValueError("ivf_topk: empty corpus and no dim/centroids given")
        dim = int(first.d)
    if centroids is None:
        centroids = seeded_centroids(dim, n_centroids, seed)

    def guarded(col):
        return F.when(F.size(col) == dim, col).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        f"ivf_topk: embedding width != quantizer dim {dim}: "
                    ),
                    F.size(col).cast("string"),
                )
            )
        )

    c = corpus.select(
        F.col("vec_id").cast("bigint").alias("vec_id"),
        guarded(F.col("embedding")).alias("c_vec"),
    ).select(
        "vec_id",
        "c_vec",
        norm2(F.col("c_vec")).alias("c_norm"),
        F.array_min(_nearest_centroid_structs(F.col("c_vec"), centroids))[
            "bucket"
        ].alias("bucket"),
    )
    # top-n_probe centroids per query: sort the (d2, bucket) struct
    # array (lexicographic = d2 asc, bucket tie-break) and explode the
    # head — queries stay on the broadcast side throughout
    q = queries.select(
        F.col("vec_id").cast("bigint").alias("q_id"),
        guarded(F.col("embedding")).alias("q_vec"),
    ).select(
        "q_id",
        "q_vec",
        norm2(F.col("q_vec")).alias("q_norm"),
        F.explode(
            F.slice(
                F.array_sort(
                    _nearest_centroid_structs(F.col("q_vec"), centroids)
                ),
                1,
                n_probe,
            )["bucket"]
        ).alias("bucket"),
    )

    w = W.partitionBy("q_id").orderBy(F.col("cos4").desc(), F.col("vec_id"))
    return (
        _with_cos4(
            F.broadcast(q)
            .join(c, "bucket")
            .filter(F.col("q_id") != F.col("vec_id"))
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("q_id", "vec_id", "cos4", F.col("rk").cast("bigint").alias("rk"))
    )


def lsh_near_pairs(
    vectors: DataFrame,
    min_cos4: float,
    n_bands: int = 12,
    band_width: int = 8,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Near-duplicate pairs with rounded cosine >= ``min_cos4`` via
    banded sign-LSH candidate generation + exact cosine verify.

    Two vectors become a candidate pair iff they agree on every sign
    bit of at least one band — an equi-join on (band, bucket), never a
    CartesianProduct. Recall for a pair at cosine t is
    1 - (1 - p^r)^B with p = 1 - arccos(t)/pi, r = band_width,
    B = n_bands: ~1 - 8e-6 per pair at t = 0.995 with the defaults,
    while a random (near-orthogonal) pair collides in only ~5% of
    corpora scans — the pruning that makes the threshold join
    sub-quadratic at 100 TB. For low thresholds (< ~0.8) the bands
    stop pruning; use embedding_near_pairs (the exact baseline) there.
    """
    import numpy as np
    import pandas as pd

    planes = np.asarray(
        _hyperplanes(dim, n_bands * band_width, seed), dtype=np.float64
    )
    weights = 1 << np.arange(band_width, dtype=np.int64)

    def _band_buckets(emb):
        # one matmul per Arrow batch: (N, dim) @ (dim, B*r) sign bits,
        # packed into one bucket id per band — the vectorized twin of
        # the expression-level _bucket used by lsh_topk
        mat = np.vstack(emb.to_numpy()).astype(np.float64)
        bits = (mat @ planes.T) > 0
        bits = bits.reshape(len(mat), n_bands, band_width)
        buckets = (bits * weights).sum(axis=2)
        return pd.Series(list(buckets))

    # real annotations (module uses `from __future__ import annotations`,
    # which would stringify inline hints past the UDF type inferrer)
    _band_buckets.__annotations__ = {"emb": pd.Series, "return": pd.Series}
    band_buckets = F.pandas_udf(_band_buckets, "array<long>")

    def bucketed(side: str) -> DataFrame:
        return vectors.select(
            F.col("vec_id").cast("bigint").alias(f"{side}_id"),
            F.posexplode(band_buckets(F.col("embedding"))).alias(
                "band", "bucket"
            ),
        )

    # band rows shuffle (id, band, bucket) only; the embeddings join
    # back onto the deduped candidate pairs for the exact verify —
    # carrying the vector on every band row would multiply the
    # candidate shuffle by n_bands (ids-not-payloads, as in the
    # similarity joins)
    a, b = bucketed("a"), bucketed("b")
    pair_ids = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("a_id") < F.col("b_id"))
        .dropDuplicates(["a_id", "b_id"])
        .select("a_id", "b_id")
    )
    va = vectors.select(
        F.col("vec_id").cast("bigint").alias("a_id"),
        F.col("embedding").alias("a_vec"),
        norm2(F.col("embedding")).alias("a_norm"),
    )
    vb = vectors.select(
        F.col("vec_id").cast("bigint").alias("b_id"),
        F.col("embedding").alias("b_vec"),
        norm2(F.col("embedding")).alias("b_norm"),
    )
    return (
        pair_ids.join(va, "a_id")
        .join(vb, "b_id")
        .withColumn("_dot", dot(F.col("a_vec"), F.col("b_vec")))
        .withColumn(
            "cos4",
            F.round(F.col("_dot") / (F.col("a_norm") * F.col("b_norm")), 4),
        )
        .filter(F.col("cos4") >= min_cos4)
        .select("a_id", "b_id", "cos4")
    )


def embedding_near_pairs(vectors: DataFrame, min_cos4: float) -> DataFrame:
    """All pairs with rounded cosine >= threshold — the exact O(n^2)
    brute-force baseline, kept as the test oracle for lsh_near_pairs
    and for low thresholds where banded LSH stops pruning. Not the
    scale path: use lsh_near_pairs for near-dup thresholds."""
    a = vectors.select(
        F.col("vec_id").cast("bigint").alias("a_id"), F.col("embedding").alias("a_vec")
    )
    b = vectors.select(
        F.col("vec_id").cast("bigint").alias("b_id"), F.col("embedding").alias("b_vec")
    )
    return (
        a.crossJoin(b)
        .filter(F.col("a_id") < F.col("b_id"))
        .withColumn("cos4", F.round(cosine(F.col("a_vec"), F.col("b_vec")), 4))
        .filter(F.col("cos4") >= min_cos4)
        .select("a_id", "b_id", "cos4")
    )
