"""User-facing facade: one object exposing every engine capability.

A user of the reference repo drives three hand-built pipelines
(DS-Join stream join, DSim-Join similarity join, S3M subsequence
match + online regression). This facade exposes those — and the
training-data extensions — as methods over DataFrames, so switching
means calling, e.g.::

    eng = Engine(spark)
    eng.stream_join(stream_df, store_df, key="partkey")
    eng.similarity_join(docs, threshold=0.8)
    eng.subsequence_match(series, query, epsilon=10.0, measure="ED")
    eng.dedup(docs, method="minhash")
    eng.ann_search(queries, corpus, k=10)
"""

from __future__ import annotations

from fractions import Fraction

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_stream_processing_spark.functions.text import tokens as tokens_col
from distributed_stream_processing_spark.operators.asof_join import asof_join
from distributed_stream_processing_spark.operators.dedup import (
    exact_dedup_groups,
    minhash_lsh_dedup,
    simhash_near_pairs,
)
from distributed_stream_processing_spark.operators.semi_stream_join import (
    SemiStreamJoin,
    run_semi_stream_join,
)
from distributed_stream_processing_spark.operators.similarity_join import (
    brute_force_similarity_join,
    dima_similarity_join,
    similarity_join,
)
from distributed_stream_processing_spark.operators.similarity_search import (
    brute_force_topk,
    ivf_topk,
    lsh_topk,
)
from distributed_stream_processing_spark.operators.subsequence_match import (
    build_kv_index,
    load_kv_index,
    save_kv_index,
    subsequence_match_cnsm,
    subsequence_match_dtw,
    subsequence_match_ed,
    subsequence_match_znorm,
)
from distributed_stream_processing_spark.streaming.cache_controller import (
    AdaptiveCacheController,
)
from distributed_stream_processing_spark.streaming.online_ml import run_s3m_pipeline


class Engine:
    def __init__(self, spark: SparkSession):
        self.spark = spark

    # ---- DS-Join family ----

    def stream_join(
        self,
        stream: DataFrame,
        store: DataFrame,
        key: str,
        n_batches: int = 4,
        initial_cache: DataFrame | None = None,
        admit_below_freq: int | None = None,
    ) -> DataFrame:
        """Micro-batched stream x store equi-join through the adaptive
        cache; output equals the plain join (cache-transparent)."""
        out_cols = [c for c in stream.columns] + [
            c for c in store.columns if c != key
        ]
        return run_semi_stream_join(
            stream, store, key, out_cols, n_batches=n_batches,
            initial_cache=initial_cache, admit_below_freq=admit_below_freq,
        )

    def stream_joiner(self, store: DataFrame, key: str, **kw) -> SemiStreamJoin:
        """The per-batch join object, for foreachBatch integration."""
        return SemiStreamJoin(
            store=store, key=key,
            controller=kw.pop("controller", AdaptiveCacheController()), **kw,
        )

    def save_similarity_store(self, join, path: str) -> None:
        """Persist a similarity pipeline's signature store (DSim's
        durable remote signature collection parity)."""
        from distributed_stream_processing_spark.operators.semi_stream_similarity import (
            save_similarity_store,
        )

        save_similarity_store(join, path)

    def load_similarity_store(self, path: str, threshold, **kw):
        from distributed_stream_processing_spark.operators.semi_stream_similarity import (
            load_similarity_store,
        )

        return load_similarity_store(self.spark, path, threshold, **kw)

    # ---- DSim-Join family ----

    def tokenize(self, df: DataFrame, id_col: str, text_col: str) -> DataFrame:
        return df.select(
            F.col(id_col).cast("bigint").alias("id"),
            tokens_col(text_col).alias("tokens"),
        )

    def similarity_join(
        self,
        left: DataFrame,
        right: DataFrame | None = None,
        threshold: float | Fraction = Fraction(4, 5),
        method: str = "prefix",
    ) -> DataFrame:
        fn = {
            "prefix": similarity_join,
            "dima": dima_similarity_join,
            "brute": brute_force_similarity_join,
        }[method]
        return fn(left, right, threshold)

    # ---- S3M family ----

    def build_series_index(self, series: DataFrame, widths=(25, 50, 100, 200, 400),
                           value_scale: int | None = None) -> DataFrame:
        return build_kv_index(series, widths, value_scale=value_scale)

    def save_series_index(self, index: DataFrame, path: str) -> None:
        """Persist a KV index (build-once/probe-many,
        IndexFileOperator.java:127-170): parquet partitioned by width,
        mr-sorted within files for row-group skipping."""
        save_kv_index(index, path)

    def load_series_index(self, path: str) -> DataFrame:
        return load_kv_index(self.spark, path)

    def subsequence_match(
        self,
        series: DataFrame,
        query: list[float],
        epsilon: float,
        measure: str = "ED",
        rho: int = 5,
        **kw,
    ) -> DataFrame:
        """measure in {ED, DTW, NormED, cNSM} (the reference's sel
        dispatch, kvmatch/test.java:35-54); ``value_scale=`` selects the
        exact fixed-decimal kernel of ED, NormED and cNSM."""
        if measure == "ED":
            return subsequence_match_ed(series, query, epsilon, **kw)
        if measure == "DTW":
            return subsequence_match_dtw(series, query, epsilon, rho, **kw)
        if measure == "NormED":
            return subsequence_match_znorm(series, query, epsilon, **kw)
        if measure == "cNSM":
            return subsequence_match_cnsm(series, query, epsilon, **kw)
        raise ValueError(f"unknown measure {measure!r}")

    def online_regression(self, series: DataFrame, **kw) -> list[dict]:
        return run_s3m_pipeline(series, **kw)

    # ---- training-data extensions ----

    def dedup(
        self,
        docs: DataFrame,
        method: str = "minhash",
        threshold: float | Fraction = Fraction(4, 5),
        id_col: str = "doc_id",
        text_col: str = "text",
    ) -> DataFrame:
        if method == "exact":
            return exact_dedup_groups(docs, text_col, id_col)
        tok = self.tokenize(docs, id_col, text_col)
        if method == "minhash":
            return minhash_lsh_dedup(tok, threshold)
        if method == "simhash":
            return simhash_near_pairs(tok)
        if method == "jaccard":
            return similarity_join(tok, None, threshold)
        raise ValueError(f"unknown dedup method {method!r}")

    def dedup_clusters(
        self,
        docs: DataFrame,
        method: str = "minhash",
        threshold: float | Fraction = Fraction(4, 5),
        id_col: str = "doc_id",
        text_col: str = "text",
    ) -> DataFrame:
        """Keep-one-copy grouping: near-dup pairs from ``method`` ->
        connected components -> (id, cluster_id, keep)."""
        from distributed_stream_processing_spark.operators.dedup import (
            duplicate_clusters,
        )

        pairs = self.dedup(docs, method, threshold, id_col, text_col)
        if method == "exact":
            # exact groups are already clusters; emit the same contract
            fp = pairs  # (fp, keep_id, n_copies)
            ids = docs.select(F.col(id_col).cast("bigint").alias("id"))
            from distributed_stream_processing_spark.operators.dedup import (
                fingerprint_md5,
            )

            lab = docs.select(
                F.col(id_col).cast("bigint").alias("id"),
                fingerprint_md5(text_col).alias("fp"),
            ).join(fp.select("fp", F.col("keep_id").alias("cluster_id")), "fp")
            return lab.select(
                "id", "cluster_id", (F.col("id") == F.col("cluster_id")).alias("keep")
            )
        ids = docs.select(F.col(id_col).cast("bigint").alias("id"))
        return duplicate_clusters(ids, pairs)

    # per-method tuning options; validated up front so switching
    # method after tuning another (ann_search(method="brute",
    # n_probe=4)) raises a clear argument error, not an opaque
    # TypeError from the function internals (ADVICE r6)
    _ANN_KW = {
        "brute": frozenset(),
        "lsh": frozenset({"n_planes", "dim", "seed", "multiprobe"}),
        "ivf": frozenset({"n_centroids", "n_probe", "centroids", "dim", "seed"}),
    }

    def duplicated_spans(
        self,
        docs: DataFrame,
        k: int = 5,
        id_col: str = "doc_id",
        text_col: str = "text",
    ) -> DataFrame:
        """Span-level dedup (Lee et al., ACL'22): maximal runs of
        token positions whose k-grams appear in >= 2 distinct docs ->
        (id, span_start, span_end, n_grams)."""
        from distributed_stream_processing_spark.operators.dedup import (
            duplicated_spans,
        )

        return duplicated_spans(docs, k=k, id_col=id_col, text_col=text_col)

    def repetition_signals(
        self,
        docs: DataFrame,
        id_col: str = "doc_id",
        text_col: str = "text",
    ) -> DataFrame:
        """Gopher-style repetition-quality signals (Rae et al. 2021
        §A1.1) -> (id, n_tokens, distinct_token_frac, top_bigram_frac,
        dup_trigram_frac)."""
        from distributed_stream_processing_spark.functions.text_analysis import (
            repetition_signals,
        )

        return repetition_signals(docs, id_col=id_col, text_col=text_col)

    def ann_search(
        self, queries: DataFrame, corpus: DataFrame, k: int = 10,
        method: str = "brute", **kwargs,
    ) -> DataFrame:
        """``kwargs`` pass through to the method (ivf: n_centroids,
        n_probe, centroids, dim, seed; lsh: n_planes, dim, seed,
        multiprobe; brute takes none)."""
        if method not in self._ANN_KW:
            raise ValueError(
                f"unknown ann method {method!r}; one of {sorted(self._ANN_KW)}"
            )
        unknown = set(kwargs) - self._ANN_KW[method]
        if unknown:
            allowed = sorted(self._ANN_KW[method])
            raise TypeError(
                f"ann_search(method={method!r}) got unsupported "
                f"argument(s) {sorted(unknown)}; {method} accepts "
                f"{allowed if allowed else 'no tuning options'}"
            )
        fn = {"brute": brute_force_topk, "lsh": lsh_topk, "ivf": ivf_topk}[method]
        return fn(queries, corpus, k, **kwargs)

    def asof_join(self, left, right, key, left_ts, right_ts, right_cols):
        return asof_join(left, right, key, left_ts, right_ts, right_cols)

    # ---- multimodal columns (training-data extension) ----

    def decode_media(self, media: DataFrame, batch_hint: int = 256) -> DataFrame:
        """Decode + feature-extract opaque binary media payloads
        (columns: media_id, media_type, payload) — magic-byte dispatch
        to the REAL pure-python decoders (PPM / PNG / baseline JPEG /
        RIFF-WAVE PCM), deterministic pseudo-decode for unknown bytes.
        Recognized-but-corrupt payloads never raise: they take the
        pseudo-decode fallback with decode_ok=false (one bad file in a
        100 TB corpus must be countable, not fatal). Returns (media_id,
        media_type, width, height, n_frames, duration_ms,
        feature array<float>, decode_ok boolean)."""
        from distributed_stream_processing_spark.sources.multimodal import (
            decode_media,
        )

        return decode_media(media, batch_hint)

    def frame_sample(self, decoded: DataFrame, every_n: int = 4) -> DataFrame:
        """Every n-th frame of multi-frame media (JVM-side explode)."""
        from distributed_stream_processing_spark.sources.multimodal import (
            frame_sample,
        )

        return frame_sample(decoded, every_n)

    def resize_plan(self, decoded: DataFrame, max_dim: int = 64) -> DataFrame:
        """GEOMETRY ONLY — no pixel resampling. Computes the
        aspect-preserving integer target dimensions (new_width,
        new_height with max side == max_dim, never upscaled) as pure
        column arithmetic. Actual pixel resampling belongs in the
        decode UDF slot with an image library (PIL), which this
        container intentionally lacks; a user needing resampled bytes
        plugs a Pandas UDF consuming (payload, new_width, new_height).
        """
        from distributed_stream_processing_spark.sources.multimodal import (
            resize_media,
        )

        return resize_media(decoded, max_dim)

    # ---- text profiling (training-data extension) ----

    def text_profile(
        self, df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
    ) -> DataFrame:
        """Per-document language guess, quality score, and token
        counts — pure column expressions (whole-stage codegen), the
        q23/q24/q25 surface as one call."""
        from distributed_stream_processing_spark.functions.text_analysis import (
            lang_guess,
            quality_score,
            regex_token_count,
            ws_token_count,
        )

        return df.select(
            F.col(id_col),
            lang_guess(text_col).alias("lang_guess"),
            quality_score(text_col).alias("quality_score"),
            ws_token_count(text_col).alias("ws_tokens"),
            regex_token_count(text_col).alias("regex_tokens"),
        )

    # ---- result sinks (S11: saveAsTextFile parity) ----

    def save(
        self,
        df: DataFrame,
        path: str,
        fmt: str = "parquet",
        mode: str = "overwrite",
        partition_by: list[str] | None = None,
    ) -> None:
        w = df.write.mode(mode)
        if partition_by:
            w = w.partitionBy(*partition_by)
        if fmt == "csv":
            w = w.option("header", True)
        w.format(fmt).save(path)

    def load(self, path: str, fmt: str = "parquet") -> DataFrame:
        r = self.spark.read
        if fmt == "csv":
            return r.csv(path, header=True, inferSchema=True)
        return r.format(fmt).load(path)
