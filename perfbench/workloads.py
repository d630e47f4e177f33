"""The three benchmark workloads, each driving the engine's public
per-batch API.

A workload builds its engine state in ``load`` (repeatable: set-up is
timed several times per run), then runs one micro-batch per ``batch``
call: read the staged parquet file, hand it to the engine, drain the
output into the sink (a pandas frame on the driver) and compare it with
the reference. Every call into an engine layer sits inside a tracer
span; with the ``NullTracer`` those spans cost nothing.
"""

from __future__ import annotations

import time
from fractions import Fraction

import numpy as np
from pyspark.sql import functions as F

from data import S3M_SCALE, cents, checksum, s3m_features


class TimedFetcher:
    """Fetch seam wrapper: times each ``fetch`` call (so the fetch span
    nests inside ``join.process_batch``) and delegates unchanged."""

    def __init__(self, inner, tracer):
        self.inner, self.tracer = inner, tracer

    def fetch(self, missed_keys):
        with self.tracer.span("fetch.call"):
            return self.inner.fetch(missed_keys)


class Workload:
    """Shared per-run bookkeeping: per-batch facts a workload records
    for the traced metrics, keyed by batch id."""

    def __init__(self, name: str, spark, inputs, tracer, size: dict):
        self.name, self.spark, self.inputs = name, spark, inputs
        self.tracer, self.size = tracer, size
        self.facts: dict[int, dict] = {}
        self.setup_facts: dict[str, list] = {}

    def _fact(self, b: int, **kv) -> None:
        self.facts.setdefault(b, {}).update(kv)

    def _timed_setup(self, name: str, fn):
        with self.tracer.span(name):
            t = time.monotonic()
            out = fn()
            self.setup_facts.setdefault(name, []).append(time.monotonic() - t)
        return out

    def batch(self, b: int) -> bool:
        """Run batch ``b``; returns whether its output matched."""
        raise NotImplementedError

    def load(self) -> None:
        raise NotImplementedError

    def after_batch(self, b: int) -> None:
        """Traced runs only: state probes taken outside the batch."""

    def unload(self) -> None:
        """Release everything ``load`` built."""
        raise NotImplementedError

    def close(self) -> None:
        self.unload()

    def finish(self) -> None:
        """Pull the engine-side observations for the traced metrics."""


class EnrichWorkload(Workload):
    """lineitem-shaped tuples enriched from a key-sorted part-shaped
    store through ``SemiStreamJoin`` with a per-batch ``AutoFetcher``."""

    key = "l_partkey"

    def load(self):
        from distributed_stream_processing_spark.operators.semi_stream_join import (
            SemiStreamJoin,
        )
        from distributed_stream_processing_spark.sources.fetcher import (
            AutoFetcher,
            parquet_clustered_on,
            path_bytes,
        )
        from distributed_stream_processing_spark.streaming.cache_controller import (
            AdaptiveCacheController,
        )

        path = self.inputs.store_path

        def load_store():
            store = self.spark.read.parquet(path).cache()
            store.count()
            return store

        self.store = self._timed_setup("setup.load", load_store)
        ctl = AdaptiveCacheController()
        self.auto = AutoFetcher(
            source=self.store,
            key=self.key,
            store_bytes=path_bytes(path),
            key_clustered=parquet_clustered_on(path, self.key),
            miss_signal=lambda: ctl.history[-1].n_miss if ctl.history else None,
        )
        self.ctl = ctl
        self.join = self._timed_setup(
            "join.init",
            lambda: SemiStreamJoin(
                store=self.store,
                key=self.key,
                controller=ctl,
                fetcher=TimedFetcher(self.auto, self.tracer),
            ),
        )

    def unload(self):
        self.join.close()
        self.store.unpersist()

    def batch(self, b):
        tr = self.tracer
        df = self.spark.read.parquet(self.inputs.batch_paths[b])
        n_chosen = len(self.auto.chosen)
        with tr.span("join.process_batch"):
            out = self.join.process_batch(df, b)
        with tr.span("join.emit"):
            pdf = out.toPandas()
            got = checksum(
                pdf["l_orderkey"],
                pdf["l_linenumber"],
                pdf["l_partkey"],
                cents(pdf["p_retailprice"]),
            )
        picks = [c for c, _ in self.auto.chosen[n_chosen:]]
        # a compaction batch folds every pending delta into new base
        # checkpoints, leaving nothing pending
        self._fact(
            b,
            out_rows=len(pdf),
            pushdown=int("pushdown" in picks),
            compaction=int(not self.join._pend),
            window=self.ctl.window,
        )
        return got == self.inputs.expected[b]

    def after_batch(self, b):
        # the attribution walk must land before the state count's job,
        # or that job's scans would leak into the walk's metrics
        self.join.flush_attribution()
        with self.tracer.span("trace.state_rows"):
            self._fact(b, state_rows=self.join.cache.count())

    def finish(self):
        self.join.flush_attribution()
        for h in self.ctl.history:
            self._fact(
                h.batch_id,
                missed_keys=h.n_miss,
                fetch_task_s=h.store_fetch_s,
                maintain_task_s=h.cache_maintain_s,
                hit_task_s=h.join_s,
                measured=int(h.measured),
            )


class SimJoinWorkload(Workload):
    """documents through ``SemiStreamSimilarityJoin`` over a prebuilt
    ``SimilarityStore`` at Jaccard 3/4."""

    threshold = Fraction(3, 4)

    def _docs(self, path):
        from distributed_stream_processing_spark.functions.text import tokens

        return self.spark.read.parquet(path).select(
            F.col("doc_id").alias("id"), tokens("text").alias("tokens")
        )

    def load(self):
        from distributed_stream_processing_spark.operators.semi_stream_similarity import (
            SemiStreamSimilarityJoin,
            build_similarity_store,
        )
        from distributed_stream_processing_spark.streaming.cache_controller import (
            AdaptiveCacheController,
        )

        def load_store():
            stored = self._docs(self.inputs.store_path).cache()
            stored.count()
            return stored

        self.stored = self._timed_setup("setup.load", load_store)
        self.arts = self._timed_setup(
            "sim.store_build", lambda: build_similarity_store(self.stored, self.threshold)
        )
        self.ctl = AdaptiveCacheController()
        self.join = self._timed_setup(
            "sim.init",
            lambda: SemiStreamSimilarityJoin(
                threshold=self.threshold, controller=self.ctl, artifacts=self.arts
            ),
        )

    def unload(self):
        self.join.close()
        for df in (
            self.arts.rep_store, self.arts.kv_store, self.arts.sig_freq, self.stored
        ):
            if df is not None:
                df.unpersist()

    def batch(self, b):
        tr = self.tracer
        df = self._docs(self.inputs.batch_paths[b])
        with tr.span("sim.process_batch"):
            out = self.join.process_batch(df, b)
        with tr.span("sim.emit"):
            pdf = out.toPandas()
            got = checksum(pdf["a_id"], pdf["b_id"], pdf["inter"], pdf["uni"])
        self._fact(
            b, out_rows=len(pdf), compaction=int(not self.join._pend),
            window=self.ctl.window,
        )
        return got == self.inputs.expected[b]

    def finish(self):
        self.join.flush_attribution()
        for h in self.ctl.history:
            self._fact(
                h.batch_id,
                missed_keys=h.n_miss,
                fetch_task_s=h.store_fetch_s,
                maintain_task_s=h.cache_maintain_s,
                hit_task_s=h.join_s,
                measured=int(h.measured),
            )


class S3MWorkload(Workload):
    """Stream windows against a stored series head: distributed best
    match, an epsilon-range probe of the prebuilt KV index, and the
    delayed-label SGD update."""

    def load(self):
        from distributed_stream_processing_spark.operators.subsequence_match import (
            build_kv_index,
        )
        from distributed_stream_processing_spark.streaming.online_ml import (
            OnlineLinearRegressionSGD,
        )

        def load_series():
            series = self.spark.read.parquet(self.inputs.store_path).cache()
            self.n_stored = series.count()
            return series

        self.series = self._timed_setup("setup.load", load_series)

        def build_index():
            idx = build_kv_index(self.series, value_scale=S3M_SCALE).cache()
            idx.count()
            return idx

        self.index = self._timed_setup("s3m.index_build", build_index)
        m, pred = self.size["m"], self.size["pred"]
        self.model = OnlineLinearRegressionSGD(
            dim=(m - 1) + pred,
            step_size=self.size["step"],
            num_iterations=self.size["iters"],
        )
        self.head = self.inputs.extra["head"]
        self.prev = None  # (features, values) of the previous batch

    def unload(self):
        self.index.unpersist()
        self.series.unpersist()

    def batch(self, b):
        from distributed_stream_processing_spark.operators.subsequence_match import (
            DEFAULT_WIDTHS,
            subsequence_match_ed,
        )
        from distributed_stream_processing_spark.streaming.online_ml import (
            batch_best_match,
        )

        tr = self.tracer
        m, pred, k = self.size["m"], self.size["pred"], self.size["windows"]
        exp = self.inputs.expected[b]
        with tr.span("batch.read"):
            pdf = self.spark.read.parquet(self.inputs.batch_paths[b]).toPandas()
        vals = pdf.sort_values("pos")["value"].to_numpy(np.float64)
        windows = {j: vals[j * m : (j + 1) * m] for j in range(k)}
        with tr.span("s3m.match"):
            best = batch_best_match(self.series, windows, value_scale=S3M_SCALE)
        with tr.span("s3m.range"):
            rows = subsequence_match_ed(
                self.series,
                list(windows[0]),
                exp["epsilon"],
                index=self.index,
                n_positions=self.n_stored,
                value_scale=S3M_SCALE,
                available_widths=set(DEFAULT_WIDTHS),
            ).collect()
        X = np.array(
            [
                s3m_features(windows[j], self.head, best[j][0] if j in best else 0, pred)
                for j in range(k)
            ]
        )
        with tr.span("s3m.train"):
            if self.prev is not None:
                pX, pvals = self.prev
                ext = np.concatenate([pvals, vals])
                y = np.array(
                    [ext[j * m + m + pred - 1] - ext[j * m + m + pred - 2] for j in range(k)]
                )
                self.model.train(pX, y)
            preds = np.array([self.model.predict(x) for x in X])
        self.prev = (X, vals)
        got_best = [(j, int(best[j][0]), int(best[j][2])) for j in sorted(best)]
        ok = (
            got_best == exp["best"]
            and checksum([r.start for r in rows]) == exp["range"]
            and np.allclose(preds, exp["pred"], rtol=1e-9, atol=1e-12)
        )
        self._fact(b, out_rows=len(best) + len(rows), range_matches=len(rows))
        return ok


WORKLOADS = {
    "enrich_drift": EnrichWorkload,
    "simjoin": SimJoinWorkload,
    "s3m": S3MWorkload,
}
