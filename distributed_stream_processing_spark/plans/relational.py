"""Core relational queries: the DS-Join equi-join family plus the
aggregation/sort/window operators from SURVEY.md §2.2-§2.5.

Each query mirrors a reference operator (file:line cited per query)
but is expressed declaratively so Catalyst plans pushdown, broadcast
and AQE. The "cache" used by the hit/miss queries is a deterministic
subset of `part` (p_size < 15), standing in for the reference's
preloaded 40k-row cache file (DS-Join/DS_join_step4/src/main/scala/
streaming.scala:200) so the semi/anti split is reproducible in SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from distributed_stream_processing_spark.catalog import Catalog
from distributed_stream_processing_spark.plans.registry import query


def _cat(spark: SparkSession, sf_dir: str) -> Catalog:
    return Catalog(spark, sf_dir)


# deterministic stand-in for the DS-Join preloaded cache
def cache_side(cat: Catalog) -> DataFrame:
    return cat.part.filter(F.col("p_size") < 15)


# ---------------------------------------------------------------------------
# Aggregation (SURVEY §2.4: A1-A3, A9 analogues)
# ---------------------------------------------------------------------------


@query(
    "q01_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                        AS sum_qty,
           round(sum(l_extendedprice), 2)                                   AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
           round(avg(l_quantity), 4)                                        AS avg_qty,
           round(avg(l_extendedprice), 4)                                   AS avg_price,
           round(avg(l_discount), 4)                                        AS avg_disc,
           CAST(count(*) AS BIGINT)                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1-style hash aggregation (map-side partial agg; one shuffle).",
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _cat(spark, sf_dir).lineitem
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# DS-Join equi-join family (SURVEY §2.3: J1-J5; §3.1)
# ---------------------------------------------------------------------------


@query(
    "q02_stream_enrich_join",
    oracle="""
    SELECT CAST(l.l_orderkey AS BIGINT)   AS l_orderkey,
           CAST(l.l_linenumber AS BIGINT) AS l_linenumber,
           CAST(l.l_partkey AS BIGINT)    AS l_partkey,
           p.p_name, p.p_brand, p.p_retailprice,
           l.l_quantity, l.l_extendedprice
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    """,
    doc=(
        "DS-Join hit-path equi-join: enrich each (stream) lineitem with its "
        "stored part row (ref streaming.scala:253-258). Dimension side is "
        "broadcast: no shuffle of the fact table at any scale."
    ),
)
def q02_stream_enrich_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = _cat(spark, sf_dir)
    li, part = cat.lineitem, cat.part
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey, "inner")
        .select(
            F.col("l_orderkey").cast("bigint").alias("l_orderkey"),
            F.col("l_linenumber").cast("bigint").alias("l_linenumber"),
            F.col("l_partkey").cast("bigint").alias("l_partkey"),
            "p_name",
            "p_brand",
            "p_retailprice",
            "l_quantity",
            "l_extendedprice",
        )
    )


# q03/q04/q05 retired from the 50-row gate budget (round 7, VERDICT r6
# task 1): each is a single-operator slice — semi (J4), anti (J3),
# distinct missed keys (O5) — of the q33/q48 cached-pipeline gates,
# which exercise the identical joins per batch under a transparency
# oracle. The freed rows put the three newest LLM-pipeline queries
# (q56/q57/q58) and the DP-segmenter gate (q59, since retired behind
# q29) inside the driver's 50-row correctness card. The functions
# remain for the hit/miss partition unit test below.
def _retired_q03_cache_hit_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cache-hit detection = left semi join (ref cogroup filter streaming.scala:235)."""
    cat = _cat(spark, sf_dir)
    li = cat.lineitem
    cache = cache_side(cat)
    return li.join(
        F.broadcast(cache), li.l_partkey == cache.p_partkey, "left_semi"
    ).select(
        F.col("l_orderkey").cast("bigint").alias("l_orderkey"),
        F.col("l_linenumber").cast("bigint").alias("l_linenumber"),
        F.col("l_partkey").cast("bigint").alias("l_partkey"),
        "l_quantity",
    )


def _retired_q04_cache_miss_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cache-miss detection = left anti join (ref subtractByKey streaming.scala:283,304)."""
    cat = _cat(spark, sf_dir)
    li = cat.lineitem
    cache = cache_side(cat)
    return li.join(
        F.broadcast(cache), li.l_partkey == cache.p_partkey, "left_anti"
    ).select(
        F.col("l_orderkey").cast("bigint").alias("l_orderkey"),
        F.col("l_linenumber").cast("bigint").alias("l_linenumber"),
        F.col("l_partkey").cast("bigint").alias("l_partkey"),
        "l_quantity",
    )


def _retired_q05_missed_keys_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct missed keys shipped to the remote store, one batched
    lookup per partition in the reference (streaming.scala:306,343-377)."""
    cat = _cat(spark, sf_dir)
    li = cat.lineitem
    cache = cache_side(cat)
    return (
        li.join(F.broadcast(cache), li.l_partkey == cache.p_partkey, "left_anti")
        .select(F.col("l_partkey").cast("bigint").alias("l_partkey"))
        .distinct()
    )


# q06 retired from the 50-row gate budget (round 3): its hit ∪ miss
# assembly (J5/O4) is the per-batch core of q33's full cached-pipeline
# gate (same transparency oracle over the same tables, ×4 batches) and
# of q48's similarity twin. (Its hit/miss halves q03/q04 followed in
# round 7 — see above.) The freed row gates the stateful streaming
# operator (q55, plans/stream_plans.py — W4 was the last pytest-only
# streaming component). The function remains for the
# cache-transparency unit test.
def _retired_q06_hit_union_miss(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = _cat(spark, sf_dir)
    li, part = cat.lineitem, cat.part
    cache = cache_side(cat)
    out_cols = lambda src: [  # noqa: E731
        F.col("l_orderkey").cast("bigint").alias("l_orderkey"),
        F.col("l_linenumber").cast("bigint").alias("l_linenumber"),
        F.col("l_partkey").cast("bigint").alias("l_partkey"),
        F.col("p_retailprice"),
        F.lit(src).alias("src"),
    ]
    hit = li.join(
        F.broadcast(cache), li.l_partkey == cache.p_partkey, "inner"
    ).select(*out_cols("hit"))
    missed = li.join(F.broadcast(cache), li.l_partkey == cache.p_partkey, "left_anti")
    miss = missed.join(
        F.broadcast(part), missed.l_partkey == part.p_partkey, "inner"
    ).select(*out_cols("miss"))
    return hit.unionByName(miss)


@query(
    "q07_revenue_by_customer",
    oracle="""
    SELECT CAST(c.c_custkey AS BIGINT) AS c_custkey,
           c.c_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY c.c_custkey, c.c_name
    """,
    doc="TPC-H Q3-style 3-way join + agg; lineitem never shuffled twice (AQE).",
)
def q07_revenue_by_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = _cat(spark, sf_dir)
    return (
        cat.lineitem.join(
            cat.orders, cat.lineitem.l_orderkey == cat.orders.o_orderkey
        )
        .join(F.broadcast(cat.customer), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(F.col("c_custkey").cast("bigint").alias("c_custkey"), "c_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# q08 retired from the 50-row gate budget (round 7): its snowflake
# join shape (broadcast dims + single fact scan) is fully gated by
# q02 (broadcast equi-join), q07 (multi-join + agg) and q43 (cube
# over the same fact). The function remains for the PLANS.md plan
# audit (tools/explain_plans.py) and the snowflake-shape unit test.
def q08_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style snowflake join; all dims broadcast, fact scanned once."""
    cat = _cat(spark, sf_dir)
    dims = (
        cat.region.filter(F.col("r_name") == "ASIA")
        .join(cat.nation, F.col("n_regionkey") == F.col("r_regionkey"))
        .join(cat.supplier, F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "n_name")
    )
    return (
        cat.lineitem.join(F.broadcast(dims), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


# ---------------------------------------------------------------------------
# Sorts / top-k / windows (SURVEY §2.5: O1-O3; §2.2 P6; §2.4 A5)
# ---------------------------------------------------------------------------


@query(
    "q09_topk_orders_per_customer",
    oracle="""
    SELECT CAST(o_custkey AS BIGINT) AS o_custkey,
           CAST(o_orderkey AS BIGINT) AS o_orderkey,
           o_totalprice,
           CAST(rk AS BIGINT) AS rk
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rk
      FROM orders
    ) WHERE rk <= 3
    """,
    doc="Top-k per group via ranking window (ref answers.sort+take, QueryEngine.java:285-289).",
)
def q09_topk_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = _cat(spark, sf_dir)
    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        cat.orders.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            F.col("o_custkey").cast("bigint").alias("o_custkey"),
            F.col("o_orderkey").cast("bigint").alias("o_orderkey"),
            "o_totalprice",
            F.col("rk").cast("bigint").alias("rk"),
        )
    )


# q10 retired from the 50-row gate budget (round 3): its tumbling
# rollup is byte-identical to q34_stream_minute_rollup's oracle (q34
# runs the SAME aggregation through real Structured Streaming and its
# gate row still covers it), and streaming/batch parity is pinned by
# tests/test_streaming.py::test_streaming_rollup_matches_batch, which
# calls this function directly. The freed row gates the adaptive
# signature-scheme join (q54, plans/text_plans.py).
def q10_event_minute_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _cat(spark, sf_dir).events
    return (
        ev.groupBy(
            F.unix_timestamp(F.date_trunc("minute", F.col("ts"))).alias("minute_epoch"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


@query(
    "q11_delta_encode",
    oracle="""
    SELECT CAST(event_id AS BIGINT) AS event_id,
           CAST(user_id AS BIGINT) AS user_id,
           round(value - lag(value) OVER (PARTITION BY user_id ORDER BY event_id), 6)
             AS delta
    FROM events
    """,
    doc=(
        "Rate-of-change (delta) encoding, S3M's Qs(i)=seq(i+1)-seq(i) "
        "(kvscala/s3m.scala:93-96) as a lag window per series key."
    ),
)
def q11_delta_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _cat(spark, sf_dir).events
    w = W.partitionBy("user_id").orderBy("event_id")
    return ev.select(
        F.col("event_id").cast("bigint").alias("event_id"),
        F.col("user_id").cast("bigint").alias("user_id"),
        F.round(F.col("value") - F.lag("value").over(w), 6).alias("delta"),
    )


# q12_sliding_mean was retired in round 2: the width-25 sliding mean
# (A5) is gate-covered by q30_kv_index_w25, whose oracle checks the
# same window statistic inside the index build (the driver gates only
# the first 50 registered queries).


@query(
    "q13_sessionize",
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), sessions AS (
      SELECT user_id, event_id,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(session_id AS BIGINT) AS session_id,
           CAST(count(*) AS BIGINT) AS n_events
    FROM sessions GROUP BY user_id, session_id
    """,
    doc="Sessionization via gap detection (lag + running sum), 30-minute gap.",
)
def q13_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _cat(spark, sf_dir).events
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    flagged = ev.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > 30 * 60), F.lit(1)).otherwise(F.lit(0)),
    )
    sessions = flagged.withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(W.unboundedPreceding, 0)),
    )
    return sessions.groupBy(
        F.col("user_id").cast("bigint").alias("user_id"),
        F.col("session_id").cast("bigint").alias("session_id"),
    ).agg(F.count(F.lit(1)).alias("n_events"))


@query(
    "q14_length_group_stats",
    oracle="""
    SELECT CAST(min(n_chars) AS BIGINT) AS min_len,
           CAST(max(n_chars) AS BIGINT) AS max_len,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM documents
    """,
    doc="Min/max/count sizing the similarity length groups (BuildSig.scala:245-251).",
)
def q14_length_group_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _cat(spark, sf_dir).documents
    return docs.agg(
        F.min("n_chars").cast("bigint").alias("min_len"),
        F.max("n_chars").cast("bigint").alias("max_len"),
        F.count(F.lit(1)).alias("n_docs"),
    )


# q51_percentiles was retired in round 12 to free its card slot for
# q60_stream_watermark_late_data (the W3 watermark/late-data gate —
# real engine capability vs a plain built-in): exact interpolated
# percentiles are pure `F.percentile` / DuckDB `quantile_cont` with no
# custom engine code on the path, and the card holds only the first
# 50 registered queries (tests/test_registry_window.py). The function
# remains callable (and pytest-covered) for the API surface.
def q51_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (percentile /
    quantile_cont agree on linear interpolation); the approximate
    path at scale is percentile_approx."""
    li = _cat(spark, sf_dir).lineitem
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("l_extendedprice", F.lit(0.95)), 4).alias("p95"),
        F.round(F.percentile("l_quantity", F.lit(0.5)), 4).alias("qty_p50"),
    )


@query(
    "q15_word_count",
    oracle="""
    SELECT word, CAST(count(*) AS BIGINT) AS n
    FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
    WHERE word <> ''
    GROUP BY word
    """,
    doc="Word count (DSim-Join wordcount.scala:15): explode + hash agg.",
)
def q15_word_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _cat(spark, sf_dir).documents
    return (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
