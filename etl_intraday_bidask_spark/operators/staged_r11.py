"""Exact statistics, BI calendars and audit operators (SURVEY.md §2.33).

SQL-surface semantics (VALUES dims, NOT-IN null traps,
full-outer reconciliation), exact nonparametric statistics
(Mann-Whitney U, runs test, Theil-Sen, Cohen's kappa, mutual
information, trimmed/geometric means), BI/finance calendars (4-4-5
fiscal, NRR, Laspeyres, backlog sweep-line, quarter-end
concentration), engagement analytics (DAU/WAU stickiness, bounce
rate, interval-union coverage, timeout sensitivity), corpus/text
observability (hapax, JSD, vocab coverage, Fano burstiness, CDC
chunking), embedding/ANN audits (k-center init, SimHash bit balance,
norm-bound pruning), multimodal metadata (aspect buckets, byte
entropy), microstructure (impact decay, anchored VWAP), and
ETL/optimizer plumbing (surrogate-key stability, backfill plan,
selectivity census).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from etl_intraday_bidask_spark.functions.parity import scaled_long
from etl_intraday_bidask_spark.registry import register
from etl_intraday_bidask_spark.tables import load


@register(
    "orders_rfm_migration_matrix",
    oracle_sql="""
        WITH spend AS (
            SELECT o_custkey,
                   CAST(year(o_orderdate) AS BIGINT) AS y,
                   CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS cents
            FROM orders
            WHERE year(o_orderdate) IN (1995, 1996)
            GROUP BY o_custkey, y
        ), tiered AS (
            SELECT o_custkey, y,
                   ntile(3) OVER (PARTITION BY y
                       ORDER BY cents, o_custkey) AS tier
            FROM spend
        ), matrix AS (
            SELECT coalesce(a.tier, 0) AS tier_1995,
                   coalesce(b.tier, 0) AS tier_1996,
                   CAST(count(*) AS BIGINT) AS n_customers
            FROM (SELECT o_custkey, tier FROM tiered WHERE y = 1995) a
            FULL OUTER JOIN
                 (SELECT o_custkey, tier FROM tiered WHERE y = 1996) b
              ON a.o_custkey = b.o_custkey
            GROUP BY 1, 2
        )
        SELECT CAST(tier_1995 AS BIGINT) AS tier_1995,
               CAST(tier_1996 AS BIGINT) AS tier_1996,
               n_customers
        FROM matrix ORDER BY tier_1995, tier_1996
    """,
    description="Value-tier migration matrix 1995 -> 1996: customers "
    "terciled by annual spend within each year (ntile, custkey tie-"
    "break — SQL-standard distribution both engines), full-outer-"
    "joined so entrants (tier 0 -> t) and churners (t -> tier 0) "
    "appear as first-class matrix cells — the segment-flow view "
    "orders_rfm_segments' static snapshot cannot show (is the top "
    "tier stable or churning?; the revenue-bridge op shows the "
    "MONEY flow, this shows the PEOPLE flow). Two bounded windows + "
    "one key join.",
)
def orders_rfm_migration_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    spend = (
        load(spark, sf_dir, "orders")
        .where(F.year("o_orderdate").isin(1995, 1996))
        .groupBy(
            "o_custkey", F.year("o_orderdate").cast("long").alias("y")
        )
        .agg(F.sum(scaled_long("o_totalprice", 100)).alias("cents"))
    )
    tiered = spend.select(
        "o_custkey",
        "y",
        F.ntile(3)
        .over(
            Window.partitionBy("y").orderBy("cents", "o_custkey")
        )
        .alias("tier"),
    )
    a = tiered.where(F.col("y") == 1995).select(
        F.col("o_custkey").alias("ka"), F.col("tier").alias("ta")
    )
    b = tiered.where(F.col("y") == 1996).select(
        F.col("o_custkey").alias("kb"), F.col("tier").alias("tb")
    )
    matrix = (
        a.join(b, a.ka == b.kb, "full_outer")
        .select(
            F.coalesce(F.col("ta"), F.lit(0)).alias("tier_1995"),
            F.coalesce(F.col("tb"), F.lit(0)).alias("tier_1996"),
        )
        .groupBy("tier_1995", "tier_1996")
        .agg(F.count(F.lit(1)).cast("long").alias("n_customers"))
    )
    return matrix.select(
        F.col("tier_1995").cast("long").alias("tier_1995"),
        F.col("tier_1996").cast("long").alias("tier_1996"),
        "n_customers",
    ).orderBy("tier_1995", "tier_1996")


@register(
    "text_bigram_xent_split",
    oracle_sql="""
        WITH split AS (
            SELECT doc_id, text,
                   (doc_id * 48271) % 2147483647 % 10 < 8 AS is_train
            FROM documents
        ), toks AS (
            SELECT doc_id, is_train, string_split(text, ' ') AS t
            FROM split WHERE len(string_split(text, ' ')) >= 2
        ), bigrams AS (
            SELECT doc_id, is_train,
                   t[i] AS w1, t[i + 1] AS w2
            FROM toks, unnest(generate_series(1, len(t) - 1)) AS u(i)
        ), lm_bi AS (
            SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2
            FROM bigrams WHERE is_train GROUP BY w1, w2
        ), lm_uni AS (
            SELECT w1, CAST(sum(c2) AS BIGINT) AS c1,
                   CAST(count(*) AS BIGINT) AS fanout
            FROM lm_bi GROUP BY w1
        ), test_scored AS (
            SELECT b.w1, b.w2,
                   CASE WHEN u.c1 IS NULL THEN NULL ELSE
                       CAST(floor(ln(
                           CAST(u.c1 + u.fanout AS DOUBLE)
                           / (coalesce(l.c2, 0) + 1)) * 1000000 + 0.5)
                           AS BIGINT)
                   END AS nll_ppm
            FROM bigrams b
            LEFT JOIN lm_uni u ON b.w1 = u.w1
            LEFT JOIN lm_bi l ON b.w1 = l.w1 AND b.w2 = l.w2
            WHERE NOT b.is_train
        )
        SELECT CAST(count(*) AS BIGINT) AS n_test_bigrams,
               CAST(count(nll_ppm) AS BIGINT) AS n_scored,
               CAST(count(*) - count(nll_ppm) AS BIGINT)
                   AS n_unseen_context,
               CAST(sum(nll_ppm) AS BIGINT) AS nll_sum_ppm,
               CAST(sum(nll_ppm) // nullif(count(nll_ppm), 0)
                    AS BIGINT) AS mean_nll_floor_ppm
        FROM test_scored
    """,
    description="Cross-split bigram cross-entropy: an add-one-"
    "smoothed bigram LM estimated on the 80% train split scores the "
    "20% test split — per test bigram, NLL = ln((c1 + V_w1)/(c2 + "
    "1)) with the train-side counts, quantized to ppm per term "
    "before summing (the float-crossing rule), unseen CONTEXTS "
    "(w1 absent from train) counted separately rather than "
    "back-off-faked — the held-out evaluation text_bigram_logprob's "
    "in-corpus scoring lacks, and the quantitative companion to "
    "text_oov_rate_split (OOV counts words; this prices them). "
    "Postings joins on the gram keys; smoothing denominator uses "
    "per-context fanout (observed-type smoothing), identical CTEs "
    "both engines.",
)
def text_bigram_xent_split(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    split = load(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        ((F.col("doc_id") * 48271) % 2147483647 % 10 < 8).alias(
            "is_train"
        ),
    )
    toks = split.select(
        "is_train", F.split("text", " ").alias("t")
    ).where(F.size("t") >= 2)
    bigrams = toks.select(
        "is_train",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - 1),
                lambda i: F.struct(
                    F.element_at(F.col("t"), i).alias("w1"),
                    F.element_at(F.col("t"), i + 1).alias("w2"),
                ),
            )
        ).alias("bg"),
    ).select("is_train", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    lm_bi = (
        bigrams.where(F.col("is_train"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("c2"))
    )
    lm_uni = lm_bi.groupBy("w1").agg(
        F.sum("c2").cast("long").alias("c1"),
        F.count(F.lit(1)).cast("long").alias("fanout"),
    )
    test = bigrams.where(~F.col("is_train"))
    scored = (
        test.join(
            lm_uni.withColumnRenamed("w1", "uw1"),
            test.w1 == F.col("uw1"),
            "left",
        )
        .join(
            lm_bi.withColumnRenamed("w1", "bw1").withColumnRenamed(
                "w2", "bw2"
            ),
            (F.col("w1") == F.col("bw1")) & (F.col("w2") == F.col("bw2")),
            "left",
        )
        .select(
            F.when(
                F.col("c1").isNotNull(),
                F.floor(
                    F.log(
                        (F.col("c1") + F.col("fanout")).cast("double")
                        / (F.coalesce(F.col("c2"), F.lit(0)) + 1)
                    )
                    * 1000000
                    + 0.5
                ).cast("long"),
            ).alias("nll_ppm")
        )
    )
    return scored.agg(
        F.count(F.lit(1)).cast("long").alias("n_test_bigrams"),
        F.count("nll_ppm").cast("long").alias("n_scored"),
        (F.count(F.lit(1)) - F.count("nll_ppm"))
        .cast("long")
        .alias("n_unseen_context"),
        F.sum("nll_ppm").cast("long").alias("nll_sum_ppm"),
        F.expr("sum(nll_ppm) div nullif(count(nll_ppm), 0)")
        .cast("long")
        .alias("mean_nll_floor_ppm"),
    )


@register(
    "ts_changepoint_two_level",
    oracle_sql="""
        WITH daily AS (
            SELECT date_trunc('day', ts) AS d,
                   CAST(count(*) AS BIGINT) AS y
            FROM events GROUP BY d
        ), cum AS (
            SELECT d, y,
                   CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS i,
                   CAST(sum(y) OVER (ORDER BY d) AS BIGINT) AS cy,
                   CAST(count(*) OVER () AS BIGINT) AS n,
                   CAST(sum(y) OVER () AS BIGINT) AS ty
            FROM daily
        ), best1 AS (
            SELECT i AS split1 FROM (
                SELECT i,
                       row_number() OVER (ORDER BY
                           (cy * (n - i) - (ty - cy) * i)
                           * (cy * (n - i) - (ty - cy) * i)
                           // (i * (n - i)) DESC, d) AS rk
                FROM cum WHERE i < n
            ) WHERE rk = 1
        ), seg AS (
            SELECT c.d, c.y, c.i,
                   CASE WHEN c.i <= b.split1 THEN 0 ELSE 1 END AS side
            FROM cum c, best1 b
        ), seg_cum AS (
            SELECT side, d, y,
                   CAST(row_number() OVER (PARTITION BY side
                       ORDER BY d) AS BIGINT) AS j,
                   CAST(sum(y) OVER (PARTITION BY side ORDER BY d)
                        AS BIGINT) AS cy,
                   CAST(count(*) OVER (PARTITION BY side) AS BIGINT)
                       AS m,
                   CAST(sum(y) OVER (PARTITION BY side) AS BIGINT)
                       AS sy
            FROM seg
        ), best2 AS (
            SELECT side, d, j, score FROM (
                SELECT side, d, j,
                       (cy * (m - j) - (sy - cy) * j)
                       * (cy * (m - j) - (sy - cy) * j)
                       // (j * (m - j)) AS score,
                       row_number() OVER (PARTITION BY side ORDER BY
                           (cy * (m - j) - (sy - cy) * j)
                           * (cy * (m - j) - (sy - cy) * j)
                           // (j * (m - j)) DESC, d) AS rk
                FROM seg_cum WHERE j < m
            ) WHERE rk = 1
        )
        SELECT CAST(side AS BIGINT) AS segment_side,
               CAST(epoch_us(d) AS BIGINT) AS split_day_us,
               CAST(j AS BIGINT) AS offset_in_segment,
               CAST(score AS BIGINT) AS score_scaled
        FROM best2 ORDER BY segment_side
    """,
    description="Two-level binary segmentation: the level-1 "
    "changepoint (ts_changepoint_binseg's exact cross-multiplied "
    "score) splits the daily series, then EACH half runs the same "
    "argmax independently — the documented recursion realized one "
    "level deeper, yielding the 3-segment structure (e.g. "
    "ramp-up / plateau / decay) a single split can't express. All "
    "scores exact integers; per-side windows partition by segment, "
    "so level-2 is embarrassingly parallel — exactly how recursive "
    "binseg distributes (each level is one partitioned pass, "
    "log-depth total). Date tie-breaks at both levels.",
)
def ts_changepoint_two_level(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    daily = (
        load(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", "ts").alias("d"))
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
    )
    w = Window.orderBy("d")
    wall = Window.partitionBy()
    cum = daily.select(
        "d",
        "y",
        F.row_number().over(w).cast("long").alias("i"),
        F.sum("y")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("cy"),
        F.count(F.lit(1)).over(wall).cast("long").alias("n"),
        F.sum("y").over(wall).alias("ty"),
    )
    score1 = F.expr(
        "(cy * (n - i) - (ty - cy) * i) "
        "* (cy * (n - i) - (ty - cy) * i) div (i * (n - i))"
    )
    best1 = (
        cum.where(F.col("i") < F.col("n"))
        .select(
            "i",
            F.row_number()
            .over(Window.orderBy(score1.desc(), "d"))
            .alias("rk"),
        )
        .where(F.col("rk") == 1)
        .select(F.col("i").alias("split1"))
    )
    seg = cum.crossJoin(F.broadcast(best1)).select(
        "d",
        "y",
        F.when(F.col("i") <= F.col("split1"), 0).otherwise(1).alias(
            "side"
        ),
    )
    ws = Window.partitionBy("side").orderBy("d")
    wside = Window.partitionBy("side")
    seg_cum = seg.select(
        "side",
        "d",
        "y",
        F.row_number().over(ws).cast("long").alias("j"),
        F.sum("y")
        .over(ws.rowsBetween(Window.unboundedPreceding, 0))
        .alias("cy"),
        F.count(F.lit(1)).over(wside).cast("long").alias("m"),
        F.sum("y").over(wside).alias("sy"),
    )
    score2 = F.expr(
        "(cy * (m - j) - (sy - cy) * j) "
        "* (cy * (m - j) - (sy - cy) * j) div (j * (m - j))"
    )
    best2 = (
        seg_cum.where(F.col("j") < F.col("m"))
        .select(
            "side",
            "d",
            "j",
            score2.alias("score"),
            F.row_number()
            .over(
                Window.partitionBy("side").orderBy(
                    score2.desc(), "d"
                )
            )
            .alias("rk"),
        )
        .where(F.col("rk") == 1)
    )
    return best2.select(
        F.col("side").cast("long").alias("segment_side"),
        F.unix_micros("d").alias("split_day_us"),
        F.col("j").alias("offset_in_segment"),
        F.col("score").cast("long").alias("score_scaled"),
    ).orderBy("segment_side")


@register(
    "sql_values_inline_table",
    oracle_sql="""
        SELECT tier,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS revenue_cents
        FROM orders
        JOIN (VALUES ('1-URGENT', 'expedite'),
                     ('2-HIGH', 'expedite'),
                     ('3-MEDIUM', 'standard'),
                     ('4-NOT SPECIFIED', 'standard'),
                     ('5-LOW', 'deferred')) AS m(pri, tier)
          ON o_orderpriority = pri
        GROUP BY tier
        ORDER BY tier
    """,
    description="Inline VALUES table as a join dimension (SQL "
    "surface): the 5-row priority->tier mapping is declared as a "
    "VALUES literal inside the query text — the zero-IO way to ship "
    "a tiny static dim with the query itself (Catalyst folds it to a "
    "LocalRelation and broadcast-joins it; no scan, no shuffle on "
    "the dim side at any scale). Graded through spark.sql() so the "
    "parser surface is exercised; identical VALUES syntax both "
    "engines.",
)
def sql_values_inline_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders_vit")
    return spark.sql(
        """
        SELECT tier,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS revenue_cents
        FROM orders_vit
        JOIN (VALUES ('1-URGENT', 'expedite'),
                     ('2-HIGH', 'expedite'),
                     ('3-MEDIUM', 'standard'),
                     ('4-NOT SPECIFIED', 'standard'),
                     ('5-LOW', 'deferred')) AS m(pri, tier)
          ON o_orderpriority = pri
        GROUP BY tier
        ORDER BY tier
        """
    )


@register(
    "join_full_outer_reconcile",
    oracle_sql="""
        WITH a AS (
            SELECT o_custkey AS k,
                   CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS cents
            FROM orders WHERE year(o_orderdate) = 1994 GROUP BY k
        ), b AS (
            SELECT o_custkey AS k,
                   CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS cents
            FROM orders WHERE year(o_orderdate) = 1995 GROUP BY k
        )
        SELECT CASE WHEN b.k IS NULL THEN 'left_only'
                    WHEN a.k IS NULL THEN 'right_only'
                    ELSE 'both' END AS side,
               CAST(count(*) AS BIGINT) AS n_customers,
               CAST(sum(coalesce(a.cents, 0)) AS BIGINT) AS cents_1994,
               CAST(sum(coalesce(b.cents, 0)) AS BIGINT) AS cents_1995
        FROM a FULL OUTER JOIN b ON a.k = b.k
        GROUP BY side
        ORDER BY side
    """,
    description="Full-outer reconciliation census: per-customer 1994 "
    "vs 1995 spend full-outer-joined and bucketed left-only / "
    "right-only / both with exact cent totals on each side — the "
    "two-snapshot reconciliation report every migration/backfill "
    "sign-off reads (who disappeared, who appeared, what the "
    "overlapping population's totals are). One key-partitioned "
    "shuffle join on the pre-aggregated customer grain; at 100 TB "
    "both sides reduce before joining so the join input is the "
    "customer dim, never the fact table.",
)
def join_full_outer_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")

    def year_spend(y: int, out: str) -> DataFrame:
        return (
            orders.where(F.year("o_orderdate") == y)
            .groupBy(F.col("o_custkey").alias("k"))
            .agg(F.sum(scaled_long("o_totalprice", 100)).alias(out))
        )

    a = year_spend(1994, "cents_a")
    b = year_spend(1995, "cents_b").withColumnRenamed("k", "kb")
    return (
        a.join(b, a.k == b.kb, "full_outer")
        .select(
            F.when(F.col("kb").isNull(), "left_only")
            .when(F.col("k").isNull(), "right_only")
            .otherwise("both")
            .alias("side"),
            F.coalesce(F.col("cents_a"), F.lit(0)).alias("ca"),
            F.coalesce(F.col("cents_b"), F.lit(0)).alias("cb"),
        )
        .groupBy("side")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("ca").cast("long").alias("cents_1994"),
            F.sum("cb").cast("long").alias("cents_1995"),
        )
        .orderBy("side")
    )


@register(
    "subquery_not_in_null_trap",
    oracle_sql="""
        WITH probe AS (
            SELECT CASE WHEN o_orderkey % 97 = 0 THEN NULL
                        ELSE o_custkey END AS pk
            FROM orders
        )
        SELECT
            CAST((SELECT count(*) FROM customer
                  WHERE c_custkey NOT IN (SELECT pk FROM probe))
                 AS BIGINT) AS n_not_in,
            CAST((SELECT count(*) FROM customer c
                  WHERE NOT EXISTS (SELECT 1 FROM probe p
                                    WHERE p.pk = c.c_custkey))
                 AS BIGINT) AS n_not_exists,
            CAST((SELECT count(*) FROM probe WHERE pk IS NULL)
                 AS BIGINT) AS n_probe_nulls
    """,
    description="NOT IN vs NOT EXISTS null-semantics census: the "
    "probe set carries NULLs (every 97th orderkey masked), so "
    "three-valued logic makes `NOT IN` return ZERO rows while the "
    "null-safe `NOT EXISTS` anti join returns the real complement — "
    "the classic silent-empty-result landmine. Both counts plus the "
    "null count are graded, pinning that BOTH engines compile the "
    "two forms to the same (null-aware anti join vs anti join) "
    "semantics. Scale: each count is one anti join on the customer "
    "dim; the null-aware variant needs the null-existence flag "
    "broadcast, which Spark plans as a single-row aggregate — no "
    "cartesian anywhere.",
)
def subquery_not_in_null_trap(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders_nint")
    load(spark, sf_dir, "customer").createOrReplaceTempView("customer_nint")
    return spark.sql(
        """
        WITH probe AS (
            SELECT CASE WHEN o_orderkey % 97 = 0 THEN NULL
                        ELSE o_custkey END AS pk
            FROM orders_nint
        )
        SELECT
            CAST((SELECT count(*) FROM customer_nint
                  WHERE c_custkey NOT IN (SELECT pk FROM probe))
                 AS BIGINT) AS n_not_in,
            CAST((SELECT count(*) FROM customer_nint c
                  WHERE NOT EXISTS (SELECT 1 FROM probe p
                                    WHERE p.pk = c.c_custkey))
                 AS BIGINT) AS n_not_exists,
            CAST((SELECT count(*) FROM probe WHERE pk IS NULL)
                 AS BIGINT) AS n_probe_nulls
        """
    )


@register(
    "agg_trimmed_mean_exact",
    oracle_sql="""
        WITH ranked AS (
            SELECT o_orderpriority AS priority,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                   CAST(row_number() OVER (PARTITION BY o_orderpriority
                       ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS ra,
                   CAST(row_number() OVER (PARTITION BY o_orderpriority
                       ORDER BY o_totalprice DESC, o_orderkey DESC)
                        AS BIGINT) AS rd,
                   CAST(count(*) OVER (PARTITION BY o_orderpriority)
                        AS BIGINT) AS n
            FROM orders
        )
        SELECT priority,
               CAST(count(*) AS BIGINT) AS n_kept,
               CAST(sum(cents) AS BIGINT) AS kept_cents,
               CAST(sum(cents) AS DOUBLE) / count(*) / 100.0
                   AS trimmed_mean
        FROM ranked
        WHERE ra * 10 > n AND rd * 10 > n
        GROUP BY priority
        ORDER BY priority
    """,
    description="10% two-sided trimmed mean of order value per "
    "priority: rows whose ascending OR descending rank falls in the "
    "outer decile are dropped via the EXACT integer inequality "
    "rank*10 > n (no float quantile cut, no ties ambiguity — "
    "(value, orderkey) tie-break makes membership deterministic), "
    "and the mean of the kept cents divides once at the end — the "
    "outlier-robust center a metrics pipeline reports next to the "
    "raw mean. Two rank windows per priority partition + one "
    "grouped agg; partition-parallel at any scale.",
)
def agg_trimmed_mean_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    wp = Window.partitionBy("o_orderpriority")
    ranked = orders.select(
        F.col("o_orderpriority").alias("priority"),
        scaled_long("o_totalprice", 100).alias("cents"),
        F.row_number()
        .over(wp.orderBy("o_totalprice", "o_orderkey"))
        .cast("long")
        .alias("ra"),
        F.row_number()
        .over(wp.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").desc()))
        .cast("long")
        .alias("rd"),
        F.count(F.lit(1)).over(wp).cast("long").alias("n"),
    )
    return (
        ranked.where((F.col("ra") * 10 > F.col("n")) & (F.col("rd") * 10 > F.col("n")))
        .groupBy("priority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_kept"),
            F.sum("cents").cast("long").alias("kept_cents"),
            (
                F.sum("cents").cast("double")
                / F.count(F.lit(1))
                / F.lit(100.0)
            ).alias("trimmed_mean"),
        )
        .orderBy("priority")
    )


@register(
    "agg_geometric_mean_ln",
    oracle_sql="""
        WITH q AS (
            SELECT o_orderpriority AS priority,
                   CAST(floor(ln(CAST(round(o_totalprice * 100) AS BIGINT)
                                 / 100.0) * 1000000 + 0.5) AS BIGINT)
                       AS ln_micro
            FROM orders
        )
        SELECT priority,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(ln_micro) AS BIGINT) AS ln_micro_sum,
               exp(CAST(sum(ln_micro) AS DOUBLE) / count(*) / 1000000.0)
                   AS geo_mean
        FROM q GROUP BY priority ORDER BY priority
    """,
    description="Exact-deterministic geometric mean of order value "
    "per priority: each row's ln(value) is quantized to the 1e-6 "
    "grid FIRST (floor(ln*1e6+0.5) — the order-insensitive float "
    "crossing rule), the micro-nats sum as BIGINTs, and one "
    "exp(sum/n/1e6) at the end is the same IEEE chain on both "
    "engines. The multiplicative average a pricing/mixture report "
    "uses where the arithmetic mean is skew-dominated; map-side "
    "combinable, single shuffle on the group key.",
)
def agg_geometric_mean_ln(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    ln_micro = F.floor(
        F.log(scaled_long("o_totalprice", 100) / F.lit(100.0)) * 1000000
        + F.lit(0.5)
    ).cast("long")
    return (
        orders.select(
            F.col("o_orderpriority").alias("priority"),
            ln_micro.alias("ln_micro"),
        )
        .groupBy("priority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("ln_micro").cast("long").alias("ln_micro_sum"),
            F.exp(
                F.sum("ln_micro").cast("double")
                / F.count(F.lit(1))
                / F.lit(1000000.0)
            ).alias("geo_mean"),
        )
        .orderBy("priority")
    )


@register(
    "agg_mann_whitney_u_exact",
    oracle_sql="""
        WITH s AS (
            SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                   CASE WHEN o_orderpriority = '1-URGENT' THEN 1
                        ELSE 0 END AS is_a
            FROM orders
            WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
        ), cum AS (
            SELECT is_a,
                   CAST(coalesce(sum(is_a) OVER (ORDER BY cents
                       RANGE BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING), 0) AS BIGINT) AS a_less,
                   CAST(sum(is_a) OVER (PARTITION BY cents) AS BIGINT)
                       AS a_tied
            FROM s
        )
        SELECT
            CAST(sum(CASE WHEN is_a = 0
                          THEN 2 * a_less + a_tied ELSE 0 END)
                 AS BIGINT) AS u2,
            CAST(sum(is_a) AS BIGINT) AS n_a,
            CAST(count(*) - sum(is_a) AS BIGINT) AS n_b,
            CAST(sum(CASE WHEN is_a = 0
                          THEN 2 * a_less + a_tied ELSE 0 END)
                 - sum(is_a) * (count(*) - sum(is_a)) AS BIGINT)
                AS u2_centered
        FROM cum
    """,
    description="Exact Mann-Whitney U (rank-sum) test statistic "
    "between URGENT and LOW order values, tie-correct without "
    "midrank floats: 2U = sum over B-rows of (2*#A-strictly-less + "
    "#A-tied), with #A-less from one RANGE-frame cumulative window "
    "on the exact cents and #A-tied from a per-value partition "
    "window — every term an integer, so the doubled statistic is "
    "hash-graded exactly (u2_centered = 2U - n_a*n_b is the "
    "direction: 0 under perfect exchangeability). The nonparametric "
    "A/B location test an experimentation platform runs when values "
    "are heavy-tailed; global value-ordered window at test grain "
    "(the documented two-pass range-partition migration applies "
    "beyond ~1e8 rows per test cell).",
)
def agg_mann_whitney_u_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .select(
            scaled_long("o_totalprice", 100).alias("cents"),
            F.when(F.col("o_orderpriority") == "1-URGENT", 1)
            .otherwise(0)
            .alias("is_a"),
        )
    )
    cum = s.select(
        "is_a",
        F.coalesce(
            F.sum("is_a").over(
                Window.orderBy("cents").rangeBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("a_less"),
        F.sum("is_a")
        .over(Window.partitionBy("cents"))
        .cast("long")
        .alias("a_tied"),
    )
    u2 = F.sum(
        F.when(F.col("is_a") == 0, 2 * F.col("a_less") + F.col("a_tied"))
        .otherwise(0)
    )
    return cum.agg(
        u2.cast("long").alias("u2"),
        F.sum("is_a").cast("long").alias("n_a"),
        (F.count(F.lit(1)) - F.sum("is_a")).cast("long").alias("n_b"),
        (u2 - F.sum("is_a") * (F.count(F.lit(1)) - F.sum("is_a")))
        .cast("long")
        .alias("u2_centered"),
    )


@register(
    "agg_mutual_information_priority_status",
    oracle_sql="""
        WITH joint AS (
            SELECT o_orderpriority AS pri, o_orderstatus AS st,
                   CAST(count(*) AS BIGINT) AS n_ij
            FROM orders GROUP BY pri, st
        ), marg AS (
            SELECT pri, st, n_ij,
                   CAST(sum(n_ij) OVER (PARTITION BY pri) AS BIGINT) AS n_i,
                   CAST(sum(n_ij) OVER (PARTITION BY st) AS BIGINT) AS n_j,
                   CAST(sum(n_ij) OVER () AS BIGINT) AS n
            FROM joint
        ), cells AS (
            SELECT n,
                   CAST(floor(n_ij * ln(CAST(n_ij AS DOUBLE) * n
                                        / (n_i * n_j)) * 1000 + 0.5)
                        AS BIGINT) AS c_milli
            FROM marg
        )
        SELECT CAST(max(n) AS BIGINT) AS n_total,
               CAST(count(*) AS BIGINT) AS n_cells,
               CAST(sum(c_milli) AS BIGINT) AS mi_milli_count_sum,
               CAST(sum(c_milli) AS DOUBLE) / max(n) / 1000.0
                   AS mi_nats
        FROM cells
    """,
    description="Exact-deterministic mutual information between "
    "order priority and status: joint counts reduce first (the "
    "15-cell contingency grid), marginals come from windows over "
    "the CELLS (never a second fact pass), each cell's "
    "n_ij*ln(n_ij*N/(n_i*n_j)) quantizes to milli-nat-counts before "
    "the exact integer sum, and MI divides once at the end — the "
    "dependence screen (0 = independent) a feature-selection or "
    "DQ-drift suite runs on categorical pairs, complementing the "
    "chi-square test's p-value view with an information-theoretic "
    "effect size. Fact-pass cost: one map-combined groupBy.",
)
def agg_mutual_information_priority_status(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    joint = (
        load(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderpriority").alias("pri"),
            F.col("o_orderstatus").alias("st"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_ij"))
    )
    marg = joint.select(
        "n_ij",
        F.sum("n_ij").over(Window.partitionBy("pri")).cast("long").alias("n_i"),
        F.sum("n_ij").over(Window.partitionBy("st")).cast("long").alias("n_j"),
        F.sum("n_ij").over(Window.partitionBy()).cast("long").alias("n"),
    )
    cells = marg.select(
        "n",
        F.floor(
            F.col("n_ij")
            * F.log(
                F.col("n_ij").cast("double") * F.col("n")
                / (F.col("n_i") * F.col("n_j"))
            )
            * 1000
            + F.lit(0.5)
        )
        .cast("long")
        .alias("c_milli"),
    )
    return cells.agg(
        F.max("n").cast("long").alias("n_total"),
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.sum("c_milli").cast("long").alias("mi_milli_count_sum"),
        (F.sum("c_milli").cast("double") / F.max("n") / F.lit(1000.0)).alias(
            "mi_nats"
        ),
    )


@register(
    "dq_functional_dependency_audit",
    oracle_sql="""
        WITH fd1 AS (
            SELECT 'p_brand->p_type' AS fd,
                   CAST(count(*) AS BIGINT) AS n_keys,
                   CAST(sum(CASE WHEN k > 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_violating_keys,
                   CAST(max(k) AS BIGINT) AS max_rhs_cardinality
            FROM (SELECT p_brand, count(DISTINCT p_type) AS k
                  FROM part GROUP BY p_brand)
        ), fd2 AS (
            SELECT 'p_type->p_size' AS fd,
                   CAST(count(*) AS BIGINT),
                   CAST(sum(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT),
                   CAST(max(k) AS BIGINT)
            FROM (SELECT p_type, count(DISTINCT p_size) AS k
                  FROM part GROUP BY p_type)
        ), fd3 AS (
            SELECT 'p_name->p_brand' AS fd,
                   CAST(count(*) AS BIGINT),
                   CAST(sum(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT),
                   CAST(max(k) AS BIGINT)
            FROM (SELECT p_name, count(DISTINCT p_brand) AS k
                  FROM part GROUP BY p_name)
        )
        SELECT * FROM fd1 UNION ALL SELECT * FROM fd2
        UNION ALL SELECT * FROM fd3
        ORDER BY fd
    """,
    description="Functional-dependency audit over the part dim: for "
    "each candidate FD (brand->type, type->size, name->brand) count "
    "determinant keys, keys with more than one dependent value "
    "(violations), and the worst fan-out — the schema-inference / "
    "normalization check a DQ suite runs before trusting a column "
    "as a lookup key (a 'violated FD' on a supposed key means dirty "
    "upstream merges). Three grouped distinct-counts on the dim "
    "grain, unioned; each is one shuffle on the determinant.",
)
def dq_functional_dependency_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    part = load(spark, sf_dir, "part")

    def fd(lhs: str, rhs: str) -> DataFrame:
        per_key = part.groupBy(lhs).agg(
            F.countDistinct(rhs).cast("long").alias("k")
        )
        return per_key.agg(
            F.lit(f"{lhs}->{rhs}").alias("fd"),
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.sum(F.when(F.col("k") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_violating_keys"),
            F.max("k").cast("long").alias("max_rhs_cardinality"),
        )

    return (
        fd("p_brand", "p_type")
        .unionAll(fd("p_type", "p_size"))
        .unionAll(fd("p_name", "p_brand"))
        .orderBy("fd")
    )


@register(
    "orders_backlog_timeseries",
    oracle_sql="""
        WITH span AS (
            SELECT o.o_orderkey,
                   date_trunc('month', o.o_orderdate) AS m_open,
                   date_trunc('month', max(l.l_shipdate)) AS m_close
            FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
            GROUP BY o.o_orderkey, m_open
        ), deltas AS (
            SELECT m_open AS m, 1 AS delta FROM span
            UNION ALL
            SELECT m_close AS m, -1 AS delta FROM span
        ), monthly AS (
            SELECT m, CAST(sum(delta) AS BIGINT) AS d
            FROM deltas GROUP BY m
        )
        SELECT CAST(epoch_us(m) AS BIGINT) AS month_us,
               CAST(sum(d) OVER (ORDER BY m) AS BIGINT) AS backlog
        FROM monthly ORDER BY month_us
    """,
    description="Open-order backlog time series by sweep-line: each "
    "order contributes +1 in its order month and -1 in its "
    "completion month (max lineitem shipdate — same-month "
    "completions cancel before the sweep), deltas reduce to the "
    "month grain, and one cumulative window over ~80 month rows "
    "yields the backlog curve — the WIP/burndown series an "
    "operations review tracks, computed without ever materializing "
    "a month x open-order range join (the sweep is O(orders) + a "
    "spine-sized window, the naive form O(orders x months)).",
)
def orders_backlog_timeseries(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    lineitem = load(spark, sf_dir, "lineitem")
    span = (
        orders.join(
            lineitem, orders.o_orderkey == lineitem.l_orderkey
        )
        .groupBy(
            "o_orderkey",
            F.date_trunc("month", "o_orderdate").alias("m_open"),
        )
        .agg(F.date_trunc("month", F.max("l_shipdate")).alias("m_close"))
    )
    # -1 lands in the completion month UNCONDITIONALLY: a same-month
    # completion must cancel its own +1 inside the month bucket (an
    # earlier draft filtered m_close > m_open, which left every
    # same-month order inflating the backlog forever — caught by the
    # ends-at-zero cross-assert, tests/test_staged_cross_assert.py).
    deltas = span.select(
        F.col("m_open").alias("m"), F.lit(1).alias("delta")
    ).unionAll(
        span.select(F.col("m_close").alias("m"), F.lit(-1).alias("delta"))
    )
    monthly = deltas.groupBy("m").agg(
        F.sum("delta").cast("long").alias("d")
    )
    return monthly.select(
        F.unix_micros("m").alias("month_us"),
        F.sum("d")
        .over(
            Window.orderBy("m").rowsBetween(Window.unboundedPreceding, 0)
        )
        .cast("long")
        .alias("backlog"),
    ).orderBy("month_us")


@register(
    "orders_new_vs_repeat_monthly",
    oracle_sql="""
        WITH flagged AS (
            SELECT date_trunc('month', o_orderdate) AS m,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                   row_number() OVER (PARTITION BY o_custkey
                       ORDER BY o_orderdate, o_orderkey) = 1 AS is_first
            FROM orders
        )
        SELECT CAST(epoch_us(m) AS BIGINT) AS month_us,
               CAST(sum(CASE WHEN is_first THEN cents ELSE 0 END)
                    AS BIGINT) AS new_cents,
               CAST(sum(CASE WHEN is_first THEN 0 ELSE cents END)
                    AS BIGINT) AS repeat_cents,
               CAST(sum(CASE WHEN is_first THEN cents ELSE 0 END) * 10000
                    // nullif(sum(cents), 0) AS BIGINT) AS new_share_bp
        FROM flagged GROUP BY m ORDER BY month_us
    """,
    description="New-vs-repeat revenue split per month: each order is "
    "tagged first-ever for its customer (row_number over (orderdate, "
    "orderkey) — deterministic under same-day ties), and monthly "
    "revenue splits into acquisition vs retention cents with the new "
    "share in exact floor basis points — the growth-mix view that "
    "tells whether a revenue month came from new logos or the "
    "existing base (pairs with events' first-seen growth accounting, "
    "on money instead of traffic). One customer-partitioned window + "
    "one month agg.",
)
def orders_new_vs_repeat_monthly(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    flagged = load(spark, sf_dir, "orders").select(
        F.date_trunc("month", "o_orderdate").alias("m"),
        scaled_long("o_totalprice", 100).alias("cents"),
        (
            F.row_number().over(
                Window.partitionBy("o_custkey").orderBy(
                    "o_orderdate", "o_orderkey"
                )
            )
            == 1
        ).alias("is_first"),
    )
    new_c = F.sum(F.when(F.col("is_first"), F.col("cents")).otherwise(0))
    return (
        flagged.groupBy("m")
        .agg(
            new_c.cast("long").alias("new_cents"),
            F.sum(F.when(F.col("is_first"), 0).otherwise(F.col("cents")))
            .cast("long")
            .alias("repeat_cents"),
            F.expr(
                "sum(CASE WHEN is_first THEN cents ELSE 0 END) * 10000"
                " div nullif(sum(cents), 0)"
            )
            .cast("long")
            .alias("new_share_bp"),
        )
        .select(
            F.unix_micros("m").alias("month_us"),
            "new_cents",
            "repeat_cents",
            "new_share_bp",
        )
        .orderBy("month_us")
    )


@register(
    "orders_fiscal_445_calendar",
    oracle_sql="""
        WITH fiscal AS (
            SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                   date_diff('day', DATE '1992-01-01',
                             CAST(o_orderdate AS DATE)) // 7 AS wk
            FROM orders
        ), mapped AS (
            SELECT cents,
                   wk // 52 AS fy,
                   wk % 52 // 13 AS fq,
                   CASE WHEN wk % 52 % 13 < 4 THEN 0
                        WHEN wk % 52 % 13 < 8 THEN 1
                        ELSE 2 END AS sub
            FROM fiscal
        )
        SELECT CAST(fy AS BIGINT) AS fiscal_year,
               CAST(fq * 3 + sub + 1 AS BIGINT) AS fiscal_period,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(cents) AS BIGINT) AS revenue_cents
        FROM mapped
        GROUP BY fiscal_year, fiscal_period
        ORDER BY fiscal_year, fiscal_period
    """,
    description="4-4-5 fiscal calendar rollup: order dates map to "
    "52-week fiscal years anchored at the fixture epoch "
    "(1992-01-01), each 13-week quarter splitting into 4+4+5-week "
    "periods by pure integer week arithmetic — the retail/finance "
    "close calendar whose periods align on weekdays (comparable "
    "週-over-week composition, unlike calendar months), computed "
    "without any calendar table join. Revenue per (fiscal year, "
    "period 1-12); exact integer mapping both engines.",
)
def orders_fiscal_445_calendar(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    # Truncating `div`, matching the oracle's integer `//` (both
    # truncate toward zero): floor(datediff/7) would diverge from the
    # oracle one week out of seven for any pre-anchor date. Fixture
    # dates never precede the 1992-01-01 anchor (SCALE.md §22), but
    # the forms must stay congruent on all inputs regardless.
    fiscal = orders.select(
        scaled_long("o_totalprice", 100).alias("cents"),
        F.expr(
            "datediff(cast(o_orderdate as date), date'1992-01-01') div 7"
        )
        .cast("long")
        .alias("wk"),
    )
    wk_in_q = F.col("wk") % 52 % 13
    mapped = fiscal.select(
        "cents",
        F.expr("wk div 52").alias("fy"),
        F.expr("wk % 52 div 13").alias("fq"),
        F.when(wk_in_q < 4, 0).when(wk_in_q < 8, 1).otherwise(2).alias("sub"),
    )
    return (
        mapped.groupBy(
            F.col("fy").cast("long").alias("fiscal_year"),
            (F.col("fq") * 3 + F.col("sub") + 1)
            .cast("long")
            .alias("fiscal_period"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("revenue_cents"),
        )
        .orderBy("fiscal_year", "fiscal_period")
    )


@register(
    "orders_net_revenue_retention",
    oracle_sql="""
        WITH cy AS (
            SELECT o_custkey AS k,
                   CAST(year(o_orderdate) AS BIGINT) AS y,
                   CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS cents
            FROM orders GROUP BY k, y
        )
        SELECT b.y + 1 AS year,
               CAST(sum(b.cents) AS BIGINT) AS base_cents,
               CAST(sum(coalesce(n.cents, 0)) AS BIGINT)
                   AS retained_cents,
               CAST(sum(coalesce(n.cents, 0)) * 10000
                    // nullif(sum(b.cents), 0) AS BIGINT) AS nrr_bp
        FROM cy b
        LEFT JOIN cy n ON n.k = b.k AND n.y = b.y + 1
        WHERE b.y < (SELECT max(y) FROM cy)
        GROUP BY year ORDER BY year
    """,
    description="Net revenue retention per year: for each cohort of "
    "customers active in year y, their total year-(y+1) revenue over "
    "their year-y revenue in exact floor basis points (NRR > 10000 "
    "= expansion beats churn) — the single number subscription and "
    "platform businesses are valued on, here computed on the "
    "customer-year grain so the join input is the reduced dim, "
    "never the fact table. One self-join on (custkey, year+1).",
)
def orders_net_revenue_retention(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    cy = (
        load(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_custkey").alias("k"),
            F.year("o_orderdate").cast("long").alias("y"),
        )
        .agg(F.sum(scaled_long("o_totalprice", 100)).alias("cents"))
    )
    max_y = cy.agg(F.max("y").alias("max_y"))
    nxt = cy.select(
        F.col("k").alias("nk"),
        F.col("y").alias("ny"),
        F.col("cents").alias("ncents"),
    )
    return (
        cy.crossJoin(F.broadcast(max_y))
        .where(F.col("y") < F.col("max_y"))
        .join(
            nxt,
            (F.col("nk") == F.col("k")) & (F.col("ny") == F.col("y") + 1),
            "left",
        )
        .groupBy((F.col("y") + 1).cast("long").alias("year"))
        .agg(
            F.sum("cents").cast("long").alias("base_cents"),
            F.sum(F.coalesce(F.col("ncents"), F.lit(0)))
            .cast("long")
            .alias("retained_cents"),
            F.expr(
                "sum(coalesce(ncents, 0)) * 10000 div nullif(sum(cents), 0)"
            )
            .cast("long")
            .alias("nrr_bp"),
        )
        .orderBy("year")
    )


@register(
    "orders_quarter_end_concentration",
    oracle_sql="""
        SELECT CAST(year(o_orderdate) AS BIGINT) AS y,
               CAST(quarter(o_orderdate) AS BIGINT) AS q,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS quarter_cents,
               CAST(sum(CASE WHEN month(o_orderdate) % 3 = 0
                             THEN CAST(round(o_totalprice * 100) AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS final_month_cents,
               CAST(sum(CASE WHEN month(o_orderdate) % 3 = 0
                             THEN CAST(round(o_totalprice * 100) AS BIGINT)
                             ELSE 0 END) * 10000
                    // nullif(sum(CAST(round(o_totalprice * 100)
                                       AS BIGINT)), 0) AS BIGINT)
                   AS final_month_share_bp
        FROM orders
        GROUP BY y, q ORDER BY y, q
    """,
    description="Quarter-end concentration (hockey-stick detector): "
    "per (year, quarter), the share of revenue booked in the "
    "quarter's final month in exact floor basis points — sustained "
    "shares far above ~3333 bp are the sales-pulling-deals-forward "
    "signature finance audits for (and a volume-spike warning for "
    "capacity planning). One grouped agg with conditional sums; a "
    "uniform fixture reads ~flat, which is exactly the null "
    "baseline the op documents.",
)
def orders_quarter_end_concentration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    cents = scaled_long("o_totalprice", 100)
    fin = F.when(F.month("o_orderdate") % 3 == 0, cents).otherwise(0)
    return (
        orders.groupBy(
            F.year("o_orderdate").cast("long").alias("y"),
            F.quarter("o_orderdate").cast("long").alias("q"),
        )
        .agg(
            F.sum(cents).cast("long").alias("quarter_cents"),
            F.sum(fin).cast("long").alias("final_month_cents"),
            F.expr(
                "sum(CASE WHEN month(o_orderdate) % 3 = 0 THEN"
                " cast(floor(o_totalprice * 100.0 + 0.5) as bigint)"
                " ELSE 0 END) * 10000 div nullif(sum(cast(floor("
                "o_totalprice * 100.0 + 0.5) as bigint)), 0)"
            )
            .cast("long")
            .alias("final_month_share_bp"),
        )
        .orderBy("y", "q")
    )


@register(
    "orders_price_index_laspeyres",
    oracle_sql="""
        WITH py AS (
            SELECT l_partkey AS pk,
                   CAST(year(l_shipdate) AS BIGINT) AS y,
                   CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                        AS BIGINT) AS ext_cents,
                   CAST(sum(CAST(round(l_quantity * 100) AS BIGINT))
                        AS BIGINT) AS qty_cq
            FROM lineitem
            WHERE year(l_shipdate) IN (1995, 1996)
            GROUP BY pk, y
        ), matched AS (
            SELECT b.pk, b.ext_cents AS base_cents, b.qty_cq,
                   CAST(floor(CAST(b.qty_cq AS DOUBLE) * t.ext_cents
                              / t.qty_cq + 0.5) AS BIGINT)
                       AS repriced_cents
            FROM py b JOIN py t ON b.pk = t.pk
            WHERE b.y = 1995 AND t.y = 1996 AND t.qty_cq > 0
        )
        SELECT CAST(count(*) AS BIGINT) AS n_parts_matched,
               CAST(sum(base_cents) AS BIGINT) AS base_cents,
               CAST(sum(repriced_cents) AS BIGINT) AS repriced_cents,
               CAST(sum(repriced_cents) AS DOUBLE) / sum(base_cents)
                   * 10000.0 AS laspeyres_index_bp
        FROM matched
    """,
    description="Laspeyres price index 1995->1996 over parts shipped "
    "in both years: each part's base-year quantity is repriced at "
    "the current-year average unit price (qty_b * ext_t / qty_t — "
    "the one float division, quantized to cents per part before the "
    "exact sum), and the index is repriced-over-base — the "
    "inflation/price-realization decomposition that separates price "
    "from mix (a revenue change with index ~10000 bp is pure "
    "volume/mix). Per-(part, year) reduction first, then a "
    "part-keyed self-join on the reduced grain.",
)
def orders_price_index_laspeyres(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    py = (
        load(spark, sf_dir, "lineitem")
        .where(F.year("l_shipdate").isin(1995, 1996))
        .groupBy(
            F.col("l_partkey").alias("pk"),
            F.year("l_shipdate").cast("long").alias("y"),
        )
        .agg(
            F.sum(scaled_long("l_extendedprice", 100)).alias("ext_cents"),
            F.sum(scaled_long("l_quantity", 100)).alias("qty_cq"),
        )
    )
    b = py.where(F.col("y") == 1995)
    t = py.where(F.col("y") == 1996).select(
        F.col("pk").alias("tpk"),
        F.col("ext_cents").alias("t_ext"),
        F.col("qty_cq").alias("t_qty"),
    )
    matched = b.join(t, (b.pk == t.tpk) & (t.t_qty > 0)).select(
        F.col("ext_cents").alias("base_cents"),
        F.floor(
            F.col("qty_cq").cast("double") * F.col("t_ext") / F.col("t_qty")
            + F.lit(0.5)
        )
        .cast("long")
        .alias("repriced_cents"),
    )
    return matched.agg(
        F.count(F.lit(1)).cast("long").alias("n_parts_matched"),
        F.sum("base_cents").cast("long").alias("base_cents"),
        F.sum("repriced_cents").cast("long").alias("repriced_cents"),
        (
            F.sum("repriced_cents").cast("double")
            / F.sum("base_cents")
            * F.lit(10000.0)
        ).alias("laspeyres_index_bp"),
    )


@register(
    "parts_supplier_concentration",
    oracle_sql="""
        WITH ps AS (
            SELECT l_partkey AS pk, l_suppkey AS sk,
                   CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                        AS BIGINT) AS cents
            FROM lineitem GROUP BY pk, sk
        ), ranked AS (
            SELECT pk, cents,
                   CAST(sum(cents) OVER (PARTITION BY pk) AS BIGINT)
                       AS part_cents,
                   row_number() OVER (PARTITION BY pk
                       ORDER BY cents DESC, sk) AS rk
            FROM ps
        ), per_part AS (
            SELECT pk, part_cents,
                   cents * 10000 // part_cents AS top_share_bp
            FROM ranked WHERE rk = 1 AND part_cents > 0
        )
        SELECT CAST(top_share_bp // 1000 AS BIGINT) AS share_bucket,
               CAST(count(*) AS BIGINT) AS n_parts,
               CAST(sum(part_cents) AS BIGINT) AS revenue_cents
        FROM per_part GROUP BY share_bucket ORDER BY share_bucket
    """,
    description="Supplier concentration per part: each part's "
    "top-supplier revenue share (exact floor bp, suppkey tie-break) "
    "bucketed into 10%-wide bands with part counts and revenue per "
    "band — the single-source-risk histogram a procurement review "
    "reads (bucket 10 = sole-sourced revenue at risk if that "
    "supplier fails). Reduce to the (part, supplier) grain first; "
    "one part-partitioned rank window over the reduced rows.",
)
def parts_supplier_concentration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ps = (
        load(spark, sf_dir, "lineitem")
        .groupBy(
            F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk")
        )
        .agg(F.sum(scaled_long("l_extendedprice", 100)).alias("cents"))
    )
    wp = Window.partitionBy("pk")
    ranked = ps.select(
        "pk",
        "cents",
        F.sum("cents").over(wp).cast("long").alias("part_cents"),
        F.row_number()
        .over(wp.orderBy(F.col("cents").desc(), "sk"))
        .alias("rk"),
    )
    per_part = ranked.where(
        (F.col("rk") == 1) & (F.col("part_cents") > 0)
    ).select(
        "part_cents",
        F.expr("cents * 10000 div part_cents").alias("top_share_bp"),
    )
    return (
        per_part.groupBy(
            F.expr("top_share_bp div 1000").cast("long").alias("share_bucket")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.sum("part_cents").cast("long").alias("revenue_cents"),
        )
        .orderBy("share_bucket")
    )


@register(
    "events_stickiness_dau_wau",
    oracle_sql="""
        WITH du AS (
            SELECT DISTINCT
                   date_diff('day', DATE '2024-01-01',
                             CAST(ts AS DATE)) // 7 AS wk,
                   CAST(ts AS DATE) AS d, user_id
            FROM events
        ), dau AS (
            SELECT wk, d, CAST(count(*) AS BIGINT) AS dau
            FROM du GROUP BY wk, d
        ), wau AS (
            SELECT wk, CAST(count(DISTINCT user_id) AS BIGINT) AS wau
            FROM du GROUP BY wk
        )
        SELECT CAST(a.wk AS BIGINT) AS wk,
               CAST(count(*) AS BIGINT) AS n_days,
               CAST(sum(a.dau) AS BIGINT) AS dau_sum,
               CAST(max(w.wau) AS BIGINT) AS wau,
               CAST(sum(a.dau) * 10000
                    // nullif(count(*) * max(w.wau), 0) AS BIGINT)
                   AS stickiness_bp
        FROM dau a JOIN wau w ON a.wk = w.wk
        GROUP BY a.wk ORDER BY wk
    """,
    description="DAU/WAU stickiness per 7-day week (anchored at the "
    "fixture epoch so week membership is pure integer arithmetic): "
    "mean daily actives over weekly actives in exact floor basis "
    "points — the engagement-frequency ratio (10000 bp = every "
    "active user active every day) product teams track beside the "
    "growth curve. Everything reduces to the distinct (week, day, "
    "user) grain first, so the fact table is scanned once and the "
    "ratio arithmetic runs on week-grain rows.",
)
def events_stickiness_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    du = (
        load(spark, sf_dir, "events")
        .select(
            F.expr(
                "datediff(cast(ts as date), date'2024-01-01') div 7"
            ).alias("wk"),
            F.col("ts").cast("date").alias("d"),
            "user_id",
        )
        .distinct()
    )
    dau = du.groupBy("wk", "d").agg(
        F.count(F.lit(1)).cast("long").alias("dau")
    )
    wau = du.groupBy(F.col("wk").alias("wwk")).agg(
        F.countDistinct("user_id").cast("long").alias("wau")
    )
    return (
        dau.join(wau, dau.wk == wau.wwk)
        .groupBy(F.col("wk").cast("long").alias("wk"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.sum("dau").cast("long").alias("dau_sum"),
            F.max("wau").cast("long").alias("wau"),
            F.expr(
                "sum(dau) * 10000 div nullif(count(1) * max(wau), 0)"
            )
            .cast("long")
            .alias("stickiness_bp"),
        )
        .orderBy("wk")
    )


@register(
    "events_session_bounce_rate",
    oracle_sql="""
        WITH gaps AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN epoch_us(ts)
                             - lag(epoch_us(ts)) OVER (
                                   PARTITION BY user_id
                                   ORDER BY ts, event_id)
                             > 1800000000
                          OR lag(ts) OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id) IS NULL
                        THEN 1 ELSE 0 END AS is_start
            FROM events
        ), sess AS (
            SELECT user_id, ts,
                   CAST(sum(is_start) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS sid
            FROM gaps
        ), per_sess AS (
            SELECT user_id, sid,
                   CAST(min(ts) AS DATE) AS d,
                   CAST(count(*) AS BIGINT) AS n_events
            FROM sess GROUP BY user_id, sid
        )
        SELECT CAST(epoch_us(CAST(d AS TIMESTAMP)) AS BIGINT) AS day_us,
               CAST(count(*) AS BIGINT) AS n_sessions,
               CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_bounce,
               CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * 10000
                    // count(*) AS BIGINT) AS bounce_bp
        FROM per_sess GROUP BY d ORDER BY day_us
    """,
    description="Session bounce rate per day: 30-minute-gap "
    "sessionization (event_id tie-break on equal timestamps), "
    "sessions attributed to their start day, single-event sessions "
    "counted as bounces, rate in exact floor basis points — the "
    "engagement-quality complement to session counts (traffic with "
    "rising bounce share is often bot or deep-link traffic). One "
    "user-partitioned window pass + a session-grain reduce.",
)
def events_session_bounce_rate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    events = load(spark, sf_dir, "events")
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_us = F.lag(F.unix_micros("ts")).over(wo)
    gaps = events.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            prev_us.isNull()
            | (F.unix_micros("ts") - prev_us > 1800000000),
            1,
        )
        .otherwise(0)
        .alias("is_start"),
    )
    # The sid running sum MUST tie-break on event_id like the gap
    # window above: with duplicate (user_id, ts) pairs a boundary
    # inside the tie group would otherwise assign the tied events to
    # sessions in plan-dependent order (round-7 review finding).
    sess = gaps.select(
        "user_id",
        "ts",
        F.sum("is_start")
        .over(
            Window.partitionBy("user_id")
            .orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        .cast("long")
        .alias("sid"),
    )
    per_sess = sess.groupBy("user_id", "sid").agg(
        F.min("ts").cast("date").alias("d"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )
    return (
        per_sess.groupBy("d")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sessions"),
            F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_bounce"),
            F.expr(
                "sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * 10000"
                " div count(1)"
            )
            .cast("long")
            .alias("bounce_bp"),
        )
        .select(
            F.unix_micros(F.col("d").cast("timestamp")).alias("day_us"),
            "n_sessions",
            "n_bounce",
            "bounce_bp",
        )
        .orderBy("day_us")
    )


@register(
    "events_interval_union_coverage",
    oracle_sql="""
        WITH iv AS (
            SELECT user_id, epoch_us(ts) AS s,
                   epoch_us(ts) + 300000000 AS e
            FROM events
        ), runmax AS (
            SELECT user_id, s, e,
                   max(e) OVER (PARTITION BY user_id ORDER BY s, e
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING) AS prev_max_e
            FROM iv
        ), flagged AS (
            SELECT user_id, s, e,
                   CASE WHEN prev_max_e IS NULL OR s > prev_max_e
                        THEN 1 ELSE 0 END AS new_seg
            FROM runmax
        ), seg AS (
            SELECT user_id, s, e,
                   CAST(sum(new_seg) OVER (PARTITION BY user_id
                       ORDER BY s, e ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS BIGINT) AS seg_id
            FROM flagged
        ), merged AS (
            SELECT user_id, seg_id,
                   CAST(max(e) - min(s) AS BIGINT) AS span_us
            FROM seg GROUP BY user_id, seg_id
        ), per_user AS (
            SELECT user_id,
                   CAST(sum(span_us) // 60000000 AS BIGINT) AS cov_min
            FROM merged GROUP BY user_id
        )
        SELECT CAST(cov_min // 30 AS BIGINT) AS bucket_30min,
               CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(cov_min) AS BIGINT) AS total_minutes
        FROM per_user GROUP BY bucket_30min ORDER BY bucket_30min
    """,
    description="Active-time coverage by interval union: each event "
    "opens a 5-minute activity interval, overlapping intervals merge "
    "per user via the running-max-end sweep (new segment exactly "
    "when the start clears every earlier end — one ordered window, "
    "no self-join), merged spans sum to per-user covered minutes, "
    "histogrammed in 30-minute buckets — the 'time actually spent' "
    "metric that dedups bursty event streams (naive count x 5min "
    "overcounts 10x on dense sessions). The sweep is the canonical "
    "O(n log n) interval-union plan and partitions cleanly by user.",
)
def events_interval_union_coverage(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    iv = load(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("s"),
        (F.unix_micros("ts") + 300000000).alias("e"),
    )
    wo = Window.partitionBy("user_id").orderBy("s", "e")
    runmax = iv.select(
        "user_id",
        "s",
        "e",
        F.max("e")
        .over(wo.rowsBetween(Window.unboundedPreceding, -1))
        .alias("prev_max_e"),
    )
    flagged = runmax.select(
        "user_id",
        "s",
        "e",
        F.when(
            F.col("prev_max_e").isNull() | (F.col("s") > F.col("prev_max_e")),
            1,
        )
        .otherwise(0)
        .alias("new_seg"),
    )
    seg = flagged.select(
        "user_id",
        "s",
        "e",
        F.sum("new_seg")
        .over(wo.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long")
        .alias("seg_id"),
    )
    merged = seg.groupBy("user_id", "seg_id").agg(
        (F.max("e") - F.min("s")).cast("long").alias("span_us")
    )
    per_user = merged.groupBy("user_id").agg(
        F.expr("sum(span_us) div 60000000").cast("long").alias("cov_min")
    )
    return (
        per_user.groupBy(
            F.expr("cov_min div 30").cast("long").alias("bucket_30min")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum("cov_min").cast("long").alias("total_minutes"),
        )
        .orderBy("bucket_30min")
    )


@register(
    "sessionize_timeout_sensitivity",
    oracle_sql="""
        WITH gaps AS (
            SELECT epoch_us(ts)
                   - lag(epoch_us(ts)) OVER (PARTITION BY user_id
                         ORDER BY ts, event_id) AS gap_us
            FROM events
        ), stats AS (
            SELECT CAST(count(*) AS BIGINT) AS n_events,
                   CAST(count(gap_us) AS BIGINT) AS n_gaps,
                   CAST(count(*) - count(gap_us) AS BIGINT) AS n_users,
                   CAST(sum(CASE WHEN gap_us > 600000000
                                 THEN 1 ELSE 0 END) AS BIGINT) AS g10,
                   CAST(sum(CASE WHEN gap_us > 1800000000
                                 THEN 1 ELSE 0 END) AS BIGINT) AS g30,
                   CAST(sum(CASE WHEN gap_us > 3600000000
                                 THEN 1 ELSE 0 END) AS BIGINT) AS g60
            FROM gaps
        )
        SELECT CAST(t.timeout_min AS BIGINT) AS timeout_min,
               CAST(s.n_users + CASE t.timeout_min
                    WHEN 10 THEN s.g10 WHEN 30 THEN s.g30
                    ELSE s.g60 END AS BIGINT) AS n_sessions,
               CAST(s.n_events * 100
                    // nullif(s.n_users + CASE t.timeout_min
                          WHEN 10 THEN s.g10 WHEN 30 THEN s.g30
                          ELSE s.g60 END, 0) AS BIGINT)
                   AS events_per_session_x100
        FROM stats s
        CROSS JOIN (VALUES (10), (30), (60)) AS t(timeout_min)
        ORDER BY timeout_min
    """,
    description="Sessionization timeout sensitivity in ONE pass: "
    "per-user inter-event gaps are computed once, and session "
    "counts under 10/30/60-minute timeouts all derive from the same "
    "gap distribution (sessions = users + gaps exceeding the "
    "timeout) — the tuning table that justifies the 30-minute "
    "default the session ops use, structurally the session twin of "
    "dedup_lsh_band_sweep's operating-curve pattern. Counts are "
    "monotone decreasing in the timeout by construction, which the "
    "grade pins; one window pass, one 3-row VALUES fan-out.",
)
def sessionize_timeout_sensitivity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    gaps = load(spark, sf_dir, "events").select(
        (
            F.unix_micros("ts")
            - F.lag(F.unix_micros("ts")).over(
                Window.partitionBy("user_id").orderBy("ts", "event_id")
            )
        ).alias("gap_us")
    )
    stats = gaps.agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.count("gap_us").cast("long").alias("n_gaps"),
        (F.count(F.lit(1)) - F.count("gap_us")).cast("long").alias("n_users"),
        F.sum(F.when(F.col("gap_us") > 600000000, 1).otherwise(0))
        .cast("long")
        .alias("g10"),
        F.sum(F.when(F.col("gap_us") > 1800000000, 1).otherwise(0))
        .cast("long")
        .alias("g30"),
        F.sum(F.when(F.col("gap_us") > 3600000000, 1).otherwise(0))
        .cast("long")
        .alias("g60"),
    )
    timeouts = spark.range(1).select(
        F.explode(F.array(F.lit(10), F.lit(30), F.lit(60))).alias(
            "timeout_min"
        )
    )
    g = (
        F.when(F.col("timeout_min") == 10, F.col("g10"))
        .when(F.col("timeout_min") == 30, F.col("g30"))
        .otherwise(F.col("g60"))
    )
    return (
        stats.crossJoin(F.broadcast(timeouts))
        .select(
            F.col("timeout_min").cast("long").alias("timeout_min"),
            (F.col("n_users") + g).cast("long").alias("n_sessions"),
            # ANSI armor (ADVICE r7): sessions = users + gaps is 0 only
            # on an empty events fixture, but Spark ANSI div would ERROR
            # there while DuckDB // yields NULL — nullif on both engines.
            F.expr(
                "n_events * 100 div nullif(n_users + CASE timeout_min"
                " WHEN 10 THEN g10 WHEN 30 THEN g30 ELSE g60 END, 0)"
            )
            .cast("long")
            .alias("events_per_session_x100"),
        )
        .orderBy("timeout_min")
    )


@register(
    "graph_reciprocity_directed",
    oracle_sql="""
        WITH seq AS (
            SELECT event_type AS a,
                   lead(event_type) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id) AS b
            FROM events
        ), edges AS (
            SELECT a, b, CAST(count(*) AS BIGINT) AS w
            FROM seq WHERE b IS NOT NULL GROUP BY a, b
        )
        SELECT
            CAST(count(*) AS BIGINT) AS n_edges,
            CAST(sum(CASE WHEN e.a = e.b THEN 1 ELSE 0 END) AS BIGINT)
                AS n_self_loops,
            CAST(sum(CASE WHEN e.a <> e.b AND r.a IS NOT NULL
                          THEN 1 ELSE 0 END) AS BIGINT)
                AS n_reciprocated,
            CAST(sum(CASE WHEN e.a <> e.b AND r.a IS NOT NULL
                          THEN 1 ELSE 0 END) * 10000
                 // nullif(sum(CASE WHEN e.a <> e.b THEN 1 ELSE 0 END),
                           0) AS BIGINT) AS reciprocity_bp
        FROM edges e
        LEFT JOIN edges r ON e.a = r.b AND e.b = r.a
    """,
    description="Directed-graph reciprocity on the event-type "
    "transition graph: distinct a->b transitions (per-user "
    "consecutive events) joined against their own reverse to count "
    "mutually-occurring pairs, with self-loops excluded and the "
    "reciprocity share in exact floor basis points — the "
    "directionality diagnostic separating funnel-like flows "
    "(view->purchase but never back) from oscillating ones, and the "
    "directed complement to the undirected co-purchase graph "
    "family. The join runs on the reduced edge grain (type "
    "cardinality squared at most), never on events.",
)
def graph_reciprocity_directed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    seq = load(spark, sf_dir, "events").select(
        F.col("event_type").alias("a"),
        F.lead("event_type")
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("b"),
    )
    edges = (
        seq.where(F.col("b").isNotNull())
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
    )
    rev = edges.select(
        F.col("a").alias("ra"), F.col("b").alias("rb")
    )
    joined = edges.join(
        rev, (edges.a == rev.rb) & (edges.b == rev.ra), "left"
    )
    return joined.agg(
        F.count(F.lit(1)).cast("long").alias("n_edges"),
        F.sum(F.when(F.col("a") == F.col("b"), 1).otherwise(0))
        .cast("long")
        .alias("n_self_loops"),
        F.sum(
            F.when(
                (F.col("a") != F.col("b")) & F.col("ra").isNotNull(), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_reciprocated"),
        F.expr(
            "sum(CASE WHEN a <> b AND ra IS NOT NULL THEN 1 ELSE 0 END)"
            " * 10000 div nullif(sum(CASE WHEN a <> b THEN 1 ELSE 0 END),"
            " 0)"
        )
        .cast("long")
        .alias("reciprocity_bp"),
    )


@register(
    "dq_error_rate_wilson_bound",
    oracle_sql="""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS d,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CASE WHEN event_type = 'error'
                                 THEN 1 ELSE 0 END) AS BIGINT) AS k
            FROM events GROUP BY d
        )
        SELECT CAST(epoch_us(CAST(d AS TIMESTAMP)) AS BIGINT) AS day_us,
               n, k,
               CAST(k * 10000 // n AS BIGINT) AS rate_bp,
               (CAST(k AS DOUBLE) / n + 1.9208 / n
                + 1.96 * sqrt((CAST(k AS DOUBLE) / n)
                              * (1.0 - CAST(k AS DOUBLE) / n) / n
                              + 0.9604 / (CAST(n AS DOUBLE) * n)))
               / (1.0 + 3.8416 / n) AS wilson_upper_95
        FROM daily ORDER BY day_us
    """,
    description="Daily error-rate with Wilson-score 95% upper bound: "
    "exact integer counts per day, the rate in floor basis points, "
    "and the small-sample-honest upper confidence bound as one "
    "deterministic float chain from the integer (k, n) (z=1.96 "
    "constants pre-squared into literals so both engines run the "
    "same IEEE ops) — the alerting threshold that does not "
    "false-fire on low-traffic days the way a raw rate does (3 "
    "errors in 10 events and in 10000 events read very differently "
    "through the bound). One grouped agg at day grain.",
)
def dq_error_rate_wilson_bound(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    daily = (
        load(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("d"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
            .cast("long")
            .alias("k"),
        )
    )
    p = F.col("k").cast("double") / F.col("n")
    wilson = (
        p
        + F.lit(1.9208) / F.col("n")
        + F.lit(1.96)
        * F.sqrt(
            p * (F.lit(1.0) - p) / F.col("n")
            + F.lit(0.9604) / (F.col("n").cast("double") * F.col("n"))
        )
    ) / (F.lit(1.0) + F.lit(3.8416) / F.col("n"))
    return daily.select(
        F.unix_micros(F.col("d").cast("timestamp")).alias("day_us"),
        "n",
        "k",
        F.expr("k * 10000 div n").cast("long").alias("rate_bp"),
        wilson.alias("wilson_upper_95"),
    ).orderBy("day_us")


@register(
    "text_hapax_legomena_ratio",
    oracle_sql="""
        WITH tc AS (
            SELECT lang, unnest(string_split(text, ' ')) AS token
            FROM documents
        ), types AS (
            SELECT lang, token, CAST(count(*) AS BIGINT) AS c
            FROM tc GROUP BY lang, token
        )
        SELECT lang,
               CAST(count(*) AS BIGINT) AS vocab_size,
               CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_hapax,
               CAST(sum(c) AS BIGINT) AS n_tokens,
               CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 10000
                    // count(*) AS BIGINT) AS hapax_share_bp
        FROM types GROUP BY lang ORDER BY lang
    """,
    description="Hapax legomena ratio per language: the share of "
    "vocabulary types occurring exactly once, in exact floor basis "
    "points — the heavy-tail diagnostic that complements the Zipf "
    "slope (a hapax share far from ~50% flags either a tiny corpus "
    "or heavy boilerplate/dedup distortion, and it directly sizes "
    "the OOV risk any fixed vocabulary inherits). One tokenize pass "
    "reduced to the (lang, type) grain, then a lang-grain agg.",
)
def text_hapax_legomena_ratio(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    types = (
        load(spark, sf_dir, "documents")
        .select("lang", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("lang", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    return (
        types.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("vocab_size"),
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_hapax"),
            F.sum("c").cast("long").alias("n_tokens"),
            F.expr(
                "sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 10000"
                " div count(1)"
            )
            .cast("long")
            .alias("hapax_share_bp"),
        )
        .orderBy("lang")
    )


@register(
    "corpus_js_divergence_sources",
    oracle_sql="""
        WITH tc AS (
            SELECT source, unnest(string_split(text, ' ')) AS token
            FROM documents WHERE lang = 'en'
        ), counts AS (
            SELECT source, token, CAST(count(*) AS BIGINT) AS c
            FROM tc GROUP BY source, token
        ), totals AS (
            SELECT source, CAST(sum(c) AS BIGINT) AS n
            FROM counts GROUP BY source
        ), pairs AS (
            SELECT a.source AS s1, b.source AS s2,
                   a.n AS n1, b.n AS n2
            FROM totals a JOIN totals b ON a.source < b.source
        ), pair_terms AS (
            SELECT p.s1, p.s2, p.n1, p.n2, c.token,
                   CAST(sum(CASE WHEN c.source = p.s1 THEN c.c
                                 ELSE 0 END) AS BIGINT) AS c1,
                   CAST(sum(CASE WHEN c.source = p.s2 THEN c.c
                                 ELSE 0 END) AS BIGINT) AS c2
            FROM pairs p
            JOIN counts c ON c.source IN (p.s1, p.s2)
            GROUP BY p.s1, p.s2, p.n1, p.n2, c.token
        ), contrib AS (
            SELECT s1, s2,
                   CAST(floor((
                       CASE WHEN c1 > 0 THEN
                           0.5 * (CAST(c1 AS DOUBLE) / n1)
                           * ln((CAST(c1 AS DOUBLE) / n1)
                                / ((CAST(c1 AS DOUBLE) / n1
                                    + CAST(c2 AS DOUBLE) / n2) / 2.0))
                       ELSE 0.0 END
                       +
                       CASE WHEN c2 > 0 THEN
                           0.5 * (CAST(c2 AS DOUBLE) / n2)
                           * ln((CAST(c2 AS DOUBLE) / n2)
                                / ((CAST(c1 AS DOUBLE) / n1
                                    + CAST(c2 AS DOUBLE) / n2) / 2.0))
                       ELSE 0.0 END) * 1000000000 + 0.5) AS BIGINT)
                       AS c_nano
            FROM pair_terms
        )
        SELECT s1, s2,
               CAST(count(*) AS BIGINT) AS n_union_terms,
               CAST(sum(c_nano) AS BIGINT) AS jsd_nano_sum,
               CAST(sum(c_nano) AS DOUBLE) / 1000000000.0 AS jsd_nats
        FROM contrib GROUP BY s1, s2 ORDER BY s1, s2
    """,
    description="Jensen-Shannon divergence between every source pair "
    "('en' unigram distributions): per-term contributions "
    "0.5*p*ln(p/m) + 0.5*q*ln(q/m) over the UNION support (the "
    "pair-conditioned grouped agg produces union support without a "
    "full-outer join), each quantized to nano-nats before the exact "
    "sum — the symmetric, bounded (<= ln 2) distribution distance "
    "that ranks which sources are stylistically interchangeable for "
    "mixing and which would shift the corpus (vocab-overlap measures "
    "set intersection; JSD weighs it by mass). Postings reduce to "
    "(source, type) first; the pair fan-out multiplies the TYPE "
    "grain, never documents.",
)
def corpus_js_divergence_sources(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    counts = (
        load(spark, sf_dir, "documents")
        .where(F.col("lang") == "en")
        .select("source", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    totals = counts.groupBy("source").agg(
        F.sum("c").cast("long").alias("n")
    )
    a = totals.select(
        F.col("source").alias("s1"), F.col("n").alias("n1")
    )
    b = totals.select(
        F.col("source").alias("s2"), F.col("n").alias("n2")
    )
    pairs = a.join(F.broadcast(b), F.col("s1") < F.col("s2"))
    pair_terms = (
        counts.join(
            F.broadcast(pairs),
            (counts.source == F.col("s1"))
            | (counts.source == F.col("s2")),
        )
        .groupBy("s1", "s2", "n1", "n2", "token")
        .agg(
            F.sum(
                F.when(F.col("source") == F.col("s1"), F.col("c")).otherwise(0)
            )
            .cast("long")
            .alias("c1"),
            F.sum(
                F.when(F.col("source") == F.col("s2"), F.col("c")).otherwise(0)
            )
            .cast("long")
            .alias("c2"),
        )
    )
    p = F.col("c1").cast("double") / F.col("n1")
    q = F.col("c2").cast("double") / F.col("n2")
    m = (p + q) / F.lit(2.0)
    term = F.when(F.col("c1") > 0, F.lit(0.5) * p * F.log(p / m)).otherwise(
        F.lit(0.0)
    ) + F.when(F.col("c2") > 0, F.lit(0.5) * q * F.log(q / m)).otherwise(
        F.lit(0.0)
    )
    contrib = pair_terms.select(
        "s1",
        "s2",
        F.floor(term * F.lit(1000000000) + F.lit(0.5))
        .cast("long")
        .alias("c_nano"),
    )
    return (
        contrib.groupBy("s1", "s2")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_union_terms"),
            F.sum("c_nano").cast("long").alias("jsd_nano_sum"),
            (F.sum("c_nano").cast("double") / F.lit(1000000000.0)).alias(
                "jsd_nats"
            ),
        )
        .orderBy("s1", "s2")
    )


@register(
    "text_vocab_coverage_topk",
    oracle_sql="""
        WITH types AS (
            SELECT lang, token, CAST(count(*) AS BIGINT) AS c
            FROM (SELECT lang, unnest(string_split(text, ' ')) AS token
                  FROM documents)
            GROUP BY lang, token
        ), ranked AS (
            SELECT lang, c,
                   row_number() OVER (PARTITION BY lang
                       ORDER BY c DESC, token) AS rk
            FROM types
        )
        SELECT lang,
               CAST(sum(c) AS BIGINT) AS n_tokens,
               CAST(count(*) AS BIGINT) AS vocab_size,
               CAST(sum(CASE WHEN rk <= 100 THEN c ELSE 0 END) * 10000
                    // sum(c) AS BIGINT) AS top100_bp,
               CAST(sum(CASE WHEN rk <= 1000 THEN c ELSE 0 END) * 10000
                    // sum(c) AS BIGINT) AS top1000_bp
        FROM ranked GROUP BY lang ORDER BY lang
    """,
    description="Vocabulary coverage curve per language: the share "
    "of token mass covered by the top-100 and top-1000 types "
    "(frequency rank, token tie-break), in exact floor basis points "
    "— the two points on the coverage curve that size a fixed "
    "vocabulary or stopword list (high top-100 coverage means a "
    "tiny vocab already explains most mass; the gap to top-1000 "
    "prices the next 900 entries). Type-grain rank window after "
    "the tokenize reduce; no per-token second pass.",
)
def text_vocab_coverage_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    types = (
        load(spark, sf_dir, "documents")
        .select("lang", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("lang", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    ranked = types.select(
        "lang",
        "c",
        F.row_number()
        .over(
            Window.partitionBy("lang").orderBy(F.col("c").desc(), "token")
        )
        .alias("rk"),
    )
    return (
        ranked.groupBy("lang")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("vocab_size"),
            F.expr(
                "sum(CASE WHEN rk <= 100 THEN c ELSE 0 END) * 10000"
                " div sum(c)"
            )
            .cast("long")
            .alias("top100_bp"),
            F.expr(
                "sum(CASE WHEN rk <= 1000 THEN c ELSE 0 END) * 10000"
                " div sum(c)"
            )
            .cast("long")
            .alias("top1000_bp"),
        )
        .orderBy("lang")
    )


@register(
    "text_term_burstiness_fano",
    oracle_sql="""
        WITH nd AS (
            SELECT CAST(count(*) AS BIGINT) AS n_docs
            FROM documents WHERE lang = 'en'
        ), per_doc AS (
            SELECT doc_id, token, CAST(count(*) AS BIGINT) AS c
            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
                  FROM documents WHERE lang = 'en')
            GROUP BY doc_id, token
        ), term AS (
            SELECT token,
                   CAST(sum(c) AS BIGINT) AS total_c,
                   CAST(sum(c * c) AS BIGINT) AS total_c2,
                   CAST(count(*) AS BIGINT) AS df
            FROM per_doc GROUP BY token
        ), ranked AS (
            SELECT t.token, t.total_c, t.total_c2, t.df, n.n_docs,
                   row_number() OVER (ORDER BY t.total_c DESC, t.token)
                       AS rk
            FROM term t CROSS JOIN nd n
        )
        SELECT token, total_c, df,
               (CAST(total_c2 AS DOUBLE) / n_docs
                - (CAST(total_c AS DOUBLE) / n_docs)
                  * (CAST(total_c AS DOUBLE) / n_docs))
               / (CAST(total_c AS DOUBLE) / n_docs) AS fano_factor
        FROM ranked WHERE rk <= 20 ORDER BY token
    """,
    description="Term burstiness via the Fano factor (variance over "
    "mean of per-document counts, zeros included) for the 20 most "
    "frequent 'en' terms: per-doc counts come from the run-end "
    "positions of the sorted token array (doc-local, narrow — no "
    "(doc, term) exchange), the power sums (sum c, sum c^2, df) "
    "reduce on the term key alone, and the Fano evaluates as one "
    "float chain from integers — Fano ~1 is Poisson-like function "
    "words, Fano >> 1 is bursty content terms (Church's burstiness "
    "observation), the signal that separates topical vocabulary "
    "from glue and flags template-duplicated boilerplate. Zeros "
    "need no rows: the moments fold them in via N_docs.",
)
def text_term_burstiness_fano(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs_en = load(spark, sf_dir, "documents").where(F.col("lang") == "en")
    nd = docs_en.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    # Per-doc (token, c) pairs are doc-local: derive them from the
    # run-end positions of the SORTED token array (all linear, all
    # narrow) instead of an explode + (doc_id, token) aggregate,
    # whose exchange moved the whole corpus token volume once before
    # the token-key aggregate below moved the distinct pairs again.
    per_doc = (
        docs_en.select(F.expr("sort_array(split(text, ' '))").alias("s"))
        .select(
            "s",
            F.expr(
                "filter(sequence(1, size(s)), i -> i = size(s)"
                " OR element_at(s, i) != element_at(s, i + 1))"
            ).alias("ends"),
        )
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(ends)),"
                    " j -> named_struct("
                    "'token', element_at(s, element_at(ends, j)),"
                    "'c', CAST(element_at(ends, j)"
                    " - IF(j = 1, 0, element_at(ends, j - 1)) AS BIGINT)))"
                )
            ).alias("tc")
        )
        .select(F.col("tc.token").alias("token"), F.col("tc.c").alias("c"))
    )
    term = per_doc.groupBy("token").agg(
        F.sum("c").cast("long").alias("total_c"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("total_c2"),
        F.count(F.lit(1)).cast("long").alias("df"),
    )
    # Top-20 tokens via orderBy+limit (distributed TakeOrdered) — no
    # vocabulary-grain global rank window.
    ranked = (
        term.orderBy(F.col("total_c").desc(), "token")
        .limit(20)
        .crossJoin(F.broadcast(nd))
    )
    mean = F.col("total_c").cast("double") / F.col("n_docs")
    return (
        ranked
        .select(
            "token",
            "total_c",
            "df",
            (
                (F.col("total_c2").cast("double") / F.col("n_docs")
                 - mean * mean)
                / mean
            ).alias("fano_factor"),
        )
        .orderBy("token")
    )


@register(
    "text_cdc_chunk_boundaries",
    oracle_sql="""
        WITH toks AS (
            SELECT doc_id, lang, arr[i] AS token, i AS pos
            FROM (SELECT doc_id, lang,
                         string_split(text, ' ') AS arr
                  FROM documents),
                 unnest(generate_series(1, len(arr))) AS u(i)
        ), flagged AS (
            SELECT doc_id, lang, pos,
                   CASE WHEN CAST(('0x' || substr(md5(token), 1, 15))
                                  AS BIGINT) % 64 = 0
                        THEN 1 ELSE 0 END AS is_boundary
            FROM toks
        ), chunked AS (
            SELECT doc_id, lang,
                   CAST(sum(is_boundary) OVER (PARTITION BY doc_id
                       ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS BIGINT) AS chunk_id
            FROM flagged
        ), chunks AS (
            SELECT lang, doc_id, chunk_id,
                   CAST(count(*) AS BIGINT) AS chunk_len
            FROM chunked GROUP BY lang, doc_id, chunk_id
        )
        SELECT lang,
               CAST(CASE WHEN chunk_len >= 128 THEN 128
                         ELSE chunk_len // 16 * 16 END AS BIGINT)
                   AS len_bucket,
               CAST(count(*) AS BIGINT) AS n_chunks,
               CAST(sum(chunk_len) AS BIGINT) AS n_tokens
        FROM chunks GROUP BY lang, len_bucket
        ORDER BY lang, len_bucket
    """,
    description="Content-defined chunking boundary profile: a token "
    "is a chunk boundary when its md5-derived 60-bit id is 0 mod 64 "
    "(expected chunk length 64 tokens — the same arithmetic-hash "
    "idiom as the minhash family, identical both engines), chunk "
    "lengths histogram in 16-token buckets capped at 128 — the "
    "dedup/delta-sync chunking (rsync/LBFS/CDC) whose content-keyed "
    "boundaries survive insertions that shift every fixed-width "
    "window, graded on the boundary-statistics level where "
    "determinism lives. One tokenize pass + per-doc cumulative "
    "window on position.",
)
def text_cdc_chunk_boundaries(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    toks = load(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.posexplode(F.split("text", " ")).alias("pos0", "token"),
    )
    flagged = toks.select(
        "doc_id",
        "lang",
        (F.col("pos0") + 1).alias("pos"),
        F.when(
            F.conv(F.substring(F.md5("token"), 1, 15), 16, 10).cast(
                "bigint"
            )
            % 64
            == 0,
            1,
        )
        .otherwise(0)
        .alias("is_boundary"),
    )
    chunked = flagged.select(
        "doc_id",
        "lang",
        F.sum("is_boundary")
        .over(
            Window.partitionBy("doc_id")
            .orderBy("pos")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        .cast("long")
        .alias("chunk_id"),
    )
    chunks = chunked.groupBy("lang", "doc_id", "chunk_id").agg(
        F.count(F.lit(1)).cast("long").alias("chunk_len")
    )
    bucket = (
        F.when(F.col("chunk_len") >= 128, 128)
        .otherwise(F.expr("chunk_len div 16 * 16"))
        .cast("long")
    )
    return (
        chunks.groupBy("lang", bucket.alias("len_bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum("chunk_len").cast("long").alias("n_tokens"),
        )
        .orderBy("lang", "len_bucket")
    )


@register(
    "text_token_length_histogram",
    oracle_sql="""
        WITH toks AS (
            SELECT lang, unnest(string_split(text, ' ')) AS token
            FROM documents
        )
        SELECT lang,
               CAST(CASE WHEN len(token) >= 12 THEN 12
                         ELSE len(token) END AS BIGINT) AS len_bucket,
               CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(count(*) * 10000 // (sum(count(*))
                    OVER (PARTITION BY lang)) AS BIGINT) AS share_bp
        FROM toks GROUP BY lang, len_bucket
        ORDER BY lang, len_bucket
    """,
    description="Token-length histogram per language (capped at 12+ "
    "chars) with shares in exact floor basis points — the "
    "morphology fingerprint that sizes subword vocabularies (long-"
    "tail-heavy languages need more merges for the same fertility) "
    "and catches tokenization regressions (a whitespace bug shifts "
    "this histogram before it shifts any model metric). Counts "
    "reduce on the (lang, length) grain; the share derives from a "
    "window over the ~13-row histogram, not a second scan.",
)
def text_token_length_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    toks = load(spark, sf_dir, "documents").select(
        "lang", F.explode(F.split("text", " ")).alias("token")
    )
    hist = toks.groupBy(
        "lang",
        F.when(F.length("token") >= 12, 12)
        .otherwise(F.length("token"))
        .cast("long")
        .alias("len_bucket"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_tokens"))
    return hist.select(
        "lang",
        "len_bucket",
        "n_tokens",
        F.expr(
            "n_tokens * 10000 div (sum(n_tokens)"
            " OVER (PARTITION BY lang))"
        )
        .cast("long")
        .alias("share_bp"),
    ).orderBy("lang", "len_bucket")


@register(
    "embed_kcenter_greedy_init",
    oracle_sql="""
        WITH exp AS (
            SELECT vec_id, generate_subscripts(embedding, 1) AS i,
                   CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 10000
                              + 0.5) AS BIGINT) AS x
            FROM embeddings
        ), c0 AS (
            SELECT i, x AS y FROM exp WHERE vec_id = 0
        ), d0 AS (
            SELECT e.vec_id,
                   CAST(sum((e.x - c.y) * (e.x - c.y)) AS BIGINT) AS d2
            FROM exp e JOIN c0 c ON e.i = c.i
            GROUP BY e.vec_id
        ), b1 AS (
            SELECT vec_id, d2 FROM (
                SELECT vec_id, d2,
                       row_number() OVER (ORDER BY d2 DESC, vec_id) AS rk
                FROM d0) WHERE rk = 1
        ), c1 AS (
            SELECT e.i, e.x AS y FROM exp e JOIN b1 ON e.vec_id = b1.vec_id
        ), d1 AS (
            SELECT e.vec_id,
                   CAST(sum((e.x - c.y) * (e.x - c.y)) AS BIGINT) AS d2
            FROM exp e JOIN c1 c ON e.i = c.i
            GROUP BY e.vec_id
        ), dmin AS (
            SELECT d0.vec_id,
                   CAST(least(d0.d2, d1.d2) AS BIGINT) AS d2
            FROM d0 JOIN d1 ON d0.vec_id = d1.vec_id
        ), b2 AS (
            SELECT vec_id, d2 FROM (
                SELECT vec_id, d2,
                       row_number() OVER (ORDER BY d2 DESC, vec_id) AS rk
                FROM dmin) WHERE rk = 1
        )
        SELECT * FROM (
            SELECT CAST(0 AS BIGINT) AS center_rank,
                   CAST(0 AS BIGINT) AS vec_id,
                   CAST(0 AS BIGINT) AS sel_d2
            UNION ALL
            SELECT 1, CAST(vec_id AS BIGINT), d2 FROM b1
            UNION ALL
            SELECT 2, CAST(vec_id AS BIGINT), d2 FROM b2
        ) ORDER BY center_rank
    """,
    description="k-center greedy (farthest-point) initialization, "
    "k=3, fully deterministic: seed = vec_id 0, then twice pick the "
    "vector maximizing its min squared L2 distance to the selected "
    "set (vec_id tie-break) — kmeans++'s derandomized cousin and "
    "the IVF-coarse seeding that cannot collapse the way "
    "knn_ivf_kmeans' seed collisions were shown to. Distances are "
    "EXACT int64 (1e-4-grid components, integer squares), so "
    "selection admits no float-order ambiguity; each round is one "
    "broadcast of <=64 center components + a map-side d2 agg — the "
    "k-round pattern distributes as k scans, never a pairwise join.",
)
def embed_kcenter_greedy_init(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    exp = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "i0", "xd"
        ),
    ).select(
        "vec_id",
        (F.col("i0") + 1).alias("i"),
        F.floor(F.col("xd") * 10000 + F.lit(0.5)).cast("long").alias("x"),
    )
    c0 = exp.where(F.col("vec_id") == 0).select(
        F.col("i").alias("ci"), F.col("x").alias("y")
    )
    d0 = (
        exp.join(F.broadcast(c0), exp.i == c0.ci)
        .groupBy("vec_id")
        .agg(
            F.sum((F.col("x") - F.col("y")) * (F.col("x") - F.col("y")))
            .cast("long")
            .alias("d2")
        )
    )
    # argmax as orderBy+limit(1) (distributed TakeOrdered), not a
    # rank filter over a collection-grain global window.
    b1 = d0.orderBy(F.col("d2").desc(), "vec_id").limit(1)
    c1 = exp.join(
        F.broadcast(b1.select(F.col("vec_id").alias("bv"))),
        exp.vec_id == F.col("bv"),
    ).select(F.col("i").alias("ci"), F.col("x").alias("y"))
    d1 = (
        exp.join(F.broadcast(c1), exp.i == c1.ci)
        .groupBy("vec_id")
        .agg(
            F.sum((F.col("x") - F.col("y")) * (F.col("x") - F.col("y")))
            .cast("long")
            .alias("d2")
        )
    )
    dmin = d0.join(
        d1.select(F.col("vec_id").alias("v1"), F.col("d2").alias("d2b")),
        d0.vec_id == F.col("v1"),
    ).select("vec_id", F.least("d2", "d2b").cast("long").alias("d2"))
    b2 = dmin.orderBy(F.col("d2").desc(), "vec_id").limit(1)
    seed = spark.range(1).select(
        F.lit(0).cast("long").alias("center_rank"),
        F.lit(0).cast("long").alias("vec_id"),
        F.lit(0).cast("long").alias("sel_d2"),
    )
    return (
        seed.unionAll(
            b1.select(
                F.lit(1).cast("long").alias("center_rank"),
                F.col("vec_id").cast("long"),
                F.col("d2").alias("sel_d2"),
            )
        )
        .unionAll(
            b2.select(
                F.lit(2).cast("long").alias("center_rank"),
                F.col("vec_id").cast("long"),
                F.col("d2").alias("sel_d2"),
            )
        )
        .orderBy("center_rank")
    )


@register(
    "embed_simhash_bit_balance",
    oracle_sql="""
        WITH exp AS (
            SELECT vec_id, generate_subscripts(embedding, 1) AS i,
                   CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 10000
                              + 0.5) AS BIGINT) AS x
            FROM embeddings
        ), planes AS (
            SELECT p.j, d.i,
                   CASE WHEN CAST(('0x' || substr(
                            md5(CAST(p.j AS VARCHAR) || '_'
                                || CAST(d.i AS VARCHAR)), 1, 15))
                            AS BIGINT) % 2 = 0
                        THEN 1 ELSE -1 END AS s
            FROM unnest(generate_series(0, 15)) AS p(j),
                 unnest(generate_series(1, 64)) AS d(i)
        ), proj AS (
            SELECT e.vec_id, p.j,
                   CAST(sum(p.s * e.x) AS BIGINT) AS dot
            FROM exp e JOIN planes p ON e.i = p.i
            GROUP BY e.vec_id, p.j
        )
        SELECT CAST(j AS BIGINT) AS plane,
               CAST(count(*) AS BIGINT) AS n_vectors,
               CAST(sum(CASE WHEN dot > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_positive,
               CAST(sum(CASE WHEN dot > 0 THEN 1 ELSE 0 END) * 10000
                    // count(*) AS BIGINT) AS balance_bp
        FROM proj GROUP BY plane ORDER BY plane
    """,
    description="SimHash plane balance audit: 16 sign-random "
    "hyperplanes (md5-derived +-1 entries — the de-correlated house "
    "idiom the multitable-LSH fix standardized on) project every "
    "embedding as an EXACT integer dot product, and each plane "
    "reports its positive-side share in floor basis points — the "
    "ANN health check that a usable plane splits the corpus near "
    "5000 bp (a plane at 9000 bp wastes a bit of every signature "
    "and halves bucket diversity; correlated or mean-offset "
    "embeddings show up here before recall drops). One explode + "
    "broadcast of the 1024-entry sign matrix + map-combined agg.",
)
def embed_simhash_bit_balance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    exp = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "i0", "xd"
        ),
    ).select(
        "vec_id",
        (F.col("i0") + 1).alias("i"),
        F.floor(F.col("xd") * 10000 + F.lit(0.5)).cast("long").alias("x"),
    )
    planes = (
        spark.range(16)
        .select(F.col("id").cast("int").alias("j"))
        .crossJoin(
            spark.range(1, 65).select(F.col("id").cast("int").alias("pi"))
        )
        .select(
            "j",
            "pi",
            F.when(
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat_ws(
                                "_", F.col("j").cast("string"),
                                F.col("pi").cast("string"),
                            )
                        ),
                        1,
                        15,
                    ),
                    16,
                    10,
                ).cast("bigint")
                % 2
                == 0,
                1,
            )
            .otherwise(-1)
            .alias("s"),
        )
    )
    proj = (
        exp.join(F.broadcast(planes), exp.i == planes.pi)
        .groupBy("vec_id", "j")
        .agg(F.sum(F.col("s") * F.col("x")).cast("long").alias("dot"))
    )
    return (
        proj.groupBy(F.col("j").cast("long").alias("plane"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vectors"),
            F.sum(F.when(F.col("dot") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_positive"),
            F.expr(
                "sum(CASE WHEN dot > 0 THEN 1 ELSE 0 END) * 10000"
                " div count(1)"
            )
            .cast("long")
            .alias("balance_bp"),
        )
        .orderBy("plane")
    )


@register(
    "knn_norm_bound_prune",
    oracle_sql="""
        WITH exp AS (
            SELECT vec_id, generate_subscripts(embedding, 1) AS i,
                   CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 10000
                              + 0.5) AS BIGINT) AS x
            FROM embeddings
        ), q AS (
            SELECT i, x AS y FROM exp WHERE vec_id = 0
        ), qn AS (
            SELECT CAST(sum(y * y) AS BIGINT) AS q2 FROM q
        ), cand AS (
            SELECT e.vec_id,
                   CAST(sum(e.x * q.y) AS BIGINT) AS dot,
                   CAST(sum(e.x * e.x) AS BIGINT) AS x2
            FROM exp e JOIN q ON e.i = q.i
            WHERE e.vec_id <> 0
            GROUP BY e.vec_id
        ), kth AS (
            SELECT dot AS d10 FROM (
                SELECT dot, row_number() OVER (ORDER BY dot DESC, vec_id)
                       AS rk FROM cand) WHERE rk = 10
        ), top1 AS (
            SELECT vec_id AS top1_vec_id FROM (
                SELECT vec_id, row_number() OVER (ORDER BY dot DESC,
                       vec_id) AS rk FROM cand) WHERE rk = 1
        )
        SELECT CAST(count(*) AS BIGINT) AS n_candidates,
               CAST(sum(CASE WHEN k.d10 > 0 AND
                             CAST(n.q2 AS HUGEINT) * c.x2
                             < CAST(k.d10 AS HUGEINT) * k.d10
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_prunable,
               CAST(sum(CASE WHEN k.d10 > 0 AND
                             CAST(n.q2 AS HUGEINT) * c.x2
                             < CAST(k.d10 AS HUGEINT) * k.d10
                             THEN 1 ELSE 0 END) * 10000 // count(*)
                    AS BIGINT) AS prune_bp,
               CAST(max(t.top1_vec_id) AS BIGINT) AS top1_vec_id,
               CAST(max(k.d10) AS BIGINT) AS d10_dot
        FROM cand c CROSS JOIN kth k CROSS JOIN qn n CROSS JOIN top1 t
    """,
    description="Filter-refine pruning audit via the Cauchy-Schwarz "
    "bound: for dot-product top-10 against query vec 0, a candidate "
    "whose |q|^2 * |x|^2 falls below the exact 10th-best dot squared "
    "can NEVER enter the top-10 (|<q,x>| <= |q||x|), and the op "
    "reports how many candidates a norm-index would prune with "
    "recall mathematically guaranteed — the two-phase (cheap-bound "
    "filter, exact refine) pattern production vector search uses "
    "before touching full vectors. All quantities exact integers; "
    "the norm-squared products run in 128-bit (HUGEINT/DECIMAL(38,0)) "
    "because int64 overflows at dim-64 grid scale.",
)
def knn_norm_bound_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    exp = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "i0", "xd"
        ),
    ).select(
        "vec_id",
        (F.col("i0") + 1).alias("i"),
        F.floor(F.col("xd") * 10000 + F.lit(0.5)).cast("long").alias("x"),
    )
    q = exp.where(F.col("vec_id") == 0).select(
        F.col("i").alias("qi"), F.col("x").alias("y")
    )
    qn = q.agg(F.sum(F.col("y") * F.col("y")).cast("long").alias("q2"))
    cand = (
        exp.where(F.col("vec_id") != 0)
        .join(F.broadcast(q), exp.i == q.qi)
        .groupBy("vec_id")
        .agg(
            F.sum(F.col("x") * F.col("y")).cast("long").alias("dot"),
            F.sum(F.col("x") * F.col("x")).cast("long").alias("x2"),
        )
    )
    # Top-10 via orderBy+limit (distributed TakeOrdered); the kth
    # element and the argmax then come from a 10-row bounded window —
    # no collection-grain global window. Exactly-rk==10 semantics
    # preserved: fewer than 10 candidates still yields an empty kth.
    wd = Window.orderBy(F.col("dot").desc(), "vec_id")
    top10 = cand.orderBy(F.col("dot").desc(), "vec_id").limit(10)
    kth = (
        top10.select("dot", F.row_number().over(wd).alias("rk"))
        .where(F.col("rk") == 10)
        .select(F.col("dot").alias("d10"))
    )
    top1 = (
        top10.select("vec_id", F.row_number().over(wd).alias("rk"))
        .where(F.col("rk") == 1)
        .select(F.col("vec_id").alias("top1_vec_id"))
    )
    prunable = F.when(
        (F.col("d10") > 0)
        & (
            F.col("q2").cast("decimal(38,0)") * F.col("x2")
            < F.col("d10").cast("decimal(38,0)") * F.col("d10")
        ),
        1,
    ).otherwise(0)
    flagged = (
        cand.crossJoin(F.broadcast(kth))
        .crossJoin(F.broadcast(qn))
        .crossJoin(F.broadcast(top1))
        .select("top1_vec_id", "d10", prunable.alias("p"))
    )
    return flagged.agg(
        F.count(F.lit(1)).cast("long").alias("n_candidates"),
        F.sum("p").cast("long").alias("n_prunable"),
        F.expr("sum(p) * 10000 div count(1)")
        .cast("long")
        .alias("prune_bp"),
        F.max("top1_vec_id").cast("long").alias("top1_vec_id"),
        F.max("d10").cast("long").alias("d10_dot"),
    )


@register(
    "multimodal_aspect_bucket_stats",
    oracle_sql="""
        WITH media AS (
            SELECT doc_id AS media_id,
                   ['image', 'audio', 'video'][CAST(doc_id % 3 + 1
                       AS INT)] AS media_type,
                   octet_length(encode(text)) AS n_bytes,
                   n_chars % 640 + 16 AS width,
                   n_chars * 7 % 480 + 16 AS height
            FROM documents
        )
        SELECT media_type,
               CASE WHEN width * 100 // height < 75 THEN 'portrait'
                    WHEN width * 100 // height <= 133 THEN 'square'
                    ELSE 'landscape' END AS aspect_class,
               CAST(count(*) AS BIGINT) AS n_media,
               CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
               CAST(sum(width * height) AS BIGINT) AS total_pixels
        FROM media
        GROUP BY media_type, aspect_class
        ORDER BY media_type, aspect_class
    """,
    description="Aspect-ratio bucketing stats over the media view "
    "(same synthesized metadata as the §2.13 family): media classed "
    "portrait / square / landscape by the exact integer ratio "
    "width*100 div height, with counts, payload bytes, and pixel "
    "totals per (type, class) — the batching-efficiency profile a "
    "vision-training pipeline computes before grouping samples into "
    "fixed-aspect buckets (mixed-aspect batches waste pad pixels; "
    "these totals price the padding). Metadata-only arithmetic: the "
    "binary payload contributes its length and is never decoded.",
)
def multimodal_aspect_bucket_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from etl_intraday_bidask_spark.operators.multimodal import media_table

    media = media_table(spark, sf_dir)
    ratio = F.expr("width * 100 div height")
    return (
        media.select(
            "media_type",
            F.when(ratio < 75, "portrait")
            .when(ratio <= 133, "square")
            .otherwise("landscape")
            .alias("aspect_class"),
            F.octet_length("payload").alias("n_bytes"),
            (F.col("width") * F.col("height")).alias("pixels"),
        )
        .groupBy("media_type", "aspect_class")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_media"),
            F.sum("n_bytes").cast("long").alias("total_bytes"),
            F.sum("pixels").cast("long").alias("total_pixels"),
        )
        .orderBy("media_type", "aspect_class")
    )


@register(
    "multimodal_byte_entropy",
    oracle_sql="""
        WITH hx AS (
            SELECT lang, hex(encode(text)) AS h FROM documents
            WHERE octet_length(encode(text)) >= 1
        ), pairs AS (
            SELECT lang, substr(h, 2 * i - 1, 2) AS byte_hex
            FROM hx, unnest(generate_series(1, len(h) // 2)) AS u(i)
        ), freq AS (
            SELECT lang, byte_hex, CAST(count(*) AS BIGINT) AS n
            FROM pairs GROUP BY lang, byte_hex
        ), quant AS (
            SELECT lang, n,
                   CAST(floor(n * ln(CAST(n AS DOUBLE)) * 1000000 + 0.5)
                        AS BIGINT) AS nlogn_micro
            FROM freq
        )
        SELECT lang,
               CAST(sum(n) AS BIGINT) AS n_bytes,
               CAST(count(*) AS BIGINT) AS n_distinct_bytes,
               ln(CAST(sum(n) AS DOUBLE))
               - CAST(sum(nlogn_micro) AS DOUBLE) / 1000000.0 / sum(n)
                   AS entropy_nats
        FROM quant GROUP BY lang ORDER BY lang
    """,
    description="Byte-level entropy of the binary payload per "
    "language: payload bytes surface as hex pairs (the "
    "engine-portable byte iterator — no BLOB indexing needed), "
    "frequencies reduce exactly, each n*ln(n) quantizes to "
    "micro-nat units before the exact sum, and H = ln(N) - "
    "sum(n ln n)/N evaluates once — the compressibility / "
    "corruption fingerprint for opaque media columns (encrypted or "
    "compressed payloads sit near ln 256 ~ 5.55 nats; text-like "
    "payloads far below — a shift flags pipeline corruption "
    "without decoding anything). Tokenize-free: cost is one "
    "hex-explode pass reduced to <=256 rows per language.",
)
def multimodal_byte_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Empty payloads are excluded BEFORE the pair fan-out: Spark's
    # sequence(1, 0) is the descending [1, 0], not empty (documented
    # gotcha), which would fabricate two empty-string pairs per empty
    # doc that DuckDB's empty generate_series never emits (fuzz-caught).
    hx = (
        load(spark, sf_dir, "documents")
        .where(F.octet_length(F.col("text").cast("binary")) >= 1)
        .select("lang", F.hex(F.col("text").cast("binary")).alias("h"))
    )
    pairs = hx.select(
        "lang",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.expr("length(h) div 2").cast("int")),
                lambda i: F.substring(F.col("h"), (i * 2 - 1).cast("int"), 2),
            )
        ).alias("byte_hex"),
    )
    freq = pairs.groupBy("lang", "byte_hex").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    quant = freq.select(
        "lang",
        "n",
        F.floor(
            F.col("n") * F.log(F.col("n").cast("double")) * 1000000
            + F.lit(0.5)
        )
        .cast("long")
        .alias("nlogn_micro"),
    )
    return (
        quant.groupBy("lang")
        .agg(
            F.sum("n").cast("long").alias("n_bytes"),
            F.count(F.lit(1)).cast("long").alias("n_distinct_bytes"),
            (
                F.log(F.sum("n").cast("double"))
                - F.sum("nlogn_micro").cast("double")
                / F.lit(1000000.0)
                / F.sum("n")
            ).alias("entropy_nats"),
        )
        .orderBy("lang")
    )


@register(
    "ts_peak_prominence_daily",
    oracle_sql="""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS y
            FROM events GROUP BY d
        ), ctx AS (
            SELECT d, y,
                   max(y) OVER (ORDER BY d ROWS BETWEEN 3 PRECEDING
                       AND 1 PRECEDING) AS max_l,
                   max(y) OVER (ORDER BY d ROWS BETWEEN 1 FOLLOWING
                       AND 3 FOLLOWING) AS max_r,
                   min(y) OVER (ORDER BY d ROWS BETWEEN 3 PRECEDING
                       AND 1 PRECEDING) AS min_l,
                   min(y) OVER (ORDER BY d ROWS BETWEEN 1 FOLLOWING
                       AND 3 FOLLOWING) AS min_r,
                   CAST(count(*) OVER (ORDER BY d ROWS BETWEEN 3 PRECEDING
                       AND 1 PRECEDING) AS BIGINT) AS n_l,
                   CAST(count(*) OVER (ORDER BY d ROWS BETWEEN 1 FOLLOWING
                       AND 3 FOLLOWING) AS BIGINT) AS n_r
            FROM daily
        )
        SELECT CAST(epoch_us(CAST(d AS TIMESTAMP)) AS BIGINT) AS day_us,
               y,
               CAST(y - greatest(min_l, min_r) AS BIGINT) AS prominence
        FROM ctx
        WHERE n_l = 3 AND n_r = 3 AND y > max_l AND y > max_r
        ORDER BY day_us
    """,
    description="Local peak detection with windowed prominence on "
    "the daily traffic series: a day is a peak when it strictly "
    "exceeds every count in the 3 days on each side (interior days "
    "only — boundary windows are excluded by the exact frame-size "
    "count, not by assumption), and its prominence is the rise over "
    "the higher of the two flanking valley minima — all integer "
    "comparisons, no float threshold. The capacity-planning / "
    "incident-review view that separates one-day spikes from "
    "plateau edges; bounded +-3-row frames keep every window "
    "O(1) per row at any series length.",
)
def ts_peak_prominence_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        load(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("d"))
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
    )
    wl = Window.orderBy("d").rowsBetween(-3, -1)
    wr = Window.orderBy("d").rowsBetween(1, 3)
    ctx = daily.select(
        "d",
        "y",
        F.max("y").over(wl).alias("max_l"),
        F.max("y").over(wr).alias("max_r"),
        F.min("y").over(wl).alias("min_l"),
        F.min("y").over(wr).alias("min_r"),
        F.count(F.lit(1)).over(wl).cast("long").alias("n_l"),
        F.count(F.lit(1)).over(wr).cast("long").alias("n_r"),
    )
    return (
        ctx.where(
            (F.col("n_l") == 3)
            & (F.col("n_r") == 3)
            & (F.col("y") > F.col("max_l"))
            & (F.col("y") > F.col("max_r"))
        )
        .select(
            F.unix_micros(F.col("d").cast("timestamp")).alias("day_us"),
            "y",
            (F.col("y") - F.greatest("min_l", "min_r"))
            .cast("long")
            .alias("prominence"),
        )
        .orderBy("day_us")
    )


@register(
    "ts_runs_test_exact",
    oracle_sql="""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS y
            FROM events GROUP BY d
        ), tot AS (
            SELECT d, y,
                   CAST(count(*) OVER () AS BIGINT) AS n,
                   CAST(sum(y) OVER () AS BIGINT) AS t
            FROM daily
        ), signs AS (
            SELECT d, CASE WHEN y * n > t THEN 1 ELSE 0 END AS above
            FROM tot
        ), flips AS (
            SELECT above,
                   CASE WHEN lag(above) OVER (ORDER BY d) IS NULL
                          OR lag(above) OVER (ORDER BY d) <> above
                        THEN 1 ELSE 0 END AS new_run
            FROM signs
        )
        SELECT CAST(count(*) AS BIGINT) AS n_days,
               CAST(sum(above) AS BIGINT) AS n_above,
               CAST(count(*) - sum(above) AS BIGINT) AS n_below,
               CAST(sum(new_run) AS BIGINT) AS n_runs,
               1.0 + 2.0 * CAST(sum(above) AS DOUBLE)
                   * (count(*) - sum(above)) / count(*)
                   AS expected_runs
        FROM flips
    """,
    description="Wald-Wolfowitz runs test (exact counts) on the "
    "daily traffic series: days sign as above/below the exact mean "
    "via the integer cross-product y*n > total (no float mean is "
    "ever compared), runs count via lag flips, and the expected run "
    "count 1 + 2ab/n evaluates once from integers — the randomness "
    "check that catches residual autocorrelation and regime "
    "stickiness (far fewer runs than expected = trending series; "
    "far more = oscillation) before anyone trusts an i.i.d. "
    "assumption downstream. One day-grain window pass.",
)
def ts_runs_test_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        load(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("d"))
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
    )
    wall = Window.partitionBy()
    tot = daily.select(
        "d",
        "y",
        F.count(F.lit(1)).over(wall).cast("long").alias("n"),
        F.sum("y").over(wall).cast("long").alias("t"),
    )
    signs = tot.select(
        "d",
        F.when(F.col("y") * F.col("n") > F.col("t"), 1)
        .otherwise(0)
        .alias("above"),
    )
    prev = F.lag("above").over(Window.orderBy("d"))
    flips = signs.select(
        "above",
        F.when(prev.isNull() | (prev != F.col("above")), 1)
        .otherwise(0)
        .alias("new_run"),
    )
    return flips.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("above").cast("long").alias("n_above"),
        (F.count(F.lit(1)) - F.sum("above")).cast("long").alias("n_below"),
        F.sum("new_run").cast("long").alias("n_runs"),
        (
            F.lit(1.0)
            + F.lit(2.0)
            * F.sum("above").cast("double")
            * (F.count(F.lit(1)) - F.sum("above"))
            / F.count(F.lit(1))
        ).alias("expected_runs"),
    )


@register(
    "ts_theil_sen_slope_daily",
    oracle_sql="""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS y
            FROM events GROUP BY d
        ), idx AS (
            SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS i,
                   y
            FROM daily
        ), slopes AS (
            SELECT a.i AS i, b.i AS j,
                   CAST(b.y - a.y AS DOUBLE) / (b.i - a.i) AS s
            FROM idx a JOIN idx b ON b.i > a.i
        ), ranked AS (
            SELECT s,
                   CAST(row_number() OVER (ORDER BY s, i, j) AS BIGINT)
                       AS rk,
                   CAST(count(*) OVER () AS BIGINT) AS m
            FROM slopes
        )
        SELECT CAST(max(m) AS BIGINT) AS n_pairs,
               sum(CASE WHEN rk = (m + 1) // 2 OR rk = m // 2 + 1
                        THEN s ELSE 0 END) / 2.0 AS theil_sen_slope
        FROM ranked
    """,
    description="Theil-Sen robust trend slope of the daily series: "
    "the median of all pairwise slopes (y_j - y_i)/(j - i) — the "
    "estimator that shrugs off the outlier days that wreck OLS "
    "(29% breakdown point). Each slope is ONE identical IEEE "
    "division of integers; the median picks the two middle ranks "
    "((m+1) div 2 and m div 2 + 1, averaging them handles odd and "
    "even m in one expression) under a fully tie-broken ordering. "
    "Deliberately day-grain: the O(n^2) pair join is bounded by the "
    "spine length (~30 rows -> 435 pairs), never by event volume — "
    "the documented contract for running it at 100 TB is 'aggregate "
    "to the spine first', same as every spine op in this engine.",
)
def ts_theil_sen_slope_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    daily = (
        load(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("d"))
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
    )
    idx = daily.select(
        F.row_number().over(Window.orderBy("d")).cast("long").alias("i"),
        "y",
    )
    b = idx.select(F.col("i").alias("j"), F.col("y").alias("yb"))
    slopes = idx.join(F.broadcast(b), F.col("j") > F.col("i")).select(
        "i",
        "j",
        ((F.col("yb") - F.col("y")).cast("double") / (F.col("j") - F.col("i"))).alias(
            "s"
        ),
    )
    ranked = slopes.select(
        "s",
        F.row_number()
        .over(Window.orderBy("s", "i", "j"))
        .cast("long")
        .alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy()).cast("long").alias("m"),
    )
    mid = F.when(
        (F.col("rk") == F.expr("(m + 1) div 2"))
        | (F.col("rk") == F.expr("m div 2 + 1")),
        F.col("s"),
    ).otherwise(0.0)
    return ranked.agg(
        F.max("m").cast("long").alias("n_pairs"),
        (F.sum(mid) / F.lit(2.0)).alias("theil_sen_slope"),
    )


@register(
    "ts_median3_smoother",
    oracle_sql="""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS y
            FROM events GROUP BY d
        ), ctx AS (
            SELECT d, y,
                   lag(y) OVER (ORDER BY d) AS a,
                   lead(y) OVER (ORDER BY d) AS c
            FROM daily
        )
        SELECT CAST(epoch_us(CAST(d AS TIMESTAMP)) AS BIGINT) AS day_us,
               y,
               CAST(greatest(least(a, y), least(greatest(a, y), c))
                    AS BIGINT) AS smoothed,
               CAST(abs(y - greatest(least(a, y),
                                     least(greatest(a, y), c)))
                    AS BIGINT) AS abs_residual
        FROM ctx WHERE a IS NOT NULL AND c IS NOT NULL
        ORDER BY day_us
    """,
    description="Tukey median-of-3 smoother over the daily series: "
    "each interior day replaced by the median of itself and its two "
    "neighbors via the branch-free max(min(a,b), min(max(a,b), c)) "
    "identity — pure integer comparisons, and the residual |y - "
    "smoothed| isolates single-day impulses EXACTLY (a lone spike's "
    "residual is its full height; trend and plateau days have "
    "residual zero), which is why median-prefilters precede "
    "changepoint and anomaly passes. Two lag/lead windows, "
    "boundary rows excluded explicitly.",
)
def ts_median3_smoother(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        load(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("d"))
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
    )
    w = Window.orderBy("d")
    ctx = daily.select(
        "d",
        "y",
        F.lag("y").over(w).alias("a"),
        F.lead("y").over(w).alias("c"),
    )
    med = F.greatest(
        F.least("a", "y"), F.least(F.greatest("a", "y"), F.col("c"))
    )
    return (
        ctx.where(F.col("a").isNotNull() & F.col("c").isNotNull())
        .select(
            F.unix_micros(F.col("d").cast("timestamp")).alias("day_us"),
            "y",
            med.cast("long").alias("smoothed"),
            F.abs(F.col("y") - med).cast("long").alias("abs_residual"),
        )
        .orderBy("day_us")
    )


@register(
    "bidask_impact_decay_profile",
    oracle_sql="""
        WITH px AS (
            SELECT user_id, ts, event_id,
                   CAST(round(value * 100) AS BIGINT) AS pc
            FROM events WHERE event_type = 'purchase'
        ), seq AS (
            SELECT pc,
                   pc - lag(pc) OVER w AS dprev,
                   lead(pc, 1) OVER w AS p1,
                   lead(pc, 2) OVER w AS p2,
                   lead(pc, 3) OVER w AS p3
            FROM px
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), signed AS (
            SELECT CASE WHEN dprev > 0 THEN 1
                        WHEN dprev < 0 THEN -1 ELSE 0 END AS s,
                   p1 - pc AS d1, p2 - pc AS d2, p3 - pc AS d3
            FROM seq WHERE dprev IS NOT NULL AND dprev <> 0
        )
        SELECT CAST(h.h AS BIGINT) AS horizon,
               CAST(count(CASE h.h WHEN 1 THEN d1 WHEN 2 THEN d2
                          ELSE d3 END) AS BIGINT) AS n_trades,
               CAST(sum(s * (CASE h.h WHEN 1 THEN d1 WHEN 2 THEN d2
                             ELSE d3 END)) AS BIGINT)
                   AS signed_drift_cents,
               CAST(sum(s * (CASE h.h WHEN 1 THEN d1 WHEN 2 THEN d2
                             ELSE d3 END)) * 1000
                    // nullif(count(CASE h.h WHEN 1 THEN d1
                              WHEN 2 THEN d2 ELSE d3 END), 0) AS BIGINT)
                   AS mean_drift_millicents
        FROM signed CROSS JOIN (VALUES (1), (2), (3)) AS h(h)
        GROUP BY h.h ORDER BY horizon
    """,
    description="Price-impact decay profile: tick-rule-signed trades "
    "(sign of the previous price change; zero-ticks excluded) are "
    "followed 1, 2, and 3 trades ahead within the same stream, and "
    "the signed forward drift s*(p_{t+h} - p_t) aggregates exactly "
    "per horizon (cents; floor-millicent mean) — the transient-vs-"
    "permanent impact decomposition (Kyle lambda gives impact AT the "
    "trade; this measures how much of it reverts, the "
    "market-microstructure mean-reversion signature). One "
    "user-partitioned window pass with three leads; all arithmetic "
    "integer until the final floor division.",
)
def bidask_impact_decay_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    px = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select(
            "user_id", "ts", "event_id", scaled_long("value", 100).alias("pc")
        )
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = px.select(
        "pc",
        (F.col("pc") - F.lag("pc").over(w)).alias("dprev"),
        F.lead("pc", 1).over(w).alias("p1"),
        F.lead("pc", 2).over(w).alias("p2"),
        F.lead("pc", 3).over(w).alias("p3"),
    )
    signed = seq.where(
        F.col("dprev").isNotNull() & (F.col("dprev") != 0)
    ).select(
        F.when(F.col("dprev") > 0, 1).otherwise(-1).alias("s"),
        (F.col("p1") - F.col("pc")).alias("d1"),
        (F.col("p2") - F.col("pc")).alias("d2"),
        (F.col("p3") - F.col("pc")).alias("d3"),
    )
    horizons = spark.range(1, 4).select(F.col("id").cast("int").alias("h"))
    d = (
        F.when(F.col("h") == 1, F.col("d1"))
        .when(F.col("h") == 2, F.col("d2"))
        .otherwise(F.col("d3"))
    )
    return (
        signed.crossJoin(F.broadcast(horizons))
        .select("s", "h", d.alias("d"))
        .groupBy(F.col("h").cast("long").alias("horizon"))
        .agg(
            F.count("d").cast("long").alias("n_trades"),
            F.sum(F.col("s") * F.col("d")).cast("long").alias(
                "signed_drift_cents"
            ),
            F.expr("sum(s * d) * 1000 div nullif(count(d), 0)")
            .cast("long")
            .alias("mean_drift_millicents"),
        )
        .orderBy("horizon")
    )


@register(
    "bidask_anchored_vwap_monthly",
    oracle_sql="""
        WITH px AS (
            SELECT ts, event_id,
                   date_trunc('month', ts) AS m,
                   CAST(ts AS DATE) AS d,
                   CAST(round(value * 100) AS BIGINT) AS pc
            FROM events WHERE event_type = 'purchase'
        ), cum AS (
            SELECT d,
                   CAST(sum(pc) OVER w AS BIGINT) AS cum_cents,
                   CAST(count(*) OVER w AS BIGINT) AS cum_n,
                   row_number() OVER (PARTITION BY d
                       ORDER BY ts DESC, event_id DESC) AS rk
            FROM px
            WINDOW w AS (PARTITION BY m ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        )
        SELECT CAST(epoch_us(CAST(d AS TIMESTAMP)) AS BIGINT) AS day_us,
               cum_n AS trades_mtd,
               CAST(cum_cents // cum_n AS BIGINT)
                   AS anchored_vwap_cents
        FROM cum WHERE rk = 1 ORDER BY day_us
    """,
    description="Month-anchored VWAP at each day's close: the "
    "running trade-value average since month start (unit-size "
    "trades -> running mean price in exact cents, floor division "
    "deferred to the report row), sampled at the last trade of "
    "each day (full (ts, event_id) DESC tie-break) — the "
    "execution-quality benchmark ('am I buying above or below the "
    "month's average so far?') that resets at the anchor instead "
    "of sliding. The cumulative window partitions by MONTH, so "
    "months process in parallel and state never crosses the "
    "anchor boundary — the anchored form is cheaper than the "
    "sliding form at scale, not dearer.",
)
def bidask_anchored_vwap_monthly(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    px = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select(
            "ts",
            "event_id",
            F.date_trunc("month", "ts").alias("m"),
            F.col("ts").cast("date").alias("d"),
            scaled_long("value", 100).alias("pc"),
        )
    )
    wc = (
        Window.partitionBy("m")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = px.select(
        "d",
        F.sum("pc").over(wc).cast("long").alias("cum_cents"),
        F.count(F.lit(1)).over(wc).cast("long").alias("cum_n"),
        F.row_number()
        .over(
            Window.partitionBy("d").orderBy(
                F.col("ts").desc(), F.col("event_id").desc()
            )
        )
        .alias("rk"),
    )
    return (
        cum.where(F.col("rk") == 1)
        .select(
            F.unix_micros(F.col("d").cast("timestamp")).alias("day_us"),
            F.col("cum_n").alias("trades_mtd"),
            F.expr("cum_cents div cum_n").cast("long").alias(
                "anchored_vwap_cents"
            ),
        )
        .orderBy("day_us")
    )


@register(
    "eval_cohens_kappa_rules",
    oracle_sql="""
        WITH labeled AS (
            SELECT CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END
                       AS a,
                   CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN 1 ELSE 0 END AS b
            FROM orders
        ), counts AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(a * b) AS BIGINT) AS n11,
                   CAST(sum((1 - a) * (1 - b)) AS BIGINT) AS n00,
                   CAST(sum(a * (1 - b)) AS BIGINT) AS n10,
                   CAST(sum((1 - a) * b) AS BIGINT) AS n01,
                   CAST(sum(a) AS BIGINT) AS a1,
                   CAST(sum(b) AS BIGINT) AS b1
            FROM labeled
        )
        SELECT n, n11, n00, n10, n01,
               CASE WHEN n * n = a1 * b1 + (n - a1) * (n - b1) THEN NULL
                    ELSE CAST((n11 + n00) * n
                              - (a1 * b1 + (n - a1) * (n - b1))
                              AS DOUBLE)
                         / (n * n - (a1 * b1 + (n - a1) * (n - b1)))
               END AS cohens_kappa
        FROM counts
    """,
    description="Cohen's kappa between two deterministic labeling "
    "rules (high-value: totalprice > 150k; expedited: priority "
    "URGENT/HIGH): chance-corrected agreement computed as ONE "
    "integer ratio — ((n11+n00)*n - chance) / (n^2 - chance) with "
    "chance = a1*b1 + a0*b0 — so the only float op is the final "
    "division (the po/pe intermediate floats never exist). The "
    "inter-annotator / rule-agreement metric labeling pipelines "
    "gate on (kappa ~ 0 here is the expected null: price and "
    "priority are independent in the fixture, which the grade "
    "pins). One map-combined agg.",
)
def eval_cohens_kappa_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    labeled = load(spark, sf_dir, "orders").select(
        F.when(F.col("o_totalprice") > 150000, 1).otherwise(0).alias("a"),
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
        )
        .otherwise(0)
        .alias("b"),
    )
    counts = labeled.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("a") * F.col("b")).cast("long").alias("n11"),
        F.sum((1 - F.col("a")) * (1 - F.col("b")))
        .cast("long")
        .alias("n00"),
        F.sum(F.col("a") * (1 - F.col("b"))).cast("long").alias("n10"),
        F.sum((1 - F.col("a")) * F.col("b")).cast("long").alias("n01"),
        F.sum("a").cast("long").alias("a1"),
        F.sum("b").cast("long").alias("b1"),
    )
    chance = F.col("a1") * F.col("b1") + (F.col("n") - F.col("a1")) * (
        F.col("n") - F.col("b1")
    )
    return counts.select(
        "n",
        "n11",
        "n00",
        "n10",
        "n01",
        # Degenerate single-cell tables make n^2 == chance; NULL kappa
        # matches DuckDB (fuzz-caught ANSI divide-by-zero).
        F.when(
            F.col("n") * F.col("n") != chance,
            ((F.col("n11") + F.col("n00")) * F.col("n") - chance).cast(
                "double"
            )
            / (F.col("n") * F.col("n") - chance),
        ).alias("cohens_kappa"),
    )


@register(
    "eval_topk_overlap_champion",
    oracle_sql="""
        WITH spend AS (
            SELECT o_custkey AS k,
                   CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS cents,
                   CAST(count(*) AS BIGINT) AS n_orders
            FROM orders GROUP BY k
        ), champ AS (
            SELECT k FROM (
                SELECT k, row_number() OVER (ORDER BY cents DESC, k)
                       AS rk FROM spend) WHERE rk <= 100
        ), chall AS (
            SELECT k FROM (
                SELECT k, row_number() OVER (ORDER BY n_orders DESC, k)
                       AS rk FROM spend) WHERE rk <= 100
        )
        SELECT CAST(100 AS BIGINT) AS k,
               CAST(m.n_overlap AS BIGINT) AS n_overlap,
               CAST(m.n_overlap * 10000
                    // nullif(m.n_champ + m.n_chall - m.n_overlap, 0)
                    AS BIGINT) AS jaccard_bp
        FROM (SELECT (SELECT count(*) FROM champ) AS n_champ,
                     (SELECT count(*) FROM chall) AS n_chall,
                     (SELECT count(*) FROM champ JOIN chall
                      ON champ.k = chall.k) AS n_overlap) m
    """,
    description="Champion-challenger top-k overlap: the top-100 "
    "customers by revenue (champion ranking) vs by order count "
    "(challenger), overlap and Jaccard in exact floor basis points "
    "— the cheap pre-deployment diff that tells how much a ranking "
    "change would reshuffle the sets downstream consumers actually "
    "see (score-level metrics like AUC deltas can look tiny while "
    "the top-k set churns; this measures the churn itself). Both "
    "rankings come from ONE customer-grain aggregate; two rank "
    "windows + a key join on 100-row sets.",
)
def eval_topk_overlap_champion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    spend = (
        load(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(
            F.sum(scaled_long("o_totalprice", 100)).alias("cents"),
            F.count(F.lit(1)).cast("long").alias("n_orders"),
        )
    )
    # Both top-100 sets via orderBy+limit (distributed TakeOrdered) —
    # no customer-grain global rank window.
    champ = (
        spend.orderBy(F.col("cents").desc(), "k").limit(100).select("k")
    )
    chall = (
        spend.orderBy(F.col("n_orders").desc(), "k")
        .limit(100)
        .select(F.col("k").alias("ck"))
    )
    overlap = champ.join(chall, champ.k == F.col("ck")).agg(
        F.count(F.lit(1)).cast("long").alias("n_overlap")
    )
    # Jaccard over the ACTUAL set sizes, not a hardcoded 2k: with
    # fewer than k customers both rankings shrink together and
    # 2k - overlap would understate the true |A ∪ B| (round-7 review
    # finding); nullif guards the both-empty degenerate under ANSI.
    sizes = (
        champ.agg(F.count(F.lit(1)).cast("long").alias("n_champ"))
        .crossJoin(
            chall.agg(F.count(F.lit(1)).cast("long").alias("n_chall"))
        )
    )
    return overlap.crossJoin(F.broadcast(sizes)).select(
        F.lit(100).cast("long").alias("k"),
        "n_overlap",
        F.expr(
            "n_overlap * 10000"
            " div nullif(n_champ + n_chall - n_overlap, 0)"
        )
        .cast("long")
        .alias("jaccard_bp"),
    )


@register(
    "etl_partition_backfill_plan",
    oracle_sql="""
        WITH pm AS (
            SELECT date_trunc('month', l_shipdate) AS m,
                   CAST(count(*) AS BIGINT) AS n_rows
            FROM lineitem GROUP BY m
        ), med AS (
            SELECT n_rows AS median_rows FROM (
                SELECT n_rows,
                       row_number() OVER (ORDER BY n_rows, m) AS rk,
                       count(*) OVER () AS c
                FROM pm) WHERE rk = (c + 1) // 2
        )
        SELECT CAST(epoch_us(m) AS BIGINT) AS month_us,
               n_rows,
               CAST(median_rows AS BIGINT) AS median_rows,
               CAST(n_rows * 10000 // median_rows AS BIGINT)
                   AS fill_ratio_bp
        FROM pm CROSS JOIN med
        WHERE n_rows * 2 < median_rows
        ORDER BY month_us
    """,
    description="Partition backfill plan: ship-month partitions "
    "whose row count falls below half the median month are flagged "
    "with their fill ratio in exact floor basis points — the "
    "short-partition report an incremental loader publishes before "
    "scheduling backfills (the fixture's first and last ship months "
    "are structurally partial, so the plan is non-vacuous by "
    "construction — the same boundary effect a real lake shows at "
    "its retention edges). Partition-grain stats only; the exact "
    "median comes from a rank pick over ~80 month rows, never a "
    "fact-table sort.",
)
def etl_partition_backfill_plan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    pm = (
        load(spark, sf_dir, "lineitem")
        .groupBy(F.date_trunc("month", "l_shipdate").alias("m"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
    )
    med = (
        pm.select(
            "n_rows",
            F.row_number().over(Window.orderBy("n_rows", "m")).alias("rk"),
            F.count(F.lit(1)).over(Window.partitionBy()).alias("c"),
        )
        .where(F.col("rk") == F.expr("(c + 1) div 2"))
        .select(F.col("n_rows").alias("median_rows"))
    )
    return (
        pm.crossJoin(F.broadcast(med))
        .where(F.col("n_rows") * 2 < F.col("median_rows"))
        .select(
            F.unix_micros("m").alias("month_us"),
            "n_rows",
            F.col("median_rows").cast("long").alias("median_rows"),
            F.expr("n_rows * 10000 div median_rows")
            .cast("long")
            .alias("fill_ratio_bp"),
        )
        .orderBy("month_us")
    )


@register(
    "etl_surrogate_key_stable",
    oracle_sql="""
        WITH full_combos AS (
            SELECT DISTINCT p_brand, p_type FROM part
        ), full_keys AS (
            SELECT p_brand, p_type,
                   CAST(row_number() OVER (ORDER BY p_brand, p_type)
                        AS BIGINT) AS sk
            FROM full_combos
        ), half AS (
            SELECT DISTINCT p_brand, p_type FROM part
            WHERE p_partkey * 2 <= (SELECT max(p_partkey) FROM part)
        ), half_keys AS (
            SELECT p_brand, p_type,
                   CAST(row_number() OVER (ORDER BY p_brand, p_type)
                        AS BIGINT) AS sk
            FROM half
        )
        SELECT
            CAST((SELECT count(*) FROM full_keys) AS BIGINT)
                AS n_combos_full,
            CAST((SELECT count(*) FROM half_keys) AS BIGINT)
                AS n_combos_half,
            CAST((SELECT count(*) FROM full_keys f
                  JOIN half_keys h ON f.p_brand = h.p_brand
                  AND f.p_type = h.p_type
                  WHERE f.sk <> h.sk) AS BIGINT) AS n_shifted,
            CAST((SELECT count(*) FROM full_keys f
                  JOIN half_keys h ON f.p_brand = h.p_brand
                  AND f.p_type = h.p_type
                  WHERE f.sk <> h.sk) * 10000
                 // nullif((SELECT count(*) FROM half_keys), 0)
                 AS BIGINT) AS shifted_bp
    """,
    description="Surrogate-key stability audit: dense keys assigned "
    "by ordered row_number over the (brand, type) natural key, "
    "computed on the full dim AND on the half-sized 'day 1' subset "
    "— combos whose key CHANGED between loads are counted, "
    "quantifying exactly why rank-derived surrogate keys are "
    "load-order-unstable (new combos landing mid-order shift every "
    "later key) and why production dims use hash keys or "
    "monotonic-append allocation instead. The audit shape itself "
    "is the deliverable: run per load, alert on n_shifted > 0. "
    "Dim-grain windows only.",
)
def etl_surrogate_key_stable(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    part = load(spark, sf_dir, "part")
    full_keys = (
        part.select("p_brand", "p_type")
        .distinct()
        .select(
            "p_brand",
            "p_type",
            F.row_number()
            .over(Window.orderBy("p_brand", "p_type"))
            .cast("long")
            .alias("sk"),
        )
    )
    maxk = part.agg(F.max("p_partkey").alias("mk"))
    half_keys = (
        part.crossJoin(F.broadcast(maxk))
        .where(F.col("p_partkey") * 2 <= F.col("mk"))
        .select("p_brand", "p_type")
        .distinct()
        .select(
            F.col("p_brand").alias("hb"),
            F.col("p_type").alias("ht"),
            F.row_number()
            .over(Window.orderBy("p_brand", "p_type"))
            .cast("long")
            .alias("hsk"),
        )
    )
    joined = full_keys.join(
        half_keys,
        (full_keys.p_brand == half_keys.hb)
        & (full_keys.p_type == half_keys.ht),
    )
    n_full = full_keys.agg(
        F.count(F.lit(1)).cast("long").alias("n_combos_full")
    )
    stats = joined.agg(
        F.count(F.lit(1)).cast("long").alias("n_combos_half"),
        F.sum(F.when(F.col("sk") != F.col("hsk"), 1).otherwise(0))
        .cast("long")
        .alias("n_shifted"),
    )
    return (
        n_full.crossJoin(F.broadcast(stats))
        .select(
            "n_combos_full",
            "n_combos_half",
            "n_shifted",
            F.expr("n_shifted * 10000 div nullif(n_combos_half, 0)")
            .cast("long")
            .alias("shifted_bp"),
        )
    )


@register(
    "scan_selectivity_census",
    oracle_sql="""
        WITH stats AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CASE WHEN l_shipdate >=
                            TIMESTAMP '1995-01-01 00:00:00'
                            THEN 1 ELSE 0 END) AS BIGINT) AS p1,
                   CAST(sum(CASE WHEN l_discount > 0.05
                            THEN 1 ELSE 0 END) AS BIGINT) AS p2,
                   CAST(sum(CASE WHEN l_quantity >= 25
                            THEN 1 ELSE 0 END) AS BIGINT) AS p3,
                   CAST(sum(CASE WHEN l_returnflag = 'R'
                            THEN 1 ELSE 0 END) AS BIGINT) AS p4,
                   CAST(sum(CASE WHEN l_shipdate >=
                            TIMESTAMP '1995-01-01 00:00:00'
                            AND l_discount > 0.05
                            THEN 1 ELSE 0 END) AS BIGINT) AS p12
            FROM lineitem
        )
        SELECT t.predicate, t.n_match,
               CAST(t.n_match * 10000 // s.n AS BIGINT)
                   AS selectivity_bp
        FROM stats s CROSS JOIN LATERAL (
            VALUES ('shipdate_ge_1995', s.p1),
                   ('discount_gt_5pct', s.p2),
                   ('quantity_ge_25', s.p3),
                   ('returnflag_R', s.p4),
                   ('shipdate_AND_discount', s.p12)
        ) AS t(predicate, n_match)
        ORDER BY t.predicate
    """,
    description="Predicate selectivity census in ONE scan: observed "
    "match counts and selectivities (exact floor bp) for four "
    "representative predicates plus one conjunction — the statistics "
    "a cost-based optimizer keeps per column, and the correlation "
    "check (compare the conjunction's observed selectivity with the "
    "independence product of its factors) that decides whether "
    "multi-column stats are needed. The census pattern matters at "
    "100 TB: five filtered counts as conditional sums in one "
    "map-combined pass, not five scans.",
)
def scan_selectivity_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    ship = F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp")
    disc = F.col("l_discount") > 0.05
    stats = li.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(ship, 1).otherwise(0)).cast("long").alias("p1"),
        F.sum(F.when(disc, 1).otherwise(0)).cast("long").alias("p2"),
        F.sum(F.when(F.col("l_quantity") >= 25, 1).otherwise(0))
        .cast("long")
        .alias("p3"),
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
        .cast("long")
        .alias("p4"),
        F.sum(F.when(ship & disc, 1).otherwise(0))
        .cast("long")
        .alias("p12"),
    )
    names = F.array(
        F.lit("shipdate_ge_1995"),
        F.lit("discount_gt_5pct"),
        F.lit("quantity_ge_25"),
        F.lit("returnflag_R"),
        F.lit("shipdate_AND_discount"),
    )
    vals = F.array("p1", "p2", "p3", "p4", "p12")
    return (
        stats.select(
            "n",
            F.explode(F.arrays_zip(names.alias("predicate"), vals.alias("v")))
            .alias("z"),
        )
        .select(
            F.col("z.predicate").alias("predicate"),
            F.col("z.v").cast("long").alias("n_match"),
            F.expr("z.v * 10000 div n").cast("long").alias("selectivity_bp"),
        )
        .orderBy("predicate")
    )


@register(
    "graph_rich_club_topdeg",
    oracle_sql="""
        WITH buckets AS (
            SELECT DISTINCT date_trunc('hour', ts) AS h, user_id
            FROM events WHERE event_type = 'purchase'
        ), edges AS (
            SELECT DISTINCT a.user_id AS u, b.user_id AS v
            FROM buckets a JOIN buckets b
              ON a.h = b.h AND a.user_id < b.user_id
        ), deg AS (
            SELECT node, CAST(count(*) AS BIGINT) AS d
            FROM (SELECT u AS node FROM edges
                  UNION ALL SELECT v FROM edges)
            GROUP BY node
        ), club AS (
            SELECT node FROM (
                SELECT node, row_number() OVER (ORDER BY d DESC, node)
                       AS rk FROM deg) WHERE rk <= 20
        ), club_edges AS (
            SELECT count(*) AS ce FROM edges e
            JOIN club c1 ON e.u = c1.node
            JOIN club c2 ON e.v = c2.node
        )
        SELECT CAST((SELECT count(*) FROM club) AS BIGINT)
                   AS club_size,
               CAST((SELECT count(*) FROM edges) AS BIGINT)
                   AS n_edges_total,
               CAST((SELECT ce FROM club_edges) AS BIGINT)
                   AS n_club_edges,
               CAST((SELECT ce FROM club_edges) * 20000
                    // nullif((SELECT count(*) FROM club)
                              * ((SELECT count(*) FROM club) - 1), 0)
                    AS BIGINT) AS club_density_bp
    """,
    description="Rich-club coefficient of the co-purchase graph: "
    "edge density among the 20 highest-degree nodes (degree rank, "
    "node tie-break) in exact floor basis points over the actual "
    "C(club,2) pair count — high density means hubs preferentially "
    "interconnect (the rich-club phenomenon), which operationally "
    "predicts that hub-keyed joins skew TOGETHER (one salting "
    "decision covers them) rather than independently. Same "
    "hour-bucket edge construction as the triangle/clustering "
    "family; the club join touches a 20-row broadcast.",
)
def graph_rich_club_topdeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    buckets = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select(F.date_trunc("hour", "ts").alias("h"), "user_id")
        .distinct()
    )
    a, b = buckets.alias("a"), buckets.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.user_id") < F.col("b.user_id")),
        )
        .select(F.col("a.user_id").alias("u"), F.col("b.user_id").alias("v"))
        .distinct()
    )
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    # Top-20 by degree via orderBy+limit (distributed TakeOrdered) —
    # no node-grain global rank window.
    club = (
        deg.orderBy(F.col("d").desc(), "node").limit(20).select("node")
    )
    c1 = club.select(F.col("node").alias("cu"))
    c2 = club.select(F.col("node").alias("cv"))
    club_edges = (
        edges.join(F.broadcast(c1), edges.u == F.col("cu"))
        .join(F.broadcast(c2), edges.v == F.col("cv"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_club_edges"))
    )
    totals = edges.agg(
        F.count(F.lit(1)).cast("long").alias("n_edges_total")
    )
    # Density over the ACTUAL club-pair count C(|club|, 2), not a
    # hardcoded 190: a graph with fewer than 20 nodes has a smaller
    # club and the fixed denominator would understate its density
    # (round-7 review finding). ce*20000 div (n*(n-1)) is the exact
    # floor of ce / C(n,2) in bp; nullif guards the 1-node club.
    club_n = club.agg(
        F.count(F.lit(1)).cast("long").alias("club_size")
    )
    return (
        totals.crossJoin(F.broadcast(club_edges))
        .crossJoin(F.broadcast(club_n))
        .select(
            "club_size",
            "n_edges_total",
            "n_club_edges",
            F.expr(
                "n_club_edges * 20000"
                " div nullif(club_size * (club_size - 1), 0)"
            )
            .cast("long")
            .alias("club_density_bp"),
        )
    )


@register(
    "win_rolling_percentile_rank",
    oracle_sql="""
        WITH monthly AS (
            SELECT date_trunc('month', o_orderdate) AS m,
                   CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS cents
            FROM orders GROUP BY m
        ), idx AS (
            SELECT m, cents,
                   CAST(row_number() OVER (ORDER BY m) AS BIGINT) AS i
            FROM monthly
        )
        SELECT CAST(epoch_us(a.m) AS BIGINT) AS month_us,
               a.cents,
               CAST(sum(CASE WHEN b.cents <= a.cents THEN 1 ELSE 0 END)
                    * 10000 // 12 AS BIGINT) AS pct_rank_bp
        FROM idx a JOIN idx b ON b.i BETWEEN a.i - 11 AND a.i
        WHERE a.i >= 12
        GROUP BY a.m, a.cents
        ORDER BY month_us
    """,
    description="Rolling percentile rank: each month's revenue "
    "ranked against its trailing 12-month window (count of frame "
    "values <= current, over the fixed 12-row frame, in exact floor "
    "basis points; months without full history excluded explicitly) "
    "— the 'is this month high FOR RECENT HISTORY' normalization "
    "that absolute thresholds and global ranks both miss (a "
    "declining business can set local highs while falling "
    "globally). The frame join runs on the ~80-row month spine; at "
    "any scale the pattern stays spine-sized because the fact "
    "table reduced first.",
)
def win_rolling_percentile_rank(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    monthly = (
        load(spark, sf_dir, "orders")
        .groupBy(F.date_trunc("month", "o_orderdate").alias("m"))
        .agg(F.sum(scaled_long("o_totalprice", 100)).alias("cents"))
    )
    idx = monthly.select(
        "m",
        "cents",
        F.row_number().over(Window.orderBy("m")).cast("long").alias("i"),
    )
    b = idx.select(F.col("i").alias("j"), F.col("cents").alias("bc"))
    return (
        idx.join(
            F.broadcast(b),
            (F.col("j") >= F.col("i") - 11) & (F.col("j") <= F.col("i")),
        )
        .where(F.col("i") >= 12)
        .groupBy("m", "cents")
        .agg(
            F.expr(
                "sum(CASE WHEN bc <= cents THEN 1 ELSE 0 END) * 10000"
                " div 12"
            )
            .cast("long")
            .alias("pct_rank_bp")
        )
        .select(
            F.unix_micros("m").alias("month_us"), "cents", "pct_rank_bp"
        )
        .orderBy("month_us")
    )


@register(
    "parts_substitute_pairs",
    oracle_sql="""
        WITH p AS (
            SELECT p_partkey, p_brand, p_type, p_size,
                   CAST(round(p_retailprice * 100) AS BIGINT) AS pc
            FROM part
        )
        SELECT a.p_type,
               CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(sum(abs(a.pc - b.pc)) AS BIGINT) AS gap_cents_sum,
               CAST(sum(abs(a.pc - b.pc)) // count(*) AS BIGINT)
                   AS avg_gap_cents
        FROM p a JOIN p b
          ON a.p_type = b.p_type AND a.p_size = b.p_size
          AND a.p_partkey < b.p_partkey
          AND a.p_brand <> b.p_brand
          AND abs(a.pc - b.pc) * 20 <= greatest(a.pc, b.pc)
        GROUP BY a.p_type
        ORDER BY a.p_type
    """,
    description="Substitute-part pair mining: parts of the same "
    "(type, size) but different brands whose retail prices sit "
    "within 5% (the exact integer inequality |pa-pb|*20 <= "
    "max(pa,pb) — no float percentage), paired under a "
    "partkey-ordered self-join and reported per type with exact "
    "average gaps — the interchangeability table sourcing and "
    "recommendation systems both consume. The join is blocked on "
    "(type, size) — the canonical blocked similarity-join shape, so "
    "candidate pairs scale with block size squared, not catalog "
    "squared, and skewed blocks shuffle independently.",
)
def parts_substitute_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, sf_dir, "part").select(
        "p_partkey",
        "p_brand",
        "p_type",
        "p_size",
        scaled_long("p_retailprice", 100).alias("pc"),
    )
    b = p.select(
        F.col("p_partkey").alias("bk"),
        F.col("p_brand").alias("bb"),
        F.col("p_type").alias("bt"),
        F.col("p_size").alias("bs"),
        F.col("pc").alias("bpc"),
    )
    pairs = p.join(
        b,
        (p.p_type == b.bt)
        & (p.p_size == b.bs)
        & (p.p_partkey < b.bk)
        & (p.p_brand != b.bb)
        & (
            F.abs(p.pc - b.bpc) * 20
            <= F.greatest(p.pc, b.bpc)
        ),
    )
    return (
        pairs.groupBy("p_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum(F.abs(F.col("pc") - F.col("bpc")))
            .cast("long")
            .alias("gap_cents_sum"),
            F.expr("sum(abs(pc - bpc)) div count(1)")
            .cast("long")
            .alias("avg_gap_cents"),
        )
        .orderBy("p_type")
    )


@register(
    "lineitem_tax_discount_matrix",
    oracle_sql="""
        SELECT CAST(round(l_discount * 100) AS BIGINT) AS discount_pct,
               CAST(round(l_tax * 100) AS BIGINT) AS tax_pct,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS gross_cents,
               CAST(sum(CAST(round(l_extendedprice * (1 - l_discount)
                                   * (1 + l_tax) * 1000000) AS BIGINT))
                    AS BIGINT) AS charge_micro
        FROM lineitem
        GROUP BY discount_pct, tax_pct
        ORDER BY discount_pct, tax_pct
    """,
    description="Discount x tax pricing matrix: line counts, gross "
    "revenue, and the fully-loaded charge "
    "extendedprice*(1-discount)*(1+tax) — an exact 6-decimal "
    "rational, accumulated on the 1e-6 integer grid (the same "
    "charge discipline as the pricing summary, here per pricing "
    "cell) — the margin-structure view that shows which "
    "discount/tax combinations carry the book and exposes "
    "mispriced cells. Cells are bounded (11 discount x 9 tax "
    "bands), so the matrix is a pure map-combined aggregate at "
    "any scale.",
)
def lineitem_tax_discount_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    charge_micro = F.floor(
        F.col("l_extendedprice")
        * (1 - F.col("l_discount"))
        * (1 + F.col("l_tax"))
        * F.lit(1000000.0)
        + F.lit(0.5)
    ).cast("long")
    return (
        li.groupBy(
            scaled_long("l_discount", 100).alias("discount_pct"),
            scaled_long("l_tax", 100).alias("tax_pct"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum(scaled_long("l_extendedprice", 100))
            .cast("long")
            .alias("gross_cents"),
            F.sum(charge_micro).cast("long").alias("charge_micro"),
        )
        .orderBy("discount_pct", "tax_pct")
    )
