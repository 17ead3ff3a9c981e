"""Streaming-operations, geospatial, survival and fairness operators
(SURVEY.md §2.32).

Operational streaming correctness (checkpoint recovery — the
exactly-once-across-restart proof — incremental batches, state-store
metrics, watermark-delay sweeps), geospatial primitives on an exact
integer coordinate grid, survival analysis, sequential
experimentation bounds, inventory planning, fairness audits, SQL-
semantics censuses, and the Markov stationary distribution. Exact
integer/ppm arithmetic, nullif-guarded divisions, quantized
irrationals, scale note per op.
"""

from __future__ import annotations
import uuid

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from etl_intraday_bidask_spark.functions.parity import scaled_long
from etl_intraday_bidask_spark.registry import register
from etl_intraday_bidask_spark.tables import load, scratch_dir


_RECOVERY_CACHE: dict[str, list] = {}


@register(
    "stream_checkpoint_recovery",
    oracle_sql="""
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM events
        GROUP BY event_type ORDER BY event_type
    """,
    description="Exactly-once across a RESTART, hash-graded: the "
    "events feed is split into two arrival batches (event_id "
    "parity), batch 1 streams through an aggregation with a durable "
    "checkpoint, the query STOPS (process death), batch 2 lands in "
    "the source directory, and a NEW query starts from the SAME "
    "checkpoint — Spark restores the aggregation state and the "
    "file-source offset log, processes ONLY the new file, and the "
    "final complete-mode state must hash-equal the batch aggregate "
    "over ALL events: no event lost at the crash boundary, none "
    "double-counted on recovery. This is the operational property "
    "that makes Structured Streaming production-usable (the other "
    "streaming ops grade window/watermark semantics; this grades "
    "RECOVERY). State: checkpointed aggregation state is "
    "O(|event types|); at lake scale the same topology recovers "
    "from executor AND driver loss via the same checkpoint.",
)
def stream_checkpoint_recovery(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from etl_intraday_bidask_spark.tables import (
        ensure_session_confs,
        normalize_event_time,
    )

    if sf_dir not in _RECOVERY_CACHE:
        ensure_session_confs(spark)
        ev = load(spark, sf_dir, "events").select(
            "event_id", "ts", "event_type", "value"
        )
        src = scratch_dir("ckpt_src")
        ckpt = scratch_dir("ckpt_state")
        ev.where(F.col("event_id") % 2 == 0).write.parquet(
            f"{src}/batch=0"
        )
        schema = spark.read.parquet(f"{src}/batch=0").schema

        def run_once() -> None:
            raw = (
                spark.readStream.schema(schema)
                .option("pathGlobFilter", "*.parquet")
                .parquet(f"{src}/*")
            )
            agg = (
                normalize_event_time(raw, "ts")
                .groupBy("event_type")
                .agg(
                    F.count(F.lit(1)).cast("long").alias("n_events"),
                    F.sum(scaled_long("value", 100))
                    .cast("long")
                    .alias("cents"),
                )
            )
            name = f"recovery_{uuid.uuid4().hex[:12]}"
            q = (
                agg.writeStream.format("memory")
                .queryName(name)
                .outputMode("complete")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            return name

        run_once()  # batch 1 only; query terminates (simulated crash)
        ev.where(F.col("event_id") % 2 == 1).write.parquet(
            f"{src}/batch=1"
        )
        final = run_once()  # restart from the SAME checkpoint; batch 2
        # Commit the cache ONLY after the recovery leg succeeded, and
        # cache the collected rows, not the memory-sink table name: a
        # failure between the legs must not pin a batch-1-only result,
        # and the sink table dies with the SparkSession that ran it
        # (round-7 review finding).
        _RECOVERY_CACHE[sf_dir] = [
            (r["event_type"], r["n_events"], r["cents"])
            for r in spark.table(final).collect()
        ]

    return spark.createDataFrame(
        _RECOVERY_CACHE[sf_dir],
        "event_type string, n_events long, cents long",
    ).orderBy("event_type")


@register(
    "geo_haversine_nearest_hub",
    oracle_sql="""
        WITH pts AS (
            SELECT c_custkey,
                   ((c_custkey * 48271) % 2147483647 % 1400000)
                       / 10000.0 - 70.0 AS lat,
                   ((c_custkey * 69621) % 2147483647 % 3600000)
                       / 10000.0 - 180.0 AS lon
            FROM customer
        ), hubs(hub, hlat, hlon) AS (VALUES
            ('nyc', 40.7128, -74.0060), ('lon', 51.5074, -0.1278),
            ('sgp', 1.3521, 103.8198), ('syd', -33.8688, 151.2093),
            ('gru', -23.5558, -46.6396)),
        dists AS (
            SELECT p.c_custkey, h.hub,
                   CAST(floor(12742.0 * asin(sqrt(
                       pow(sin(radians(h.hlat - p.lat) / 2), 2)
                       + cos(radians(p.lat)) * cos(radians(h.hlat))
                         * pow(sin(radians(h.hlon - p.lon) / 2), 2)
                   )) * 10.0 + 0.5) AS BIGINT) AS dist_dkm
            FROM pts p CROSS JOIN hubs h
        ), nearest AS (
            SELECT c_custkey, hub, dist_dkm,
                   row_number() OVER (PARTITION BY c_custkey
                       ORDER BY dist_dkm, hub) AS rk
            FROM dists
        )
        SELECT hub,
               CAST(count(*) AS BIGINT) AS n_customers,
               CAST(min(dist_dkm) AS BIGINT) AS min_dist_dkm,
               CAST(max(dist_dkm) AS BIGINT) AS max_dist_dkm,
               CAST(sum(dist_dkm) AS BIGINT) AS sum_dist_dkm
        FROM nearest WHERE rk = 1
        GROUP BY hub ORDER BY hub
    """,
    description="Nearest-hub haversine assignment: customers get "
    "deterministic synthetic coordinates (LCG of custkey — "
    "replayable, spanning the globe), the 5-row hub dim broadcasts, "
    "and each customer maps to its great-circle-nearest hub with "
    "the distance QUANTIZED to deci-km before the argmin (floor at "
    "0.1 km — the house irrational policy applied to the haversine "
    "chain; ties then break on hub name, so assignment is "
    "deterministic on both engines) — the logistics/latency-zone "
    "assignment shape (ship-from warehouse, nearest PoP). Scale: "
    "map-only against a broadcast dim — the geo twin of "
    "join_spatial_grid's bucketed self-join.",
)
def geo_haversine_nearest_hub(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    pts = load(spark, sf_dir, "customer").select(
        "c_custkey",
        (
            ((F.col("c_custkey") * 48271) % 2147483647 % 1400000)
            / 10000.0
            - 70.0
        ).alias("lat"),
        (
            ((F.col("c_custkey") * 69621) % 2147483647 % 3600000)
            / 10000.0
            - 180.0
        ).alias("lon"),
    )
    hubs = spark.createDataFrame(
        [
            ("nyc", 40.7128, -74.0060),
            ("lon", 51.5074, -0.1278),
            ("sgp", 1.3521, 103.8198),
            ("syd", -33.8688, 151.2093),
            ("gru", -23.5558, -46.6396),
        ],
        ["hub", "hlat", "hlon"],
    )
    dlat = F.radians(F.col("hlat") - F.col("lat")) / 2
    dlon = F.radians(F.col("hlon") - F.col("lon")) / 2
    hav = (
        F.pow(F.sin(dlat), 2)
        + F.cos(F.radians("lat"))
        * F.cos(F.radians("hlat"))
        * F.pow(F.sin(dlon), 2)
    )
    dists = pts.crossJoin(F.broadcast(hubs)).select(
        "c_custkey",
        "hub",
        F.floor(12742.0 * F.asin(F.sqrt(hav)) * 10.0 + 0.5)
        .cast("long")
        .alias("dist_dkm"),
    )
    nearest = dists.select(
        "c_custkey",
        "hub",
        "dist_dkm",
        F.row_number()
        .over(
            Window.partitionBy("c_custkey").orderBy("dist_dkm", "hub")
        )
        .alias("rk"),
    ).where(F.col("rk") == 1)
    return (
        nearest.groupBy("hub")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.min("dist_dkm").cast("long").alias("min_dist_dkm"),
            F.max("dist_dkm").cast("long").alias("max_dist_dkm"),
            F.sum("dist_dkm").cast("long").alias("sum_dist_dkm"),
        )
        .orderBy("hub")
    )


@register(
    "events_kaplan_meier_weekly",
    oracle_sql="""
        WITH firsts AS (
            SELECT user_id, min(date_trunc('week', ts)) AS w0,
                   max(date_trunc('week', ts)) AS wlast
            FROM events GROUP BY user_id
        ), anchor AS (
            SELECT max(date_trunc('week', ts)) AS wmax FROM events
        ), spans AS (
            SELECT f.user_id,
                   CAST(datediff('week', f.w0, f.wlast) AS BIGINT)
                       AS last_active_week,
                   CAST(datediff('week', f.w0, a.wmax) AS BIGINT)
                       AS observed_weeks
            FROM firsts f, anchor a
        ), steps(k) AS (VALUES (1), (2), (3)),
        at_risk AS (
            SELECT s.k,
                   CAST(sum(CASE WHEN sp.observed_weeks >= s.k
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_risk,
                   CAST(sum(CASE WHEN sp.observed_weeks >= s.k
                            AND sp.last_active_week < s.k
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_dead
            FROM spans sp, steps s
            GROUP BY s.k
        ), factored AS (
            SELECT k, n_risk, n_dead,
                   CASE WHEN n_risk > 0 THEN
                       (n_risk - n_dead) * 1000000 // n_risk
                   ELSE 1000000 END AS factor_ppm
            FROM at_risk
        )
        SELECT CAST(k AS BIGINT) AS week_k, n_risk, n_dead,
               CAST(factor_ppm AS BIGINT) AS factor_ppm,
               CAST(CASE WHEN EXISTS (
                        SELECT 1 FROM factored f0
                        WHERE f0.k <= factored.k AND f0.factor_ppm = 0)
                    THEN 0
                    ELSE CAST(CAST(exp((
                        SELECT sum(ln(CAST(f2.factor_ppm AS DOUBLE)))
                        FROM factored f2 WHERE f2.k <= factored.k))
                        * pow(1000000.0, -(
                            SELECT count(*) - 1 FROM factored f2
                            WHERE f2.k <= factored.k))
                        + 0.5 AS HUGEINT) AS BIGINT)
               END AS BIGINT) AS survival_ppm_approx
        FROM factored ORDER BY week_k
    """,
    description="Kaplan-Meier weekly survival: users enter at their "
    "first active week, 'die' when their last activity precedes week "
    "k, and censor when the corpus ends before week k (the at-risk "
    "set EXCLUDES censored users — the right-censoring handling that "
    "separates KM from a naive retention rate, cf. the wave-C hazard "
    "curve which ignores censoring by design). Per-step factors "
    "(n_risk - n_dead)/n_risk floor onto the ppm grid exactly; the "
    "cumulative survival product is emitted via an exp-sum-ln chain "
    "rounded at ppm, flagged approx in the name it carries — the "
    "per-step exact factors are the primary graded values. Scale: "
    "one user reduce + a 3-row broadcast step dim.",
)
def events_kaplan_meier_weekly(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.date_trunc("week", "ts")).alias("w0"),
        F.max(F.date_trunc("week", "ts")).alias("wlast"),
    )
    anchor = ev.agg(
        F.max(F.date_trunc("week", "ts")).alias("wmax")
    )
    spans = firsts.crossJoin(F.broadcast(anchor)).select(
        F.expr(
            "cast(datediff(wlast, w0) div 7 as bigint)"
        ).alias("last_active_week"),
        F.expr(
            "cast(datediff(wmax, w0) div 7 as bigint)"
        ).alias("observed_weeks"),
    )
    steps = spark.createDataFrame([(1,), (2,), (3,)], ["k"])
    at_risk = (
        spans.crossJoin(F.broadcast(steps))
        .groupBy("k")
        .agg(
            F.sum(
                F.when(F.col("observed_weeks") >= F.col("k"), 1).otherwise(
                    0
                )
            )
            .cast("long")
            .alias("n_risk"),
            F.sum(
                F.when(
                    (F.col("observed_weeks") >= F.col("k"))
                    & (F.col("last_active_week") < F.col("k")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_dead"),
        )
    )
    factored = at_risk.select(
        "k",
        "n_risk",
        "n_dead",
        F.when(
            F.col("n_risk") > 0,
            F.expr("(n_risk - n_dead) * 1000000 div n_risk"),
        )
        .otherwise(F.lit(1000000))
        .cast("long")
        .alias("factor_ppm"),
    )
    wcum = (
        Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    )
    # A zero step factor zeroes survival from that week on — stated
    # explicitly on both engines. The old form let Spark's log(0) ->
    # NULL drop the factor from the windowed sum while the count
    # still included its row, so a zero factor broke parity AND gave
    # the wrong statistic (round-7 review finding, fuzz-reachable).
    zero_cum = F.sum(
        F.when(F.col("factor_ppm") == 0, 1).otherwise(0)
    ).over(wcum)
    surv = factored.select(
        "k",
        "n_risk",
        "n_dead",
        "factor_ppm",
        F.when(zero_cum > 0, F.lit(0))
        .otherwise(
            F.floor(
                F.exp(
                    F.sum(
                        F.log(F.col("factor_ppm").cast("double"))
                    ).over(wcum)
                )
                * F.pow(
                    F.lit(1000000.0),
                    -(F.count(F.lit(1)).over(wcum) - 1).cast("double"),
                )
                + 0.5
            )
        )
        .cast("long")
        .alias("survival_ppm_approx"),
    )
    return surv.select(
        F.col("k").cast("long").alias("week_k"),
        "n_risk",
        "n_dead",
        "factor_ppm",
        "survival_ppm_approx",
    ).orderBy("week_k")


@register(
    "ab_sequential_bound_check",
    oracle_sql="""
        WITH assigned AS (
            SELECT CAST(datediff('week', TIMESTAMP '2024-01-01',
                        date_trunc('week', ts)) + 1 AS BIGINT) AS wk,
                   (user_id * 48271) % 2147483647 % 2 AS arm,
                   CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                       AS y
            FROM events
        ), looks(k, z_x1000) AS (VALUES
            (1, 4049), (2, 2863), (3, 2337), (4, 2024)),
        cum AS (
            SELECT l.k, l.z_x1000,
                   CAST(sum(CASE WHEN a.arm = 1 THEN a.y ELSE 0 END)
                        AS BIGINT) AS x_t,
                   CAST(sum(CASE WHEN a.arm = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_t,
                   CAST(sum(CASE WHEN a.arm = 0 THEN a.y ELSE 0 END)
                        AS BIGINT) AS x_c,
                   CAST(sum(CASE WHEN a.arm = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_c
            FROM assigned a JOIN looks l ON a.wk <= l.k
            GROUP BY l.k, l.z_x1000
        )
        SELECT CAST(k AS BIGINT) AS look_k,
               CAST(z_x1000 AS BIGINT) AS obf_bound_z_x1000,
               x_t, n_t, x_c, n_c,
               CASE WHEN n_t > 0 AND n_c > 0
                    AND x_t + x_c > 0
                    AND x_t + x_c < n_t + n_c THEN
                   (CAST(x_t AS DOUBLE) / n_t
                    - CAST(x_c AS DOUBLE) / n_c)
                   / sqrt((CAST(x_t + x_c AS DOUBLE) / (n_t + n_c))
                          * (1.0 - CAST(x_t + x_c AS DOUBLE)
                              / (n_t + n_c))
                          * (1.0 / n_t + 1.0 / n_c))
               END AS z_stat
        FROM cum ORDER BY look_k
    """,
    description="Group-sequential A/B monitoring with O'Brien-Fleming "
    "bounds: at four weekly looks, the cumulative two-proportion "
    "z-statistic (pooled-variance form — one float chain of exact "
    "integer counts, NULL-guarded for degenerate looks) is reported "
    "against the OBF critical values (4.049/2.863/2.337/2.024 for "
    "K=4 at alpha=0.05, a constants dim — spending-function values "
    "are TABLES in practice, not computations) — the peeking "
    "discipline that lets an experimenter look weekly without "
    "inflating false positives, completing the experimentation "
    "family (SRM guards assignment, DiD guards trends, this guards "
    "optional stopping). One conditional aggregate over a broadcast "
    "look dim.",
)
def ab_sequential_bound_check(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    assigned = load(spark, sf_dir, "events").select(
        (
            F.expr(
                "cast(datediff(date_trunc('week', ts), "
                "timestamp '2024-01-01') div 7 as bigint) + 1"
            )
        ).alias("wk"),
        ((F.col("user_id") * 48271) % 2147483647 % 2).alias("arm"),
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .alias("y"),
    )
    looks = spark.createDataFrame(
        [(1, 4049), (2, 2863), (3, 2337), (4, 2024)],
        ["k", "z_x1000"],
    )
    cum = (
        assigned.join(
            F.broadcast(looks), assigned.wk <= looks.k
        )
        .groupBy("k", "z_x1000")
        .agg(
            F.sum(F.when(F.col("arm") == 1, F.col("y")).otherwise(0))
            .cast("long")
            .alias("x_t"),
            F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_t"),
            F.sum(F.when(F.col("arm") == 0, F.col("y")).otherwise(0))
            .cast("long")
            .alias("x_c"),
            F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
            .cast("long")
            .alias("n_c"),
        )
    )
    p_pool = (F.col("x_t") + F.col("x_c")).cast("double") / (
        F.col("n_t") + F.col("n_c")
    )
    z = (
        F.col("x_t").cast("double") / F.col("n_t")
        - F.col("x_c").cast("double") / F.col("n_c")
    ) / F.sqrt(
        p_pool
        * (1.0 - p_pool)
        * (1.0 / F.col("n_t") + 1.0 / F.col("n_c"))
    )
    ok = (
        (F.col("n_t") > 0)
        & (F.col("n_c") > 0)
        & (F.col("x_t") + F.col("x_c") > 0)
        & (F.col("x_t") + F.col("x_c") < F.col("n_t") + F.col("n_c"))
    )
    return cum.select(
        F.col("k").cast("long").alias("look_k"),
        F.col("z_x1000").cast("long").alias("obf_bound_z_x1000"),
        "x_t",
        "n_t",
        "x_c",
        "n_c",
        F.when(ok, z).alias("z_stat"),
    ).orderBy("look_k")


@register(
    "parts_safety_stock_plan",
    oracle_sql="""
        WITH daily AS (
            SELECT l_partkey, date_trunc('day', l_shipdate) AS d,
                   CAST(sum(CAST(round(l_quantity) AS BIGINT))
                        AS BIGINT) AS q
            FROM lineitem GROUP BY 1, 2
        ), stats AS (
            SELECT l_partkey,
                   CAST(count(*) AS BIGINT) AS n_days,
                   CAST(sum(q) AS BIGINT) AS sq,
                   CAST(sum(q * q) AS BIGINT) AS sqq
            FROM daily GROUP BY l_partkey
            HAVING count(*) >= 5
        ), ranked AS (
            SELECT l_partkey, n_days, sq, sqq,
                   row_number() OVER (ORDER BY sq DESC, l_partkey)
                       AS rk
            FROM stats
        )
        SELECT l_partkey, n_days, sq AS total_qty,
               CAST(n_days * sqq - sq * sq AS BIGINT)
                   AS demand_var_num,
               1.645 * sqrt((CAST(n_days AS DOUBLE) * sqq
                             - CAST(sq AS DOUBLE) * sq))
                     / n_days * sqrt(7.0) AS safety_stock_95_l7
        FROM ranked WHERE rk <= 10 ORDER BY l_partkey
    """,
    description="Safety-stock plan for the top-10 moving parts: "
    "per-part daily-demand variance from exact power sums (the "
    "numerator n*Sqq - Sq^2 is the graded integer), and the "
    "95%-service-level stock for a 7-day lead time z*sigma*sqrt(L) "
    "as one float chain (z = 1.645 a constant — service levels are "
    "looked up, never computed) — the inventory-planning core, "
    "completing the ops family (ABC-XYZ classifies, fill-rate "
    "measures, this PLANS). Parts below 5 demand days are excluded "
    "(no variance estimate). One keyed reduce + top-k window over "
    "the bounded stats.",
)
def parts_safety_stock_plan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    daily = (
        load(spark, sf_dir, "lineitem")
        .groupBy(
            "l_partkey", F.date_trunc("day", "l_shipdate").alias("d")
        )
        .agg(F.sum(scaled_long("l_quantity", 1)).alias("q"))
    )
    stats = (
        daily.groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.sum("q").cast("long").alias("sq"),
            F.sum(F.col("q") * F.col("q")).cast("long").alias("sqq"),
        )
        .where(F.col("n_days") >= 5)
    )
    # Top-10 as orderBy+limit (TakeOrderedAndProject: per-partition
    # heap + driver merge), not a rank filter over a global window —
    # same rows under the total-order tie-break, no single-task sort
    # of the whole part grain at scale.
    ranked = stats.orderBy(F.col("sq").desc(), "l_partkey").limit(10)
    var_num = F.col("n_days") * F.col("sqq") - F.col("sq") * F.col("sq")
    return ranked.select(
        "l_partkey",
        "n_days",
        F.col("sq").alias("total_qty"),
        var_num.cast("long").alias("demand_var_num"),
        (
            1.645
            * F.sqrt(
                F.col("n_days").cast("double") * F.col("sqq")
                - F.col("sq").cast("double") * F.col("sq")
            )
            / F.col("n_days")
            * F.sqrt(F.lit(7.0))
        ).alias("safety_stock_95_l7"),
    ).orderBy("l_partkey")


@register(
    "events_markov_stationary",
    oracle_sql="""
        WITH seq AS (
            SELECT event_type,
                   lag(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS prev_type
            FROM events
        ), t AS (
            SELECT prev_type AS src, event_type AS dst,
                   CAST(count(*) AS BIGINT) * 1000000
                       // sum(CAST(count(*) AS BIGINT))
                         OVER (PARTITION BY prev_type) AS p_ppm
            FROM seq WHERE prev_type IS NOT NULL
            GROUP BY prev_type, event_type
        ), states AS (
            SELECT DISTINCT s FROM (
                SELECT src AS s FROM t UNION ALL SELECT dst FROM t)
        ), nstates AS (SELECT count(*) AS ns FROM states),
        v0 AS (
            SELECT s, CAST(1000000 // ns AS BIGINT) AS v
            FROM states, nstates
        ), v1 AS (
            SELECT t.dst AS s,
                   CAST(sum(t.p_ppm * v0.v) // 1000000 AS BIGINT) AS v
            FROM t JOIN v0 ON t.src = v0.s GROUP BY t.dst
        ), v2 AS (
            SELECT t.dst AS s,
                   CAST(sum(t.p_ppm * v1.v) // 1000000 AS BIGINT) AS v
            FROM t JOIN v1 ON t.src = v1.s GROUP BY t.dst
        ), v3 AS (
            SELECT t.dst AS s,
                   CAST(sum(t.p_ppm * v2.v) // 1000000 AS BIGINT) AS v
            FROM t JOIN v2 ON t.src = v2.s GROUP BY t.dst
        ), v4 AS (
            SELECT t.dst AS s,
                   CAST(sum(t.p_ppm * v3.v) // 1000000 AS BIGINT) AS v
            FROM t JOIN v3 ON t.src = v3.s GROUP BY t.dst
        )
        SELECT s AS state, CAST(v AS BIGINT) AS pi_ppm
        FROM v4 ORDER BY state
    """,
    description="Markov stationary distribution of the event-type "
    "chain: 4 unrolled power-iteration rounds pi <- pi.T from the "
    "uniform start, every probability an exact ppm integer (floor "
    "division after each full matvec sum — same bit-stable "
    "discipline as attr_markov_removal_effect's value iteration, "
    "iterating FORWARD over the row-stochastic matrix instead of "
    "backward over absorption values) — the long-run behavioral mix "
    "the transition matrix implies, which a mix-shift monitor "
    "compares against the OBSERVED event mix to detect "
    "non-stationarity. Transition counts are the only data-scale "
    "pass.",
)
def events_markov_stationary(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = load(spark, sf_dir, "events").select(
        "event_type", F.lag("event_type").over(wu).alias("prev_type")
    )
    t = (
        seq.where(F.col("prev_type").isNotNull())
        .groupBy(
            F.col("prev_type").alias("src"),
            F.col("event_type").alias("dst"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "src",
            "dst",
            F.expr(
                "n * 1000000 div sum(n) over (partition by src)"
            ).alias("p_ppm"),
        )
    )
    states = (
        t.select(F.col("src").alias("s"))
        .unionByName(t.select(F.col("dst").alias("s")))
        .distinct()
    )
    ns = states.count()
    if ns == 0:
        # Empty chain (no transitions): stationary distribution is the
        # empty relation on both engines.
        return spark.createDataFrame([], "state string, pi_ppm long")
    v = states.select(
        "s", F.lit(1000000 // ns).cast("long").alias("v")
    )
    t2 = t.select(
        F.col("src").alias("tsrc"), F.col("dst").alias("tdst"), "p_ppm"
    )
    for _ in range(4):
        pv = v.select(F.col("s").alias("ps"), F.col("v").alias("pv"))
        v = (
            t2.join(pv, F.col("tsrc") == F.col("ps"))
            .groupBy(F.col("tdst").alias("s"))
            .agg(
                F.expr("sum(p_ppm * pv) div 1000000")
                .cast("long")
                .alias("v")
            )
            .localCheckpoint(eager=True)
        )
    return v.select(
        F.col("s").alias("state"), F.col("v").alias("pi_ppm")
    ).orderBy("state")


@register(
    "geo_gridcell_density_pyramid",
    oracle_sql="""
        WITH pts AS (
            SELECT c_custkey,
                   ((c_custkey * 48271) % 2147483647 % 1400000)
                       // 10000 AS lat_coarse,
                   ((c_custkey * 69621) % 2147483647 % 3600000)
                       // 10000 AS lon_coarse
            FROM customer
        ), levels(z, cell) AS (VALUES (1, 35), (2, 7)),
        cells AS (
            SELECT l.z,
                   (p.lat_coarse // l.cell) * 1000
                       + (p.lon_coarse // l.cell) AS cell_id
            FROM pts p CROSS JOIN levels l
        ), census AS (
            SELECT z, cell_id, CAST(count(*) AS BIGINT) AS n
            FROM cells GROUP BY z, cell_id
        )
        SELECT CAST(z AS BIGINT) AS zoom,
               CAST(count(*) AS BIGINT) AS n_occupied_cells,
               CAST(max(n) AS BIGINT) AS max_cell_count,
               CAST(sum(n) AS BIGINT) AS total_points
        FROM census GROUP BY z ORDER BY zoom
    """,
    description="Grid-cell density pyramid: the synthetic customer "
    "coordinates (same LCG as geo_haversine_nearest_hub, kept on the "
    "integer 1e-4-degree grid — no float geometry anywhere) bucket "
    "into two zoom levels by integer division, and each level's "
    "occupied-cell and peak-density census is the tile-pyramid "
    "aggregation a map renderer or spatial-index planner consumes "
    "(peak cell count at the fine zoom IS the hot-partition warning "
    "for a spatial join, cf. join_spatial_grid). Coarser levels "
    "derive from finer by integer division — the same "
    "multigrain-rollup property as the bitmap masks. Map + two "
    "bounded reduces.",
)
def geo_gridcell_density_pyramid(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    pts = load(spark, sf_dir, "customer").select(
        F.expr(
            "((c_custkey * 48271) % 2147483647 % 1400000) div 10000"
        ).alias("lat_coarse"),
        F.expr(
            "((c_custkey * 69621) % 2147483647 % 3600000) div 10000"
        ).alias("lon_coarse"),
    )
    levels = spark.createDataFrame([(1, 35), (2, 7)], ["z", "cell"])
    cells = pts.crossJoin(F.broadcast(levels)).select(
        "z",
        (
            F.expr("(lat_coarse div cell) * 1000")
            + F.expr("lon_coarse div cell")
        ).alias("cell_id"),
    )
    census = cells.groupBy("z", "cell_id").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    return (
        census.groupBy(F.col("z").cast("long").alias("zoom"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_occupied_cells"),
            F.max("n").cast("long").alias("max_cell_count"),
            F.sum("n").cast("long").alias("total_points"),
        )
        .orderBy("zoom")
    )


_STATE_METRICS_CACHE: dict[str, list] = {}


@register(
    "stream_state_store_metrics",
    oracle_sql=None,
    description="State-store observability: a watermarked streaming "
    "dedup runs to completion and the op reports the ENGINE'S OWN "
    "state-operator metrics from the final progress event — state "
    "rows kept, rows dropped by the watermark, memory used — the "
    "numbers an operator dashboard alarms on (state growth without "
    "watermark eviction is the streaming OOM in slow motion). "
    "Rows-only by design: the metrics come from the progress API, "
    "not a relation, and memory bytes are environment-dependent — "
    "the pinned pytest asserts the DETERMINISTIC subset (state rows "
    "== distinct keys surviving dedup). At scale these metrics feed "
    "the state-store capacity model in SCALE.md §0 (RocksDB "
    "provider).",
)
def stream_state_store_metrics(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import json as _json

    from etl_intraday_bidask_spark.streaming.replay import (
        _read_events_stream,
    )

    if sf_dir not in _STATE_METRICS_CACHE:
        ev = _read_events_stream(spark, sf_dir).withWatermark(
            "ts", "1 hour"
        )
        dedup = ev.select("user_id", "event_type", "ts").dropDuplicates(
            ["user_id", "event_type"]
        )
        name = f"statemetrics_{uuid.uuid4().hex[:12]}"
        q = (
            dedup.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option(
                "checkpointLocation", scratch_dir("ckpt")
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        ops = []
        for prog in q.recentProgress:
            p = (
                _json.loads(prog.json)
                if hasattr(prog, "json")
                else _json.loads(str(prog))
            )
            for so in p.get("stateOperators", []):
                ops.append(
                    (
                        p.get("batchId", -1),
                        so.get("operatorName", "dedup"),
                        so.get("numRowsTotal", 0),
                        so.get("numRowsUpdated", 0),
                        so.get("numRowsDroppedByWatermark", 0),
                    )
                )
        _STATE_METRICS_CACHE[sf_dir] = ops
    return spark.createDataFrame(
        _STATE_METRICS_CACHE[sf_dir],
        "batch_id long, operator string, state_rows_total long, "
        "state_rows_updated long, rows_dropped_by_watermark long",
    ).orderBy("batch_id", "operator", "state_rows_total")


@register(
    "geo_point_in_zone_rect",
    oracle_sql="""
        WITH pts AS (
            SELECT c_custkey,
                   CAST((c_custkey * 48271) % 2147483647 % 1400000
                        AS BIGINT) AS lat_e4,
                   CAST((c_custkey * 69621) % 2147483647 % 3600000
                        AS BIGINT) AS lon_e4
            FROM customer
        ), zones(zone, lat_lo, lat_hi, lon_lo, lon_hi) AS (VALUES
            ('alpha',  100000,  400000,  200000,  900000),
            ('bravo',  500000,  900000, 1000000, 2000000),
            ('charlie', 900000, 1300000, 2500000, 3400000),
            ('delta',       0,  200000, 3000000, 3600000)),
        hits AS (
            SELECT z.zone, p.c_custkey
            FROM pts p JOIN zones z
              ON p.lat_e4 >= z.lat_lo AND p.lat_e4 < z.lat_hi
             AND p.lon_e4 >= z.lon_lo AND p.lon_e4 < z.lon_hi
        ), per_zone AS (
            SELECT zone, CAST(count(*) AS BIGINT) AS n_inside
            FROM hits GROUP BY zone
        ), uncovered AS (
            SELECT CAST(count(*) AS BIGINT) AS n
            FROM pts p
            WHERE NOT EXISTS (
                SELECT 1 FROM zones z
                WHERE p.lat_e4 >= z.lat_lo AND p.lat_e4 < z.lat_hi
                  AND p.lon_e4 >= z.lon_lo AND p.lon_e4 < z.lon_hi)
        )
        SELECT pz.zone, pz.n_inside, u.n AS n_outside_all_zones
        FROM per_zone pz, uncovered u
        ORDER BY pz.zone
    """,
    description="Rectangular geofence membership: customer points on "
    "the exact 1e-4-degree integer grid tested against a broadcast "
    "zone dim with half-open integer bounds (no float geometry, no "
    "boundary ambiguity — the [lo, hi) convention every tiling "
    "system uses), per-zone census plus the uncovered remainder "
    "(an anti-join/NOT EXISTS) — the geofencing primitive behind "
    "delivery-zone assignment and jurisdiction routing; overlapping "
    "zones double-count deliberately (a point can be in two "
    "jurisdictions — the census grades that semantics). Broadcast "
    "theta join on a 4-row dim: map-only at any scale.",
)
def geo_point_in_zone_rect(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    pts = load(spark, sf_dir, "customer").select(
        "c_custkey",
        ((F.col("c_custkey") * 48271) % 2147483647 % 1400000)
        .cast("long")
        .alias("lat_e4"),
        ((F.col("c_custkey") * 69621) % 2147483647 % 3600000)
        .cast("long")
        .alias("lon_e4"),
    )
    zones = spark.createDataFrame(
        [
            ("alpha", 100000, 400000, 200000, 900000),
            ("bravo", 500000, 900000, 1000000, 2000000),
            ("charlie", 900000, 1300000, 2500000, 3400000),
            ("delta", 0, 200000, 3000000, 3600000),
        ],
        ["zone", "lat_lo", "lat_hi", "lon_lo", "lon_hi"],
    )
    inside = (
        (F.col("lat_e4") >= F.col("lat_lo"))
        & (F.col("lat_e4") < F.col("lat_hi"))
        & (F.col("lon_e4") >= F.col("lon_lo"))
        & (F.col("lon_e4") < F.col("lon_hi"))
    )
    hits = pts.join(F.broadcast(zones), inside)
    per_zone = hits.groupBy("zone").agg(
        F.count(F.lit(1)).cast("long").alias("n_inside")
    )
    uncovered = pts.join(
        F.broadcast(zones), inside, "left_anti"
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    return (
        per_zone.crossJoin(F.broadcast(uncovered))
        .select(
            "zone",
            "n_inside",
            F.col("n").alias("n_outside_all_zones"),
        )
        .orderBy("zone")
    )


@register(
    "geo_bounding_box_per_nation",
    oracle_sql="""
        WITH pts AS (
            SELECT c_nationkey,
                   CAST((c_custkey * 48271) % 2147483647 % 1400000
                        AS BIGINT) AS lat_e4,
                   CAST((c_custkey * 69621) % 2147483647 % 3600000
                        AS BIGINT) AS lon_e4
            FROM customer
        )
        SELECT c_nationkey,
               CAST(count(*) AS BIGINT) AS n_points,
               CAST(min(lat_e4) AS BIGINT) AS lat_min_e4,
               CAST(max(lat_e4) AS BIGINT) AS lat_max_e4,
               CAST(min(lon_e4) AS BIGINT) AS lon_min_e4,
               CAST(max(lon_e4) AS BIGINT) AS lon_max_e4,
               CAST(sum(lat_e4) // count(*) AS BIGINT)
                   AS centroid_lat_floor_e4,
               CAST(sum(lon_e4) // count(*) AS BIGINT)
                   AS centroid_lon_floor_e4
        FROM pts GROUP BY c_nationkey ORDER BY c_nationkey
    """,
    description="Per-nation bounding box + centroid on the integer "
    "coordinate grid: min/max extents and the integrally-floored "
    "centroid — the spatial-index statistics (R-tree node MBRs, "
    "search-space pruning) and the aggregate a tile server uses to "
    "auto-zoom a selection; all exact integers, one map-combined "
    "reduce. The MBR census pairs with geo_gridcell_density_pyramid "
    "(extent vs density — together they size a spatial partitioning).",
)
def geo_bounding_box_per_nation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    pts = load(spark, sf_dir, "customer").select(
        "c_nationkey",
        ((F.col("c_custkey") * 48271) % 2147483647 % 1400000)
        .cast("long")
        .alias("lat_e4"),
        ((F.col("c_custkey") * 69621) % 2147483647 % 3600000)
        .cast("long")
        .alias("lon_e4"),
    )
    return (
        pts.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_points"),
            F.min("lat_e4").cast("long").alias("lat_min_e4"),
            F.max("lat_e4").cast("long").alias("lat_max_e4"),
            F.min("lon_e4").cast("long").alias("lon_min_e4"),
            F.max("lon_e4").cast("long").alias("lon_max_e4"),
            F.expr("sum(lat_e4) div count(*)")
            .cast("long")
            .alias("centroid_lat_floor_e4"),
            F.expr("sum(lon_e4) div count(*)")
            .cast("long")
            .alias("centroid_lon_floor_e4"),
        )
        .orderBy("c_nationkey")
    )


@register(
    "parts_eoq_reorder_point",
    oracle_sql="""
        WITH daily AS (
            SELECT l_partkey, date_trunc('day', l_shipdate) AS d,
                   CAST(sum(CAST(round(l_quantity) AS BIGINT))
                        AS BIGINT) AS q
            FROM lineitem GROUP BY 1, 2
        ), stats AS (
            SELECT l_partkey,
                   CAST(count(*) AS BIGINT) AS n_days,
                   CAST(sum(q) AS BIGINT) AS sq
            FROM daily GROUP BY l_partkey
            HAVING count(*) >= 5
        ), ranked AS (
            SELECT l_partkey, n_days, sq,
                   row_number() OVER (ORDER BY sq DESC, l_partkey)
                       AS rk
            FROM stats
        )
        SELECT l_partkey, n_days, sq AS total_qty,
               CAST(sq * 7 // n_days AS BIGINT)
                   AS reorder_point_l7_floor,
               sqrt(2.0 * 50.0 * (365.0 * sq / n_days) / 2.5)
                   AS eoq_units
        FROM ranked WHERE rk <= 10 ORDER BY l_partkey
    """,
    description="EOQ and reorder point for the top-10 moving parts: "
    "annualized demand from the exact daily rate (sq/n_days), EOQ = "
    "sqrt(2*D*S/H) with ordering cost S=$50 and holding cost "
    "H=$2.50/unit-yr as policy constants, and the 7-day-lead "
    "reorder point as the INTEGRAL floor of lead-time demand — the "
    "deterministic half of inventory policy, with "
    "parts_safety_stock_plan's z*sigma*sqrt(L) as the stochastic "
    "buffer on top (rop_total = reorder_point + safety_stock, the "
    "cross-assert). One keyed reduce + bounded top-k.",
)
def parts_eoq_reorder_point(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    daily = (
        load(spark, sf_dir, "lineitem")
        .groupBy(
            "l_partkey", F.date_trunc("day", "l_shipdate").alias("d")
        )
        .agg(F.sum(scaled_long("l_quantity", 1)).alias("q"))
    )
    stats = (
        daily.groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.sum("q").cast("long").alias("sq"),
        )
        .where(F.col("n_days") >= 5)
    )
    # Top-10 as orderBy+limit (TakeOrderedAndProject: per-partition
    # heap + driver merge), not a rank filter over a global window —
    # same rows under the total-order tie-break, no single-task sort
    # of the whole part grain at scale.
    ranked = stats.orderBy(F.col("sq").desc(), "l_partkey").limit(10)
    return ranked.select(
        "l_partkey",
        "n_days",
        F.col("sq").alias("total_qty"),
        F.expr("sq * 7 div n_days")
        .cast("long")
        .alias("reorder_point_l7_floor"),
        F.sqrt(
            2.0
            * 50.0
            * (365.0 * F.col("sq") / F.col("n_days"))
            / 2.5
        ).alias("eoq_units"),
    ).orderBy("l_partkey")


@register(
    "orders_promo_cannibalization",
    oracle_sql="""
        WITH flagged AS (
            SELECT date_trunc('month', l.l_shipdate) AS m,
                   CASE WHEN p.p_type LIKE 'PROMO%' THEN 1 ELSE 0 END
                       AS is_promo,
                   CAST(round(l.l_extendedprice * 100) AS BIGINT)
                       AS cents
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        ), cells AS (
            SELECT m,
                   CAST(sum(CASE WHEN is_promo = 1 THEN cents
                            ELSE 0 END) AS BIGINT) AS promo_cents,
                   CAST(sum(cents) AS BIGINT) AS total_cents
            FROM flagged GROUP BY m
        )
        SELECT CAST(epoch_us(m) AS BIGINT) AS month_us,
               promo_cents, total_cents,
               CAST(promo_cents * 10000 // total_cents AS BIGINT)
                   AS promo_share_bp,
               CAST(promo_cents * 10000 // total_cents
                    - lag(promo_cents * 10000 // total_cents)
                      OVER (ORDER BY m) AS BIGINT)
                   AS share_delta_bp
        FROM cells ORDER BY month_us
    """,
    description="Promo cannibalization trend: monthly PROMO-part "
    "revenue share in exact floor bp with its month-over-month delta "
    "— the merchandising question behind q14's single-month share "
    "(a rising promo share with FLAT total revenue is "
    "cannibalization, not growth; the two columns together answer "
    "it). Part dim broadcasts; one month rollup + lag over the "
    "bounded series.",
)
def orders_promo_cannibalization(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.date_trunc("month", "l_shipdate").alias("m"),
        scaled_long("l_extendedprice", 100).alias("cents"),
    )
    part = load(spark, sf_dir, "part").select(
        "p_partkey",
        F.when(F.col("p_type").like("PROMO%"), 1)
        .otherwise(0)
        .alias("is_promo"),
    )
    cells = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("m")
        .agg(
            F.sum(
                F.when(F.col("is_promo") == 1, F.col("cents")).otherwise(0)
            )
            .cast("long")
            .alias("promo_cents"),
            F.sum("cents").cast("long").alias("total_cents"),
        )
    )
    share = F.expr("promo_cents * 10000 div total_cents")
    w = Window.orderBy("m")
    return cells.select(
        F.unix_micros("m").alias("month_us"),
        "promo_cents",
        "total_cents",
        share.cast("long").alias("promo_share_bp"),
        (share - F.lag(share).over(w)).cast("long").alias(
            "share_delta_bp"
        ),
    ).orderBy("month_us")


_INCR_BATCH_CACHE: dict[str, list] = {}


@register(
    "stream_incremental_batches",
    oracle_sql="""
        WITH thirds AS (
            SELECT CASE WHEN event_id % 3 = 0 THEN 0
                        WHEN event_id % 3 = 1 THEN 1
                        ELSE 2 END AS batch_id,
                   event_type
            FROM events
        )
        SELECT CAST(batch_id AS BIGINT) AS batch_id,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
        FROM thirds GROUP BY batch_id ORDER BY batch_id
    """,
    description="Incremental micro-batching, hash-graded: the feed "
    "lands as three files (event_id mod 3) and streams with "
    "maxFilesPerTrigger=1, so the engine MUST process exactly one "
    "file per micro-batch in lexicographic order — the per-batch row "
    "and type censuses (captured via foreachBatch) then hash-equal "
    "the per-file batch split the oracle computes. This grades the "
    "micro-batch partitioning discipline itself (backpressure "
    "control at lake scale IS maxFilesPerTrigger/maxBytesPerTrigger "
    "— an engine that coalesces or reorders files breaks this "
    "hash). Complements stream_checkpoint_recovery (state across "
    "restarts) with batching (work division within a run).",
)
def stream_incremental_batches(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from etl_intraday_bidask_spark.tables import (
        ensure_session_confs,
        normalize_event_time,
    )

    if sf_dir not in _INCR_BATCH_CACHE:
        ensure_session_confs(spark)
        ev = load(spark, sf_dir, "events")
        src = scratch_dir("incr_src")
        for b in range(3):
            # coalesce(1): one part-file per third, so the mod-3
            # split IS the micro-batch sequence even when the events
            # scan has multiple partitions (round-7 review finding).
            ev.where(F.col("event_id") % 3 == b).coalesce(1).write.parquet(
                f"{src}/f{b}"
            )
        schema = spark.read.parquet(f"{src}/f0").schema
        raw = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*")
        )
        results: list = []

        def sink(batch_df, batch_id):
            row = batch_df.agg(
                F.count(F.lit(1)).cast("long"),
                F.countDistinct("event_type").cast("long"),
            ).collect()[0]
            results.append((int(batch_id), row[0], row[1]))

        q = (
            normalize_event_time(raw, "ts")
            .writeStream.foreachBatch(sink)
            .option(
                "checkpointLocation", scratch_dir("ckpt")
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        _INCR_BATCH_CACHE[sf_dir] = sorted(results)
    return spark.createDataFrame(
        _INCR_BATCH_CACHE[sf_dir],
        "batch_id long, n_rows long, n_types long",
    ).orderBy("batch_id")


@register(
    "bidask_glosten_harris_decomp",
    oracle_sql="""
        WITH signed AS (
            SELECT CAST(date_trunc('day', ts) AS DATE) AS d, ts, event_id,
                   CAST(round(value * 100) AS BIGINT) AS p,
                   CASE WHEN CAST(round(value * 100) AS BIGINT)
                             > lag(CAST(round(value * 100) AS BIGINT))
                               OVER (PARTITION BY CAST(date_trunc('day', ts)
                                         AS DATE)
                                     ORDER BY ts, event_id) THEN 1
                        WHEN CAST(round(value * 100) AS BIGINT)
                             < lag(CAST(round(value * 100) AS BIGINT))
                               OVER (PARTITION BY CAST(date_trunc('day', ts)
                                         AS DATE)
                                     ORDER BY ts, event_id) THEN -1
                        ELSE 0 END AS q
            FROM events WHERE event_type = 'purchase'
        ), obs AS (
            SELECT p - lag(p) OVER (PARTITION BY d
                       ORDER BY ts, event_id) AS dp,
                   q,
                   q - lag(q) OVER (PARTITION BY d
                       ORDER BY ts, event_id) AS dq
            FROM signed
        ), m AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(dq) AS BIGINT) AS s_dq,
                   CAST(sum(q) AS BIGINT) AS s_q,
                   CAST(sum(dp) AS BIGINT) AS s_dp,
                   CAST(sum(dq * dq) AS BIGINT) AS s_dqdq,
                   CAST(sum(dq * q) AS BIGINT) AS s_dqq,
                   CAST(sum(q * q) AS BIGINT) AS s_qq,
                   CAST(sum(dp * dq) AS BIGINT) AS s_dpdq,
                   CAST(sum(dp * q) AS BIGINT) AS s_dpq
            FROM obs WHERE dp IS NOT NULL AND dq IS NOT NULL
        ), gram AS (
            SELECT n,
                   CAST(n AS HUGEINT) * s_dqdq - CAST(s_dq AS HUGEINT)
                       * s_dq AS a11,
                   CAST(n AS HUGEINT) * s_dqq - CAST(s_dq AS HUGEINT)
                       * s_q AS a12,
                   CAST(n AS HUGEINT) * s_qq - CAST(s_q AS HUGEINT)
                       * s_q AS a22,
                   CAST(n AS HUGEINT) * s_dpdq - CAST(s_dq AS HUGEINT)
                       * s_dp AS b1,
                   CAST(n AS HUGEINT) * s_dpq - CAST(s_q AS HUGEINT)
                       * s_dp AS b2
            FROM m
        )
        SELECT n,
               CAST((a11 * a22 - a12 * a12) // 1000000 AS BIGINT)
                   AS det_div_1m,
               CASE WHEN a11 * a22 - a12 * a12 <> 0 THEN
                   CAST(b1 * a22 - b2 * a12 AS DOUBLE)
                   / CAST(a11 * a22 - a12 * a12 AS DOUBLE)
               END AS psi_order_processing_cents,
               CASE WHEN a11 * a22 - a12 * a12 <> 0 THEN
                   CAST(b2 * a11 - b1 * a12 AS DOUBLE)
                   / CAST(a11 * a22 - a12 * a12 AS DOUBLE)
               END AS lambda_adverse_selection_cents
        FROM gram
    """,
    description="Glosten-Harris spread decomposition: the two-factor "
    "regression dp = psi*dq + lambda*q splits the effective spread "
    "into transitory order-processing cost (psi — reverses when the "
    "trade sign flips back) and permanent adverse-selection impact "
    "(lambda — the information content that stays in the price). "
    "Tick-rule signs, exact cent changes, the centered 2x2 Gram "
    "system in 128-bit integers and Cramer ratios as unrounded "
    "float chains — the same exact-normal-equations machinery as "
    "agg_ols_normal_equations, aimed at the microstructure "
    "question Kyle-lambda (wave C) answers only half of. The "
    "ordered windows (sign lag, dp/dq lags) all PARTITION BY DAY "
    "(each session's first trade contributes no observation — the "
    "standard intraday-regression convention, and the "
    "bidask_volume_clock bounded-sequential-span shape, so the sort "
    "distributes across days); the Gram reduction is global.",
)
def bidask_glosten_harris_decomp(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    w = Window.partitionBy("d").orderBy("ts", "event_id")
    signed = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select(
            F.to_date(F.date_trunc("day", "ts")).alias("d"),
            "ts",
            "event_id",
            scaled_long("value", 100).alias("p"),
        )
        .select(
            "d",
            "ts",
            "event_id",
            "p",
            F.when(F.col("p") > F.lag("p").over(w), 1)
            .when(F.col("p") < F.lag("p").over(w), -1)
            .otherwise(0)
            .alias("q"),
        )
    )
    obs = signed.select(
        (F.col("p") - F.lag("p").over(w)).alias("dp"),
        "q",
        (F.col("q") - F.lag("q").over(w)).alias("dq"),
    ).where(F.col("dp").isNotNull() & F.col("dq").isNotNull())
    m = obs.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("dq").cast("long").alias("s_dq"),
        F.sum("q").cast("long").alias("s_q"),
        F.sum("dp").cast("long").alias("s_dp"),
        F.sum(F.col("dq") * F.col("dq")).cast("long").alias("s_dqdq"),
        F.sum(F.col("dq") * F.col("q")).cast("long").alias("s_dqq"),
        F.sum(F.col("q") * F.col("q")).cast("long").alias("s_qq"),
        F.sum(F.col("dp") * F.col("dq")).cast("long").alias("s_dpdq"),
        F.sum(F.col("dp") * F.col("q")).cast("long").alias("s_dpq"),
    )
    dec = "decimal(38,0)"
    g = m.select(
        "n",
        (
            F.col("n").cast(dec) * F.col("s_dqdq")
            - F.col("s_dq").cast(dec) * F.col("s_dq")
        ).alias("a11"),
        (
            F.col("n").cast(dec) * F.col("s_dqq")
            - F.col("s_dq").cast(dec) * F.col("s_q")
        ).alias("a12"),
        (
            F.col("n").cast(dec) * F.col("s_qq")
            - F.col("s_q").cast(dec) * F.col("s_q")
        ).alias("a22"),
        (
            F.col("n").cast(dec) * F.col("s_dpdq")
            - F.col("s_dq").cast(dec) * F.col("s_dp")
        ).alias("b1"),
        (
            F.col("n").cast(dec) * F.col("s_dpq")
            - F.col("s_q").cast(dec) * F.col("s_dp")
        ).alias("b2"),
    )
    det = F.col("a11") * F.col("a22") - F.col("a12") * F.col("a12")
    return g.select(
        "n",
        # Graded value leaves the decimal(38,0) domain only after the
        # 1e6 descale — det ~ 4n^4 overflowed a raw BIGINT cast with
        # ~64x headroom at sf0.1; descaled, the graded long holds to
        # n ~ 1.2M trades while psi/lambda keep the full-width det.
        # Integral `div` (truncating, == DuckDB `//`): the / + cast
        # form ROUNDS on decimals (probed: 1999999/1e6 -> 2 vs 1).
        F.expr("(a11 * a22 - a12 * a12) div 1000000")
        .cast("long")
        .alias("det_div_1m"),
        F.when(
            det != 0,
            (
                F.col("b1") * F.col("a22") - F.col("b2") * F.col("a12")
            ).cast("double")
            / det.cast("double"),
        ).alias("psi_order_processing_cents"),
        F.when(
            det != 0,
            (
                F.col("b2") * F.col("a11") - F.col("b1") * F.col("a12")
            ).cast("double")
            / det.cast("double"),
        ).alias("lambda_adverse_selection_cents"),
    )


@register(
    "orders_repurchase_interval",
    oracle_sql="""
        WITH gaps AS (
            SELECT o_custkey,
                   CAST(datediff('day', lag(o_orderdate) OVER (
                       PARTITION BY o_custkey
                       ORDER BY o_orderdate, o_orderkey), o_orderdate)
                       AS BIGINT) AS gap_days
            FROM orders
        ), valid AS (
            SELECT gap_days FROM gaps WHERE gap_days IS NOT NULL
        )
        SELECT CAST(count(*) AS BIGINT) AS n_repurchases,
               CAST(quantile_disc(gap_days, 0.25) AS BIGINT)
                   AS p25_days,
               CAST(quantile_disc(gap_days, 0.5) AS BIGINT) AS p50_days,
               CAST(quantile_disc(gap_days, 0.75) AS BIGINT)
                   AS p75_days,
               CAST(max(gap_days) AS BIGINT) AS max_days,
               CAST(sum(CASE WHEN gap_days <= 30 THEN 1 ELSE 0 END)
                    * 10000 // count(*) AS BIGINT)
                   AS within_30d_floor_bp
        FROM valid
    """,
    description="Repurchase-interval distribution: day gaps between "
    "a customer's consecutive orders ((date, orderkey) tie-broken), "
    "summarized as discrete quartiles + the 30-day repurchase share "
    "in floor bp — the replenishment-cycle read that calibrates both "
    "churn-label windows (churn_label_weekly's 1-week horizon is "
    "right only if p50 supports it) and win-back campaign timing. "
    "One custkey-partitioned lag + percentile reduce.",
)
def orders_repurchase_interval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    w = Window.partitionBy("o_custkey").orderBy(
        "o_orderdate", "o_orderkey"
    )
    gaps = load(spark, sf_dir, "orders").select(
        F.datediff("o_orderdate", F.lag("o_orderdate").over(w))
        .cast("long")
        .alias("gap_days")
    ).where(F.col("gap_days").isNotNull())
    return gaps.agg(
        F.count(F.lit(1)).cast("long").alias("n_repurchases"),
        F.expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY gap_days)")
        .cast("long")
        .alias("p25_days"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY gap_days)")
        .cast("long")
        .alias("p50_days"),
        F.expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY gap_days)")
        .cast("long")
        .alias("p75_days"),
        F.max("gap_days").cast("long").alias("max_days"),
        F.expr(
            "sum(case when gap_days <= 30 then 1 else 0 end) * 10000 "
            "div count(*)"
        )
        .cast("long")
        .alias("within_30d_floor_bp"),
    )


@register(
    "graph_degree_assortativity",
    oracle_sql="""
        WITH buckets AS (
            SELECT DISTINCT date_trunc('hour', ts) AS h, user_id
            FROM events WHERE event_type = 'purchase'
        ), edges AS (
            SELECT DISTINCT a.user_id AS u, b.user_id AS v
            FROM buckets a JOIN buckets b
              ON a.h = b.h AND a.user_id < b.user_id
        ), degs AS (
            SELECT x, CAST(count(*) AS BIGINT) AS d FROM (
                SELECT u AS x FROM edges
                UNION ALL SELECT v FROM edges
            ) GROUP BY x
        ), ends AS (
            SELECT du.d AS dx, dv.d AS dy
            FROM edges e
            JOIN degs du ON e.u = du.x
            JOIN degs dv ON e.v = dv.x
        ), m AS (
            SELECT CAST(count(*) * 2 AS BIGINT) AS n2,
                   CAST(sum(dx + dy) AS BIGINT) AS sx,
                   CAST(sum(dx * dx + dy * dy) AS BIGINT) AS sxx,
                   CAST(sum(2 * dx * dy) AS BIGINT) AS sxy
            FROM ends
        )
        SELECT n2 AS n_edge_ends, sx, sxx, sxy,
               CASE WHEN n2 * sxx - sx * sx > 0 THEN
                   (CAST(n2 AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sx)
                   / (CAST(n2 AS DOUBLE) * sxx
                      - CAST(sx AS DOUBLE) * sx)
               END AS assortativity_r
        FROM m
    """,
    description="Degree assortativity of the co-purchase graph: the "
    "Pearson correlation of degrees across edge ends, computed "
    "SYMMETRIZED (each undirected edge contributes both "
    "orientations, so sx/sxx fold both ends and sxy doubles the "
    "cross product — the standard Newman formulation) from exact "
    "int64 power sums with one unrounded float chain. r > 0 = "
    "social/hub-attracts-hub mixing, r < 0 = hub-and-spoke "
    "(typical for co-purchase) — the one-number graph-shape "
    "diagnostic that tells you whether hub-salting (SCALE.md's "
    "skew defense) will be needed BEFORE running the heavy "
    "projections. Degrees join back on the vertex key; everything "
    "else is bounded.",
)
def graph_degree_assortativity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
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
        .select(
            F.col("a.user_id").alias("u"), F.col("b.user_id").alias("v")
        )
        .distinct()
    )
    degs = (
        edges.select(F.col("u").alias("x"))
        .unionByName(edges.select(F.col("v").alias("x")))
        .groupBy("x")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    ends = (
        edges.join(
            degs.withColumnRenamed("x", "u").withColumnRenamed(
                "d", "dx"
            ),
            "u",
        )
        .join(
            degs.withColumnRenamed("x", "v").withColumnRenamed(
                "d", "dy"
            ),
            "v",
        )
        .select("dx", "dy")
    )
    m = ends.agg(
        (F.count(F.lit(1)) * 2).cast("long").alias("n2"),
        F.sum(F.col("dx") + F.col("dy")).cast("long").alias("sx"),
        F.sum(
            F.col("dx") * F.col("dx") + F.col("dy") * F.col("dy")
        )
        .cast("long")
        .alias("sxx"),
        F.sum(2 * F.col("dx") * F.col("dy")).cast("long").alias("sxy"),
    )
    var = F.col("n2") * F.col("sxx") - F.col("sx") * F.col("sx")
    return m.select(
        F.col("n2").alias("n_edge_ends"),
        "sx",
        "sxx",
        "sxy",
        F.when(
            var > 0,
            (
                F.col("n2").cast("double") * F.col("sxy")
                - F.col("sx").cast("double") * F.col("sx")
            )
            / var.cast("double"),
        ).alias("assortativity_r"),
    )


@register(
    "eval_demographic_parity_80pct",
    oracle_sql="""
        WITH scored AS (
            SELECT user_id % 4 AS segment,
                   CASE WHEN CAST(round(value * 100) AS BIGINT)
                             >= 10000 THEN 1 ELSE 0 END AS selected
            FROM events WHERE event_type IN ('purchase', 'view')
        ), rates AS (
            SELECT segment,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(selected) AS BIGINT) AS n_selected,
                   CAST(sum(selected) * 1000000 // count(*) AS BIGINT)
                       AS rate_ppm
            FROM scored GROUP BY segment
        ), best AS (
            SELECT max(rate_ppm) AS max_rate FROM rates
        )
        SELECT CAST(r.segment AS BIGINT) AS segment, r.n, r.n_selected,
               r.rate_ppm,
               CAST(CASE WHEN r.rate_ppm * 10 >= b.max_rate * 8
                    THEN 1 ELSE 0 END AS BIGINT) AS passes_80pct_rule
        FROM rates r, best b ORDER BY segment
    """,
    description="Demographic-parity audit with the four-fifths rule: "
    "per segment (4-way user hash — the protected-attribute stand-"
    "in), the selection rate at the $100 score threshold, flagged "
    "against 80% of the most-favored segment's rate via the integer "
    "cross-multiplication rate*10 >= max_rate*8 — the EEOC adverse-"
    "impact test as an exact relational op (no rate float is ever "
    "compared). The fairness gate that runs BEFORE a model ships; "
    "eval_calibration_per_segment checks honesty, this checks "
    "impact. One reduce + 1-row broadcast.",
)
def eval_demographic_parity_80pct(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    scored = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type").isin("purchase", "view"))
        .select(
            (F.col("user_id") % 4).alias("segment"),
            F.when(scaled_long("value", 100) >= 10000, 1)
            .otherwise(0)
            .alias("selected"),
        )
    )
    rates = scored.groupBy("segment").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("selected").cast("long").alias("n_selected"),
        F.expr("sum(selected) * 1000000 div count(*)")
        .cast("long")
        .alias("rate_ppm"),
    )
    best = rates.agg(F.max("rate_ppm").alias("max_rate"))
    return (
        rates.crossJoin(F.broadcast(best))
        .select(
            F.col("segment").cast("long").alias("segment"),
            "n",
            "n_selected",
            "rate_ppm",
            F.when(
                F.col("rate_ppm") * 10 >= F.col("max_rate") * 8, 1
            )
            .otherwise(0)
            .cast("long")
            .alias("passes_80pct_rule"),
        )
        .orderBy("segment")
    )


@register(
    "eval_equalized_odds_gap",
    oracle_sql="""
        WITH scored AS (
            SELECT user_id % 4 AS segment,
                   CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                       AS y,
                   CASE WHEN CAST(round(value * 100) AS BIGINT)
                             >= 10000 THEN 1 ELSE 0 END AS pred
            FROM events WHERE event_type IN ('purchase', 'view')
        ), rates AS (
            SELECT segment,
                   CAST(sum(CASE WHEN y = 1 AND pred = 1
                            THEN 1 ELSE 0 END) * 10000
                        // nullif(sum(y), 0) AS BIGINT) AS tpr_bp,
                   CAST(sum(CASE WHEN y = 0 AND pred = 1
                            THEN 1 ELSE 0 END) * 10000
                        // nullif(sum(1 - y), 0) AS BIGINT) AS fpr_bp,
                   CAST(sum(y) AS BIGINT) AS n_pos,
                   CAST(sum(1 - y) AS BIGINT) AS n_neg
            FROM scored GROUP BY segment
        ), spread AS (
            SELECT max(tpr_bp) - min(tpr_bp) AS tpr_gap,
                   max(fpr_bp) - min(fpr_bp) AS fpr_gap
            FROM rates
        )
        SELECT CAST(r.segment AS BIGINT) AS segment,
               r.n_pos, r.n_neg, r.tpr_bp, r.fpr_bp,
               CAST(s.tpr_gap AS BIGINT) AS tpr_gap_bp,
               CAST(s.fpr_gap AS BIGINT) AS fpr_gap_bp
        FROM rates r, spread s ORDER BY segment
    """,
    description="Equalized-odds audit: per-segment TPR and FPR at the "
    "$100 threshold in exact floor bp (nullif-guarded for one-class "
    "segments) plus the cross-segment max-min gaps — the error-rate "
    "fairness criterion (parity can hold while one group absorbs all "
    "the false positives; this catches exactly that). Same scored "
    "stream as the parity op, so the pair audits selection AND error "
    "fairness in one pass over the data.",
)
def eval_equalized_odds_gap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    scored = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type").isin("purchase", "view"))
        .select(
            (F.col("user_id") % 4).alias("segment"),
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .alias("y"),
            F.when(scaled_long("value", 100) >= 10000, 1)
            .otherwise(0)
            .alias("pred"),
        )
    )
    rates = scored.groupBy("segment").agg(
        F.expr(
            "sum(case when y = 1 and pred = 1 then 1 else 0 end) "
            "* 10000 div nullif(sum(y), 0)"
        )
        .cast("long")
        .alias("tpr_bp"),
        F.expr(
            "sum(case when y = 0 and pred = 1 then 1 else 0 end) "
            "* 10000 div nullif(sum(1 - y), 0)"
        )
        .cast("long")
        .alias("fpr_bp"),
        F.sum("y").cast("long").alias("n_pos"),
        F.sum(1 - F.col("y")).cast("long").alias("n_neg"),
    )
    spread = rates.agg(
        (F.max("tpr_bp") - F.min("tpr_bp")).alias("tpr_gap"),
        (F.max("fpr_bp") - F.min("fpr_bp")).alias("fpr_gap"),
    )
    return (
        rates.crossJoin(F.broadcast(spread))
        .select(
            F.col("segment").cast("long").alias("segment"),
            "n_pos",
            "n_neg",
            "tpr_bp",
            "fpr_bp",
            F.col("tpr_gap").cast("long").alias("tpr_gap_bp"),
            F.col("fpr_gap").cast("long").alias("fpr_gap_bp"),
        )
        .orderBy("segment")
    )


@register(
    "sessionize_dwell_profile",
    oracle_sql="""
        WITH seq AS (
            SELECT user_id, ts, event_id, event_type,
                   CAST(epoch_us(ts) - epoch_us(lag(ts) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id))
                       AS BIGINT) AS gap_us
            FROM events
        ), dwell AS (
            SELECT event_type, gap_us
            FROM seq
            WHERE gap_us IS NOT NULL
              AND gap_us <= CAST(30 AS BIGINT) * 60 * 1000000
        )
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_transitions,
               CAST(quantile_disc(gap_us, 0.5) AS BIGINT)
                   AS p50_dwell_us,
               CAST(quantile_disc(gap_us, 0.9) AS BIGINT)
                   AS p90_dwell_us,
               CAST(sum(gap_us) AS BIGINT) AS total_dwell_us
        FROM dwell GROUP BY event_type ORDER BY event_type
    """,
    description="Dwell-time profile per event type: the in-session "
    "gap (<= 30 min, the sessionization threshold — larger gaps are "
    "session boundaries, not dwell) BEFORE each event, summarized as "
    "discrete percentiles in exact microseconds — the engagement-"
    "depth feature (dwell before a purchase vs before an error tells "
    "opposite stories) and the input that calibrates the 30-minute "
    "session gap itself (if p90 dwell approaches the threshold, "
    "sessions are being split mid-visit). One user-partitioned lag "
    "+ percentile reduce.",
)
def sessionize_dwell_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = load(spark, sf_dir, "events").select(
        "event_type",
        (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w)))
        .alias("gap_us"),
    )
    dwell = seq.where(
        F.col("gap_us").isNotNull()
        & (F.col("gap_us") <= 30 * 60 * 1000000)
    )
    return (
        dwell.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_transitions"),
            F.expr(
                "percentile_disc(0.5) WITHIN GROUP (ORDER BY gap_us)"
            )
            .cast("long")
            .alias("p50_dwell_us"),
            F.expr(
                "percentile_disc(0.9) WITHIN GROUP (ORDER BY gap_us)"
            )
            .cast("long")
            .alias("p90_dwell_us"),
            F.sum("gap_us").cast("long").alias("total_dwell_us"),
        )
        .orderBy("event_type")
    )


@register(
    "dq_range_contract_audit",
    oracle_sql="""
        WITH contracts(col_name, lo, hi) AS (VALUES
            ('l_quantity', 1, 50),
            ('l_discount_pct', 0, 10),
            ('l_tax_pct', 0, 8)),
        obs AS (
            SELECT 'l_quantity' AS col_name,
                   CAST(round(l_quantity) AS BIGINT) AS v
            FROM lineitem
            UNION ALL
            SELECT 'l_discount_pct',
                   CAST(round(l_discount * 100) AS BIGINT)
            FROM lineitem
            UNION ALL
            SELECT 'l_tax_pct', CAST(round(l_tax * 100) AS BIGINT)
            FROM lineitem
        )
        SELECT o.col_name,
               CAST(c.lo AS BIGINT) AS contract_lo,
               CAST(c.hi AS BIGINT) AS contract_hi,
               CAST(count(*) AS BIGINT) AS n_values,
               CAST(min(o.v) AS BIGINT) AS observed_min,
               CAST(max(o.v) AS BIGINT) AS observed_max,
               CAST(sum(CASE WHEN o.v < c.lo OR o.v > c.hi
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
        FROM obs o JOIN contracts c ON o.col_name = c.col_name
        GROUP BY o.col_name, c.lo, c.hi
        ORDER BY o.col_name
    """,
    description="Value-range data contract audit: declared [lo, hi] "
    "bounds per column (a VALUES contract dim — in production this "
    "row set IS the contract registry) checked against observed "
    "integer-grid values in one unpivoted pass, with violation "
    "counts and the observed envelope — the producer-consumer "
    "contract check that runs on every landing batch (dq_checks "
    "grades null/key rules; this grades DOMAINS). A violation count "
    "> 0 blocks the swap; the observed envelope drifting toward a "
    "bound is the early warning. One narrow union + keyed reduce.",
)
def dq_range_contract_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    obs = (
        li.select(
            F.lit("l_quantity").alias("col_name"),
            scaled_long("l_quantity", 1).alias("v"),
        )
        .unionByName(
            li.select(
                F.lit("l_discount_pct").alias("col_name"),
                scaled_long("l_discount", 100).alias("v"),
            )
        )
        .unionByName(
            li.select(
                F.lit("l_tax_pct").alias("col_name"),
                scaled_long("l_tax", 100).alias("v"),
            )
        )
    )
    contracts = spark.createDataFrame(
        [
            ("l_quantity", 1, 50),
            ("l_discount_pct", 0, 10),
            ("l_tax_pct", 0, 8),
        ],
        ["col_name", "lo", "hi"],
    )
    return (
        obs.join(F.broadcast(contracts), "col_name")
        .groupBy("col_name", "lo", "hi")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_values"),
            F.min("v").cast("long").alias("observed_min"),
            F.max("v").cast("long").alias("observed_max"),
            F.sum(
                F.when(
                    (F.col("v") < F.col("lo"))
                    | (F.col("v") > F.col("hi")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_violations"),
        )
        .select(
            "col_name",
            F.col("lo").cast("long").alias("contract_lo"),
            F.col("hi").cast("long").alias("contract_hi"),
            "n_values",
            "observed_min",
            "observed_max",
            "n_violations",
        )
        .orderBy("col_name")
    )


@register(
    "embed_whiten_variance_audit",
    oracle_sql="""
        WITH exp AS (
            SELECT vec_id,
                   generate_subscripts(embedding, 1) AS dim,
                   CAST(floor(CAST(unnest(embedding) AS DOUBLE)
                              * 1000000 + 0.5) AS BIGINT) AS xq
            FROM embeddings
        ), stats AS (
            SELECT dim, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(xq) AS BIGINT) AS sx,
                   CAST(sum(xq * xq) AS BIGINT) AS sxx
            FROM exp GROUP BY dim
        ), scaled AS (
            SELECT e.dim,
                   CAST(floor((e.xq * s.n - s.sx)
                       / sqrt(CAST(s.n AS DOUBLE) * s.sxx
                              - CAST(s.sx AS DOUBLE) * s.sx)
                       * 1000.0 + 0.5) AS BIGINT) AS wq
            FROM exp e JOIN stats s ON e.dim = s.dim
            WHERE s.n * s.sxx - s.sx * s.sx > 0
        ), wstats AS (
            SELECT dim, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(wq) AS BIGINT) AS swx,
                   CAST(sum(wq * wq) AS BIGINT) AS swxx
            FROM scaled GROUP BY dim
        ), vars AS (
            SELECT dim,
                   (n * swxx - swx * swx) // (n * n) AS var_scaled
            FROM wstats
        )
        SELECT CAST(count(*) AS BIGINT) AS n_dims,
               CAST(min(var_scaled) AS BIGINT) AS min_var_scaled,
               CAST(max(var_scaled) AS BIGINT) AS max_var_scaled,
               CAST(max(var_scaled) * 100
                    // nullif(min(var_scaled), 0) AS BIGINT)
                   AS max_over_min_x100
        FROM vars
    """,
    description="Whitening applied AND audited in one plan: each "
    "dimension standardizes by its own mean/std (the centered value "
    "stays n-scaled; the single irrational division by sqrt(var) "
    "quantizes to a 1e3 grid per ROW before any cross-row "
    "aggregation — the documented float-crossing-aggregation rule), "
    "then the whitened per-dimension variances are re-measured: "
    "max/min variance ratio ~100x100 means whitening worked (the "
    "pre-whitening ratio is what embed_dim_variance_topk exposes). "
    "This is the PQ/IVF preprocessing step (knn_pq_adc's codebooks "
    "assume comparable subspace scales) as a graded op. Two keyed "
    "reduces + broadcast stats join.",
)
def embed_whiten_variance_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from etl_intraday_bidask_spark.functions.vector import as_double

    exp = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.posexplode(as_double("embedding")).alias("pos", "x")
    ).select(
        (F.col("pos") + 1).alias("dim"),
        F.floor(F.col("x") * 1000000 + 0.5).cast("long").alias("xq"),
    )
    stats = exp.groupBy("dim").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("xq").cast("long").alias("sx"),
        F.sum(F.col("xq") * F.col("xq")).cast("long").alias("sxx"),
    )
    var_num = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    scaled = (
        exp.join(stats, "dim")
        .where(var_num > 0)
        .select(
            "dim",
            F.floor(
                (F.col("xq") * F.col("n") - F.col("sx"))
                / F.sqrt(
                    F.col("n").cast("double") * F.col("sxx")
                    - F.col("sx").cast("double") * F.col("sx")
                )
                * 1000.0
                + 0.5
            )
            .cast("long")
            .alias("wq"),
        )
    )
    wstats = scaled.groupBy("dim").agg(
        F.count(F.lit(1)).cast("long").alias("wn"),
        F.sum("wq").cast("long").alias("swx"),
        F.sum(F.col("wq") * F.col("wq")).cast("long").alias("swxx"),
    )
    vars_ = wstats.select(
        F.expr(
            "(wn * swxx - swx * swx) div (wn * wn)"
        ).alias("var_scaled")
    )
    return vars_.agg(
        F.count(F.lit(1)).cast("long").alias("n_dims"),
        F.min("var_scaled").cast("long").alias("min_var_scaled"),
        F.max("var_scaled").cast("long").alias("max_var_scaled"),
        F.expr(
            "max(var_scaled) * 100 div nullif(min(var_scaled), 0)"
        )
        .cast("long")
        .alias("max_over_min_x100"),
    )


@register(
    "embed_random_projection_jl",
    oracle_sql="""
        WITH exp AS (
            SELECT vec_id,
                   generate_subscripts(embedding, 1) - 1 AS i,
                   CAST(unnest(embedding) AS DOUBLE) AS x
            FROM embeddings WHERE vec_id < 40
        ), proj_basis AS (
            SELECT d.i, k.j,
                   2 * (CAST('0x' || substr(md5('jl:' || k.j || ':'
                        || d.i), 1, 15) AS BIGINT) % 2) - 1 AS sgn
            FROM generate_series(0, 63) AS d(i)
            CROSS JOIN generate_series(0, 15) AS k(j)
        ), projected AS (
            SELECT e.vec_id, b.j, sum(e.x * b.sgn) AS y
            FROM exp e JOIN proj_basis b ON e.i = b.i
            GROUP BY e.vec_id, b.j
        ), orig_norm AS (
            SELECT vec_id, sum(x * x) AS nsq FROM exp GROUP BY vec_id
        ), proj_norm AS (
            SELECT vec_id, sum(y * y) / 16.0 AS nsq
            FROM projected GROUP BY vec_id
        ), ratios AS (
            SELECT o.vec_id,
                   CAST(floor(p.nsq / o.nsq * 10000 + 0.5) AS BIGINT)
                       AS ratio_x10k
            FROM orig_norm o JOIN proj_norm p ON o.vec_id = p.vec_id
            WHERE o.nsq > 0
        )
        SELECT CAST(count(*) AS BIGINT) AS n_vectors,
               CAST(min(ratio_x10k) AS BIGINT) AS min_ratio_x10k,
               CAST(max(ratio_x10k) AS BIGINT) AS max_ratio_x10k,
               CAST(sum(ratio_x10k) // count(*) AS BIGINT)
                   AS mean_ratio_floor_x10k
        FROM ratios
    """,
    description="Johnson-Lindenstrauss random projection 64 -> 16 "
    "dims with the distortion AUDITED: the +/-1 projection matrix "
    "derives from the md5-arithmetic hash (the decorrelation lesson "
    "from the multitable-LSH fix, baked in from the start — a "
    "1024-entry broadcast basis, never per-row hashing), and each "
    "vector's norm ratio ||Px||^2/(k*||x||^2), quantized per vector "
    "at 1e-4, is summarized min/mean/max — the JL lemma says these "
    "concentrate near 1, and the measured spread IS the distortion "
    "budget a 4x-cheaper ANN tier inherits (the dimensionality "
    "companion to matryoshka truncation, which keeps PREFIX dims "
    "instead of mixing all). Restricted to 40 vectors for grading "
    "size; the projection itself is map-only at any scale.",
)
def embed_random_projection_jl(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from etl_intraday_bidask_spark.functions.vector import as_double

    exp = (
        load(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") < 40)
        .select(
            "vec_id",
            F.posexplode(as_double("embedding")).alias("i", "x"),
        )
    )
    dims = spark.range(64).select(F.col("id").cast("int").alias("i"))
    ks = spark.range(16).select(F.col("id").cast("int").alias("j"))
    basis = dims.crossJoin(ks).select(
        "i",
        "j",
        (
            2
            * (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat_ws(
                                ":",
                                F.lit("jl"),
                                F.col("j").cast("string"),
                                F.col("i").cast("string"),
                            )
                        ),
                        1,
                        15,
                    ),
                    16,
                    10,
                ).cast("long")
                % 2
            )
            - 1
        ).cast("double").alias("sgn"),
    )
    projected = (
        exp.join(F.broadcast(basis), "i")
        .groupBy("vec_id", "j")
        .agg(F.sum(F.col("x") * F.col("sgn")).alias("y"))
    )
    orig = exp.groupBy("vec_id").agg(
        F.sum(F.col("x") * F.col("x")).alias("nsq_o")
    )
    proj = projected.groupBy("vec_id").agg(
        (F.sum(F.col("y") * F.col("y")) / 16.0).alias("nsq_p")
    )
    ratios = (
        orig.join(proj, "vec_id")
        .where(F.col("nsq_o") > 0)
        .select(
            F.floor(
                F.col("nsq_p") / F.col("nsq_o") * 10000 + 0.5
            )
            .cast("long")
            .alias("ratio_x10k")
        )
    )
    return ratios.agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.min("ratio_x10k").cast("long").alias("min_ratio_x10k"),
        F.max("ratio_x10k").cast("long").alias("max_ratio_x10k"),
        F.expr("sum(ratio_x10k) div count(*)")
        .cast("long")
        .alias("mean_ratio_floor_x10k"),
    )


@register(
    "text_compression_ratio_proxy",
    oracle_sql="""
        WITH toks AS (
            SELECT doc_id, lang, string_split(text, ' ') AS t
            FROM documents
        ), per_doc AS (
            SELECT doc_id, lang,
                   CAST(len(t) AS BIGINT) AS n_tokens,
                   CAST(len(list_distinct(t)) AS BIGINT)
                       AS n_distinct
            FROM toks
        )
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
               CAST(sum(n_distinct) AS BIGINT) AS total_distinct,
               CAST(sum(n_distinct) * 10000
                    // nullif(sum(n_tokens), 0) AS BIGINT)
                   AS type_token_ratio_floor_bp,
               CAST(sum(CASE WHEN n_distinct * 2 < n_tokens
                        THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_highly_repetitive
        FROM per_doc GROUP BY lang ORDER BY lang
    """,
    description="Type-token compressibility proxy per language: the "
    "distinct/total token ratio in floor bp (a document whose TTR is "
    "low compresses well because it repeats itself — the cheap "
    "stand-in for a gzip-ratio quality signal, which needs no "
    "codec) plus the count of highly-repetitive documents "
    "(distinct*2 < total, an integer comparison) — the corpus-"
    "quality screen that catches boilerplate and template spam "
    "before the expensive dedup passes (complements "
    "text_repetition_dup_ngram, which looks INSIDE the window "
    "structure). Fully narrow: array ops per row, one reduce.",
)
def text_compression_ratio_proxy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    per_doc = load(spark, sf_dir, "documents").select(
        "lang",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(F.split("text", " ")))
        .cast("long")
        .alias("n_distinct"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.sum("n_distinct").cast("long").alias("total_distinct"),
            F.expr(
                "sum(n_distinct) * 10000 div nullif(sum(n_tokens), 0)"
            )
            .cast("long")
            .alias("type_token_ratio_floor_bp"),
            F.sum(
                F.when(
                    F.col("n_distinct") * 2 < F.col("n_tokens"), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_highly_repetitive"),
        )
        .orderBy("lang")
    )


@register(
    "multimodal_fixed_chunking",
    oracle_sql="""
        WITH blobs AS (
            SELECT doc_id,
                   CAST(octet_length(encode(text)) AS BIGINT)
                       AS n_bytes
            FROM documents
        ), chunked AS (
            SELECT doc_id, n_bytes,
                   CAST((n_bytes + 4095) // 4096 AS BIGINT)
                       AS n_chunks,
                   CAST(CASE WHEN n_bytes % 4096 = 0 AND n_bytes > 0
                        THEN 4096 ELSE n_bytes % 4096 END AS BIGINT)
                       AS last_chunk_bytes
            FROM blobs
        )
        SELECT CAST(count(*) AS BIGINT) AS n_blobs,
               CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
               CAST(sum(n_chunks) AS BIGINT) AS total_chunks,
               CAST(sum(n_chunks) * 4096 - sum(n_bytes) AS BIGINT)
                   AS padding_bytes,
               CAST(min(last_chunk_bytes) AS BIGINT)
                   AS min_last_chunk,
               CAST(max(n_chunks) AS BIGINT) AS max_chunks_per_blob
        FROM chunked
    """,
    description="Fixed-size (4 KB) blob chunking manifest: per "
    "payload, ceil-division chunk counts and the ragged last-chunk "
    "size — the content-upload plumbing every multimodal store "
    "needs (chunked transfer, resumable upload, per-chunk "
    "checksums), with the padding-waste census that motivates "
    "content-defined chunking as the next step. All integer "
    "ceil/mod arithmetic ((n + 4095) div 4096 — the idiom, no "
    "floats); only sizes flow, payload bytes never shuffle. Pairs "
    "with multimodal_shard_manifest (many docs -> one shard) as its "
    "inverse (one blob -> many chunks).",
)
def multimodal_fixed_chunking(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    blobs = load(spark, sf_dir, "documents").select(
        F.length(F.encode("text", "UTF-8")).cast("long").alias("n_bytes")
    )
    chunked = blobs.select(
        "n_bytes",
        F.expr("(n_bytes + 4095) div 4096").alias("n_chunks"),
        F.when(
            (F.col("n_bytes") % 4096 == 0) & (F.col("n_bytes") > 0),
            4096,
        )
        .otherwise(F.col("n_bytes") % 4096)
        .alias("last_chunk_bytes"),
    )
    return chunked.agg(
        F.count(F.lit(1)).cast("long").alias("n_blobs"),
        F.sum("n_bytes").cast("long").alias("total_bytes"),
        F.sum("n_chunks").cast("long").alias("total_chunks"),
        (F.sum("n_chunks") * 4096 - F.sum("n_bytes"))
        .cast("long")
        .alias("padding_bytes"),
        F.min("last_chunk_bytes").cast("long").alias("min_last_chunk"),
        F.max("n_chunks").cast("long").alias("max_chunks_per_blob"),
    )


@register(
    "ts_stl_anomaly_days",
    oracle_sql="""
        WITH daily AS (
            SELECT date_trunc('day', ts) AS d,
                   CAST(isodow(ts) AS BIGINT) AS dow,
                   CAST(count(*) AS BIGINT) AS y
            FROM events GROUP BY d, dow
        ), dow_means AS (
            SELECT dow, CAST(count(*) AS BIGINT) AS n_d,
                   CAST(sum(y) AS BIGINT) AS s_d
            FROM daily GROUP BY dow
        ), resid AS (
            SELECT d.d, d.y,
                   (d.y * m.n_d - m.s_d) AS r_scaled, m.n_d
            FROM daily d JOIN dow_means m ON d.dow = m.dow
        ), ranked AS (
            SELECT d, y, r_scaled, n_d,
                   row_number() OVER (
                       ORDER BY abs(CAST(r_scaled AS DOUBLE) / n_d)
                                DESC, d) AS rk
            FROM resid
        )
        SELECT CAST(epoch_us(d) AS BIGINT) AS day_us,
               y AS observed,
               CAST(r_scaled AS BIGINT) AS resid_scaled,
               CAST(n_d AS BIGINT) AS dow_n,
               CAST(rk AS BIGINT) AS rk
        FROM ranked WHERE rk <= 5 ORDER BY rk
    """,
    description="Top-5 anomalous days after weekday-seasonal "
    "adjustment: each day's volume residual vs its own weekday's "
    "mean, kept n-scaled (y*n_d - sum_d — no mean rational) and "
    "ranked by the magnitude of the SAME ratio computed identically "
    "on both engines (one division inside the sort key; the graded "
    "values are the exact scaled residuals, the rank is tie-broken "
    "on date) — the incident-review shortlist that raw-volume "
    "ranking gets wrong (every Sunday looks anomalous vs a weekday "
    "mean). Bounded daily rollup + 7-row broadcast.",
)
def ts_stl_anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        load(spark, sf_dir, "events")
        .groupBy(
            F.date_trunc("day", "ts").alias("d"),
            (F.weekday("ts") + 1).cast("long").alias("dow"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
    )
    dow_means = daily.groupBy("dow").agg(
        F.count(F.lit(1)).cast("long").alias("n_d"),
        F.sum("y").cast("long").alias("s_d"),
    )
    resid = daily.join(dow_means, "dow").select(
        "d",
        "y",
        (F.col("y") * F.col("n_d") - F.col("s_d")).alias("r_scaled"),
        "n_d",
    )
    ranked = resid.select(
        "*",
        F.row_number()
        .over(
            Window.orderBy(
                F.abs(
                    F.col("r_scaled").cast("double") / F.col("n_d")
                ).desc(),
                "d",
            )
        )
        .alias("rk"),
    ).where(F.col("rk") <= 5)
    return ranked.select(
        F.unix_micros("d").alias("day_us"),
        F.col("y").alias("observed"),
        F.col("r_scaled").cast("long").alias("resid_scaled"),
        F.col("n_d").cast("long").alias("dow_n"),
        F.col("rk").cast("long").alias("rk"),
    ).orderBy("rk")


@register(
    "orders_basket_size_profile",
    oracle_sql="""
        WITH baskets AS (
            SELECT l_orderkey,
                   CAST(count(*) AS BIGINT) AS n_lines,
                   CAST(sum(CAST(round(l_extendedprice * 100)
                                 AS BIGINT)) AS BIGINT) AS cents
            FROM lineitem GROUP BY l_orderkey
        )
        SELECT CAST(least(n_lines, 7) AS BIGINT) AS basket_size_bucket,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(cents) AS BIGINT) AS total_cents,
               CAST(sum(cents) // count(*) AS BIGINT)
                   AS avg_order_cents_floor,
               CAST(sum(cents) // sum(n_lines) AS BIGINT)
                   AS avg_line_cents_floor
        FROM baskets GROUP BY basket_size_bucket
        ORDER BY basket_size_bucket
    """,
    description="Basket-size profile: orders bucketed by line count "
    "(capped 7+), each bucket's order count, exact value, and the "
    "two per-unit reads (per order / per line, integral floors) — "
    "the merchandising curve that prices free-shipping thresholds "
    "and bundles (does value scale with basket size or do big "
    "baskets trade down per line?). One orderkey reduce + bounded "
    "histogram.",
)
def orders_basket_size_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    baskets = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum(scaled_long("l_extendedprice", 100))
            .cast("long")
            .alias("cents"),
        )
    )
    return (
        baskets.groupBy(
            F.least(F.col("n_lines"), F.lit(7))
            .cast("long")
            .alias("basket_size_bucket")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("total_cents"),
            F.expr("sum(cents) div count(*)")
            .cast("long")
            .alias("avg_order_cents_floor"),
            F.expr("sum(cents) div sum(n_lines)")
            .cast("long")
            .alias("avg_line_cents_floor"),
        )
        .orderBy("basket_size_bucket")
    )


@register(
    "orders_customer_hhi_by_nation",
    oracle_sql="""
        WITH rev AS (
            SELECT c.c_nationkey, o.o_custkey,
                   CAST(sum(CAST(round(o.o_totalprice * 100)
                                 AS BIGINT)) AS BIGINT) AS cents
            FROM orders o JOIN customer c
              ON o.o_custkey = c.c_custkey
            GROUP BY c.c_nationkey, o.o_custkey
        ), totals AS (
            SELECT c_nationkey, CAST(sum(cents) AS BIGINT) AS tot
            FROM rev GROUP BY c_nationkey
        ), shares AS (
            SELECT r.c_nationkey,
                   r.cents * 1000000 // t.tot AS share_ppm
            FROM rev r JOIN totals t ON r.c_nationkey = t.c_nationkey
        )
        SELECT c_nationkey,
               CAST(count(*) AS BIGINT) AS n_customers,
               CAST(sum(share_ppm * share_ppm) // 1000000 AS BIGINT)
                   AS hhi_ppm
        FROM shares GROUP BY c_nationkey ORDER BY c_nationkey
    """,
    description="Herfindahl-Hirschman revenue concentration per "
    "nation: customer shares floor onto the ppm grid, HHI = sum of "
    "squared shares integrally de-scaled — the antitrust-style "
    "concentration scalar that complements the Gini/Pareto pair "
    "(HHI weights the TOP of the distribution hardest: one dominant "
    "customer moves HHI far more than Gini). 10000 ppm = "
    "monopoly-customer nation; below ~150 ppm is diffuse. Two keyed "
    "reduces + a broadcast totals join.",
)
def orders_customer_hhi_by_nation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load(spark, sf_dir, "orders").select(
        "o_custkey", scaled_long("o_totalprice", 100).alias("cents")
    )
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    rev = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_nationkey", "o_custkey")
        .agg(F.sum("cents").cast("long").alias("cents"))
    )
    totals = rev.groupBy("c_nationkey").agg(
        F.sum("cents").cast("long").alias("tot")
    )
    shares = rev.join(totals, "c_nationkey").select(
        "c_nationkey",
        F.expr("cents * 1000000 div tot").alias("share_ppm"),
    )
    return (
        shares.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.expr("sum(share_ppm * share_ppm) div 1000000")
            .cast("long")
            .alias("hhi_ppm"),
        )
        .orderBy("c_nationkey")
    )


@register(
    "events_funnel_by_dow",
    oracle_sql="""
        WITH reach AS (
            SELECT user_id, isodow(ts) AS dow,
                   CAST(max(CASE WHEN event_type = 'view'
                            THEN 1 ELSE 0 END) AS BIGINT) AS s_view,
                   CAST(max(CASE WHEN event_type = 'click'
                            THEN 1 ELSE 0 END) AS BIGINT) AS s_click,
                   CAST(max(CASE WHEN event_type = 'purchase'
                            THEN 1 ELSE 0 END) AS BIGINT) AS s_buy
            FROM events GROUP BY user_id, dow
        )
        SELECT CAST(dow AS BIGINT) AS dow,
               CAST(sum(s_view) AS BIGINT) AS n_view,
               CAST(sum(s_view * s_click) AS BIGINT) AS n_view_click,
               CAST(sum(s_view * s_click * s_buy) AS BIGINT)
                   AS n_full_funnel,
               CAST(sum(s_view * s_click) * 10000
                    // nullif(sum(s_view), 0) AS BIGINT)
                   AS click_through_floor_bp,
               CAST(sum(s_view * s_click * s_buy) * 10000
                    // nullif(sum(s_view * s_click), 0) AS BIGINT)
                   AS buy_through_floor_bp
        FROM reach GROUP BY dow ORDER BY dow
    """,
    description="Funnel completion by weekday: per (user, weekday), "
    "step-reach flags multiply into strict funnel membership "
    "(view -> view+click -> view+click+buy — set intersection as "
    "integer products), and the two step-through rates floor onto "
    "the bp grid per weekday — the funnel x seasonality interaction "
    "(funnel_conversion grades the global funnel; a weekday whose "
    "click-through holds but buy-through collapses localizes the "
    "leak to checkout, on that day). One (user, dow) reduce; "
    "nullif-guarded.",
)
def events_funnel_by_dow(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    reach = (
        load(spark, sf_dir, "events")
        .groupBy(
            "user_id", (F.weekday("ts") + 1).cast("long").alias("dow")
        )
        .agg(
            F.max(
                F.when(F.col("event_type") == "view", 1).otherwise(0)
            )
            .cast("long")
            .alias("s_view"),
            F.max(
                F.when(F.col("event_type") == "click", 1).otherwise(0)
            )
            .cast("long")
            .alias("s_click"),
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            .cast("long")
            .alias("s_buy"),
        )
    )
    return (
        reach.groupBy("dow")
        .agg(
            F.sum("s_view").cast("long").alias("n_view"),
            F.sum(F.col("s_view") * F.col("s_click"))
            .cast("long")
            .alias("n_view_click"),
            F.sum(F.col("s_view") * F.col("s_click") * F.col("s_buy"))
            .cast("long")
            .alias("n_full_funnel"),
            F.expr(
                "sum(s_view * s_click) * 10000 "
                "div nullif(sum(s_view), 0)"
            )
            .cast("long")
            .alias("click_through_floor_bp"),
            F.expr(
                "sum(s_view * s_click * s_buy) * 10000 "
                "div nullif(sum(s_view * s_click), 0)"
            )
            .cast("long")
            .alias("buy_through_floor_bp"),
        )
        .orderBy("dow")
    )


@register(
    "dq_price_consistency_audit",
    oracle_sql="""
        WITH joined AS (
            SELECT l.l_orderkey, l.l_linenumber,
                   CAST(round(l.l_extendedprice * 100) AS BIGINT)
                       AS ext_cents,
                   CAST(round(l.l_quantity) AS BIGINT) AS qty,
                   CAST(round(p.p_retailprice * 100) AS BIGINT)
                       AS retail_cents
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        ), scored AS (
            SELECT ext_cents, qty, retail_cents,
                   abs(ext_cents - qty * retail_cents) AS dev_cents,
                   CASE WHEN abs(ext_cents - qty * retail_cents) * 10
                             > qty * retail_cents THEN 1 ELSE 0 END
                       AS beyond_10pct
            FROM joined WHERE qty > 0 AND retail_cents > 0
        )
        SELECT CAST(count(*) AS BIGINT) AS n_lines,
               CAST(sum(CASE WHEN dev_cents = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_exact_match,
               CAST(sum(beyond_10pct) AS BIGINT) AS n_beyond_10pct,
               CAST(max(dev_cents) AS BIGINT) AS max_dev_cents,
               CAST(sum(beyond_10pct) * 10000 // count(*) AS BIGINT)
                   AS beyond_10pct_floor_bp
        FROM scored
    """,
    description="Cross-field price-consistency audit: each line's "
    "extended price vs quantity x the part's retail price, with the "
    "10% tolerance evaluated as the integer cross-multiplication "
    "dev*10 > qty*retail (no percentage float) — the referential "
    "VALUE check (FK audits prove the key exists; this proves the "
    "numbers agree across tables, the class of corruption a partial "
    "dim reload causes). The violation rate is the graded gate; the "
    "max deviation sizes the blast radius. Broadcast part dim; one "
    "reduce.",
)
def dq_price_consistency_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey",
        scaled_long("l_extendedprice", 100).alias("ext_cents"),
        scaled_long("l_quantity", 1).alias("qty"),
    )
    part = load(spark, sf_dir, "part").select(
        "p_partkey", scaled_long("p_retailprice", 100).alias("retail_cents")
    )
    scored = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .where((F.col("qty") > 0) & (F.col("retail_cents") > 0))
        .select(
            F.abs(
                F.col("ext_cents") - F.col("qty") * F.col("retail_cents")
            ).alias("dev_cents"),
            F.when(
                F.abs(
                    F.col("ext_cents")
                    - F.col("qty") * F.col("retail_cents")
                )
                * 10
                > F.col("qty") * F.col("retail_cents"),
                1,
            )
            .otherwise(0)
            .alias("beyond_10pct"),
        )
    )
    return scored.agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(F.when(F.col("dev_cents") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_exact_match"),
        F.sum("beyond_10pct").cast("long").alias("n_beyond_10pct"),
        F.max("dev_cents").cast("long").alias("max_dev_cents"),
        F.expr("sum(beyond_10pct) * 10000 div count(*)")
        .cast("long")
        .alias("beyond_10pct_floor_bp"),
    )


@register(
    "sql_null_handling_census",
    oracle_sql="""
        WITH src AS (
            SELECT json_extract_string(props, '$.k') AS k_str,
                   CAST(json_extract_string(props, '$.k') AS INT) AS k
            FROM events
        )
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(k) AS BIGINT) AS count_nonnull,
               CAST(count(*) - count(k) AS BIGINT) AS count_null,
               CAST(count(DISTINCT k) AS BIGINT)
                   AS distinct_excl_null,
               CAST(sum(k) AS BIGINT) AS sum_ignoring_null,
               CAST(min(k) AS BIGINT) AS min_ignoring_null,
               CAST(sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS null_flag_sum,
               CAST(coalesce(sum(CASE WHEN k IS NULL THEN NULL
                             ELSE k END), -1) AS BIGINT)
                   AS sum_with_case_null
        FROM src
    """,
    description="NULL-semantics census over the sparse JSON field: "
    "count(*) vs count(col), DISTINCT excluding NULLs, aggregate "
    "NULL-skipping, and the CASE-NULL passthrough — the exact ANSI "
    "behaviors every SQL engine must share and every migration "
    "silently breaks somewhere (a COUNT(col) -> COUNT(*) 'cleanup' "
    "changes numbers only where NULLs live, which is why this op "
    "grades them ALL against the oracle in one row). Also the "
    "graded proof that filter_null_semantics' three-valued logic "
    "extends to the aggregate layer. One scan, one reduce.",
)
def sql_null_handling_census(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    src = load(spark, sf_dir, "events").select(
        F.get_json_object("props", "$.k").cast("int").alias("k")
    )
    return src.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.count("k").cast("long").alias("count_nonnull"),
        (F.count(F.lit(1)) - F.count("k"))
        .cast("long")
        .alias("count_null"),
        F.countDistinct("k").cast("long").alias("distinct_excl_null"),
        F.sum("k").cast("long").alias("sum_ignoring_null"),
        F.min("k").cast("long").alias("min_ignoring_null"),
        F.sum(F.when(F.col("k").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("null_flag_sum"),
        F.coalesce(
            F.sum(F.when(F.col("k").isNull(), F.lit(None)).otherwise(F.col("k"))),
            F.lit(-1),
        )
        .cast("long")
        .alias("sum_with_case_null"),
    )


@register(
    "sql_calendar_edge_cases",
    oracle_sql="""
        WITH bases(tag, d) AS (VALUES
            ('leap_feb', TIMESTAMP '2024-01-31'),
            ('nonleap_feb', TIMESTAMP '2023-01-31'),
            ('month_end_30', TIMESTAMP '2024-03-31'),
            ('year_end', TIMESTAMP '2024-12-31'),
            ('leap_day', TIMESTAMP '2024-02-29'))
        SELECT tag,
               CAST(epoch_us(d + INTERVAL 1 MONTH) AS BIGINT)
                   AS plus_1_month_us,
               CAST(epoch_us(d + INTERVAL 1 YEAR) AS BIGINT)
                   AS plus_1_year_us,
               CAST(datediff('day', d, d + INTERVAL 1 MONTH)
                    AS BIGINT) AS days_in_step,
               CAST(day(d + INTERVAL 1 MONTH) AS BIGINT)
                   AS day_after_step
        FROM bases ORDER BY tag
    """,
    description="Calendar-arithmetic edge-case matrix: Jan 31 + 1 "
    "month (clamps to Feb 29/28 by leap status), Mar 31 + 1 month "
    "(Apr 30), Dec 31 + 1 year, Feb 29 + 1 year (clamps to Feb 28) "
    "— the five cases where naive day arithmetic and calendar "
    "arithmetic diverge, graded as exact epoch values so BOTH "
    "engines' clamping conventions are proven identical (a billing "
    "job that adds months hits all of these within a year; an "
    "engine-migration bug here mis-dates invoices silently). "
    "5-row VALUES dim, pure expression evaluation.",
)
def sql_calendar_edge_cases(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    bases = spark.createDataFrame(
        [
            ("leap_feb", "2024-01-31"),
            ("nonleap_feb", "2023-01-31"),
            ("month_end_30", "2024-03-31"),
            ("year_end", "2024-12-31"),
            ("leap_day", "2024-02-29"),
        ],
        ["tag", "ds"],
    ).select("tag", F.col("ds").cast("timestamp").alias("d"))
    plus_m = F.add_months(F.col("d"), 1).cast("timestamp")
    plus_y = F.add_months(F.col("d"), 12).cast("timestamp")
    return bases.select(
        "tag",
        F.unix_micros(plus_m).alias("plus_1_month_us"),
        F.unix_micros(plus_y).alias("plus_1_year_us"),
        F.datediff(plus_m, F.col("d")).cast("long").alias("days_in_step"),
        F.dayofmonth(plus_m).cast("long").alias("day_after_step"),
    ).orderBy("tag")


@register(
    "orders_cohort_ltv_curve",
    oracle_sql="""
        WITH cohort AS (
            SELECT o_custkey,
                   min(date_trunc('year', o_orderdate)) AS cy
            FROM orders GROUP BY o_custkey
        ), rev AS (
            SELECT c.cy,
                   CAST(datediff('day', c.cy, o.o_orderdate) // 365
                        AS BIGINT) AS age_years,
                   CAST(round(o.o_totalprice * 100) AS BIGINT)
                       AS cents
            FROM orders o JOIN cohort c ON o.o_custkey = c.o_custkey
        ), sizes AS (
            SELECT cy, CAST(count(*) AS BIGINT) AS n_customers
            FROM cohort GROUP BY cy
        ), cells AS (
            SELECT r.cy, r.age_years,
                   CAST(sum(r.cents) AS BIGINT) AS cents
            FROM rev r GROUP BY r.cy, r.age_years
        )
        SELECT CAST(epoch_us(c.cy) AS BIGINT) AS cohort_year_us,
               c.age_years,
               s.n_customers,
               c.cents AS period_cents,
               CAST(sum(c.cents) OVER (PARTITION BY c.cy
                    ORDER BY c.age_years) AS BIGINT)
                   AS cumulative_cents,
               CAST(sum(c.cents) OVER (PARTITION BY c.cy
                    ORDER BY c.age_years) // s.n_customers AS BIGINT)
                   AS ltv_per_customer_floor_cents
        FROM cells c JOIN sizes s ON c.cy = s.cy
        ORDER BY cohort_year_us, age_years
    """,
    description="Cohort LTV curve: customers grouped by first-order "
    "year, revenue accumulated by cohort age (years since "
    "acquisition, integer division of day offsets), and the running "
    "per-customer lifetime value as an integral floor — the "
    "payback-period table that prices acquisition spend "
    "(orders_cohort_retention counts WHO remains; this accumulates "
    "what they're WORTH). Cumulative window over the bounded "
    "(cohort, age) grid; one custkey shuffle for the cohort join.",
)
def orders_cohort_ltv_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderdate",
        scaled_long("o_totalprice", 100).alias("cents"),
    )
    cohort = orders.groupBy("o_custkey").agg(
        F.min(F.date_trunc("year", "o_orderdate")).alias("cy")
    )
    rev = orders.join(cohort, "o_custkey").select(
        "cy",
        F.expr(
            "cast(datediff(o_orderdate, cy) div 365 as bigint)"
        ).alias("age_years"),
        "cents",
    )
    sizes = cohort.groupBy("cy").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers")
    )
    cells = rev.groupBy("cy", "age_years").agg(
        F.sum("cents").cast("long").alias("period_cents")
    )
    w = (
        Window.partitionBy("cy")
        .orderBy("age_years")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        cells.join(sizes, "cy")
        .select(
            F.unix_micros("cy").alias("cohort_year_us"),
            "age_years",
            "n_customers",
            "period_cents",
            F.sum("period_cents").over(w).cast("long").alias(
                "cumulative_cents"
            ),
            F.expr(
                "sum(period_cents) over (partition by cy "
                "order by age_years rows between unbounded preceding "
                "and current row) div n_customers"
            )
            .cast("long")
            .alias("ltv_per_customer_floor_cents"),
        )
        .orderBy("cohort_year_us", "age_years")
    )


@register(
    "eval_precision_at_k_curve",
    oracle_sql="""
        WITH scored AS (
            SELECT user_id, event_id,
                   CAST(round(value * 100) AS BIGINT) AS s,
                   CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                       AS y
            FROM events WHERE event_type IN ('purchase', 'view')
        ), ranked AS (
            SELECT user_id, y,
                   row_number() OVER (
                       PARTITION BY user_id ORDER BY s DESC, event_id
                   ) AS rk
            FROM scored
        ), ks(k) AS (VALUES (1), (3), (5), (10)),
        cells AS (
            SELECT kk.k,
                   CAST(sum(CASE WHEN r.rk <= kk.k THEN r.y ELSE 0
                        END) AS BIGINT) AS hits,
                   CAST(sum(CASE WHEN r.rk <= kk.k THEN 1 ELSE 0
                        END) AS BIGINT) AS slots
            FROM ranked r, ks kk
            GROUP BY kk.k
        )
        SELECT CAST(k AS BIGINT) AS k, hits, slots,
               CAST(hits * 10000 // nullif(slots, 0) AS BIGINT)
                   AS precision_floor_bp
        FROM cells ORDER BY k
    """,
    description="Micro-averaged precision@k curve (k = 1/3/5/10) over "
    "per-user score rankings, all four cutoffs from ONE rank window "
    "+ one conditional aggregate against a broadcast k dim — the "
    "slot-efficiency companion to eval_recall_at_k (recall asks how "
    "much relevance we captured; precision asks how much of what we "
    "SHOWED was relevant — the UX cost of a bad ranker). Slots "
    "count actual rows (users with fewer than k events contribute "
    "fewer slots — the honest micro convention). Integral bp, "
    "nullif-guarded.",
)
def eval_precision_at_k_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    scored = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type").isin("purchase", "view"))
        .select(
            "user_id",
            "event_id",
            scaled_long("value", 100).alias("s"),
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .alias("y"),
        )
    )
    ranked = scored.select(
        "y",
        F.row_number()
        .over(
            Window.partitionBy("user_id").orderBy(
                F.col("s").desc(), "event_id"
            )
        )
        .alias("rk"),
    )
    ks = spark.createDataFrame([(1,), (3,), (5,), (10,)], ["k"])
    cells = (
        ranked.crossJoin(F.broadcast(ks))
        .groupBy("k")
        .agg(
            F.sum(
                F.when(F.col("rk") <= F.col("k"), F.col("y")).otherwise(0)
            )
            .cast("long")
            .alias("hits"),
            F.sum(
                F.when(F.col("rk") <= F.col("k"), 1).otherwise(0)
            )
            .cast("long")
            .alias("slots"),
        )
    )
    return cells.select(
        F.col("k").cast("long").alias("k"),
        "hits",
        "slots",
        F.expr("hits * 10000 div nullif(slots, 0)")
        .cast("long")
        .alias("precision_floor_bp"),
    ).orderBy("k")


@register(
    "eval_score_histogram_by_class",
    oracle_sql="""
        WITH scored AS (
            SELECT least(CAST(round(value * 100) AS BIGINT) // 2500,
                         11) AS bin,
                   CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                       AS y
            FROM events WHERE event_type IN ('purchase', 'view')
        )
        SELECT CAST(bin AS BIGINT) AS score_bin,
               CAST(sum(y) AS BIGINT) AS n_pos,
               CAST(count(*) - sum(y) AS BIGINT) AS n_neg,
               CAST(sum(y) * 10000 // count(*) AS BIGINT)
                   AS pos_share_floor_bp
        FROM scored GROUP BY bin ORDER BY score_bin
    """,
    description="Class-conditional score histograms ($25 bins, capped "
    "11+): the positive and negative score distributions side by "
    "side with the per-bin positive share — the picture BEHIND "
    "every threshold metric in the eval family (KS is the max CDF "
    "gap of exactly these two histograms; calibration is their "
    "ratio; a bimodal negative histogram explains a precision "
    "cliff no scalar metric can). One map-combined reduce, all "
    "integral.",
)
def eval_score_histogram_by_class(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # Bin on the parity helper's cents, not an inline copy of its
    # formula — the house rounding form has changed twice and a repo
    # sweep must not miss this site. The div stays integral.
    scored = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type").isin("purchase", "view"))
        .select(
            scaled_long("value", 100).alias("cents"),
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .alias("y"),
        )
        .select(
            F.least(F.expr("cents div 2500").cast("long"), F.lit(11))
            .alias("bin"),
            "y",
        )
    )
    return (
        scored.groupBy(F.col("bin").cast("long").alias("score_bin"))
        .agg(
            F.sum("y").cast("long").alias("n_pos"),
            (F.count(F.lit(1)) - F.sum("y")).cast("long").alias("n_neg"),
            F.expr("sum(y) * 10000 div count(*)")
            .cast("long")
            .alias("pos_share_floor_bp"),
        )
        .orderBy("score_bin")
    )


@register(
    "geo_distance_decay_demand",
    oracle_sql="""
        WITH pts AS (
            SELECT c_custkey,
                   ((c_custkey * 48271) % 2147483647 % 1400000)
                       / 10000.0 - 70.0 AS lat,
                   ((c_custkey * 69621) % 2147483647 % 3600000)
                       / 10000.0 - 180.0 AS lon
            FROM customer
        ), hubs(hub, hlat, hlon) AS (VALUES
            ('nyc', 40.7128, -74.0060), ('lon', 51.5074, -0.1278),
            ('sgp', 1.3521, 103.8198), ('syd', -33.8688, 151.2093),
            ('gru', -23.5558, -46.6396)),
        nearest AS (
            SELECT c_custkey, dist_dkm FROM (
                SELECT p.c_custkey,
                       CAST(floor(12742.0 * asin(sqrt(
                           pow(sin(radians(h.hlat - p.lat) / 2), 2)
                           + cos(radians(p.lat))
                             * cos(radians(h.hlat))
                             * pow(sin(radians(h.hlon - p.lon) / 2),
                                   2))) * 10.0 + 0.5) AS BIGINT)
                           AS dist_dkm,
                       row_number() OVER (PARTITION BY p.c_custkey
                           ORDER BY CAST(floor(12742.0 * asin(sqrt(
                           pow(sin(radians(h.hlat - p.lat) / 2), 2)
                           + cos(radians(p.lat))
                             * cos(radians(h.hlat))
                             * pow(sin(radians(h.hlon - p.lon) / 2),
                                   2))) * 10.0 + 0.5) AS BIGINT),
                           h.hub) AS rk
                FROM pts p CROSS JOIN hubs h
            ) WHERE rk = 1
        ), demand AS (
            SELECT n.dist_dkm // 20000 AS dist_band_2000km,
                   CAST(round(o.o_totalprice * 100) AS BIGINT)
                       AS cents
            FROM orders o JOIN nearest n
              ON o.o_custkey = n.c_custkey
        )
        SELECT CAST(dist_band_2000km AS BIGINT) AS dist_band_2000km,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(cents) AS BIGINT) AS total_cents,
               CAST(sum(cents) // count(*) AS BIGINT)
                   AS avg_order_cents_floor
        FROM demand GROUP BY dist_band_2000km
        ORDER BY dist_band_2000km
    """,
    description="Distance-decay demand curve: order volume and value "
    "banded by the customer's distance to their nearest hub (the "
    "geo_haversine_nearest_hub assignment reused, 2000 km bands) — "
    "the gravity-model read behind warehouse placement (if demand "
    "does NOT decay with distance, the hub set is wrong or shipping "
    "is under-priced). Quantized-deci-km distances keep the band "
    "edges integral; the demand join shuffles on the natural "
    "custkey. Geo dim broadcast; two reduces.",
)
def geo_distance_decay_demand(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    pts = load(spark, sf_dir, "customer").select(
        "c_custkey",
        (
            ((F.col("c_custkey") * 48271) % 2147483647 % 1400000)
            / 10000.0
            - 70.0
        ).alias("lat"),
        (
            ((F.col("c_custkey") * 69621) % 2147483647 % 3600000)
            / 10000.0
            - 180.0
        ).alias("lon"),
    )
    hubs = spark.createDataFrame(
        [
            ("nyc", 40.7128, -74.0060),
            ("lon", 51.5074, -0.1278),
            ("sgp", 1.3521, 103.8198),
            ("syd", -33.8688, 151.2093),
            ("gru", -23.5558, -46.6396),
        ],
        ["hub", "hlat", "hlon"],
    )
    dlat = F.radians(F.col("hlat") - F.col("lat")) / 2
    dlon = F.radians(F.col("hlon") - F.col("lon")) / 2
    hav = (
        F.pow(F.sin(dlat), 2)
        + F.cos(F.radians("lat"))
        * F.cos(F.radians("hlat"))
        * F.pow(F.sin(dlon), 2)
    )
    dist = F.floor(12742.0 * F.asin(F.sqrt(hav)) * 10.0 + 0.5).cast(
        "long"
    )
    nearest = (
        pts.crossJoin(F.broadcast(hubs))
        .select(
            "c_custkey",
            dist.alias("dist_dkm"),
            F.row_number()
            .over(
                Window.partitionBy("c_custkey").orderBy(
                    dist, F.col("hub")
                )
            )
            .alias("rk"),
        )
        .where(F.col("rk") == 1)
    )
    orders = load(spark, sf_dir, "orders").select(
        "o_custkey", scaled_long("o_totalprice", 100).alias("cents")
    )
    demand = orders.join(
        nearest, orders.o_custkey == nearest.c_custkey
    ).select(
        F.expr("dist_dkm div 20000").alias("dist_band_2000km"), "cents"
    )
    return (
        demand.groupBy(
            F.col("dist_band_2000km")
            .cast("long")
            .alias("dist_band_2000km")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("total_cents"),
            F.expr("sum(cents) div count(*)")
            .cast("long")
            .alias("avg_order_cents_floor"),
        )
        .orderBy("dist_band_2000km")
    )


@register(
    "graph_edge_weight_distribution",
    oracle_sql="""
        WITH pair_counts AS (
            SELECT a.user_id AS u, b.user_id AS v,
                   CAST(count(DISTINCT a.h) AS BIGINT) AS w
            FROM (SELECT DISTINCT date_trunc('hour', ts) AS h, user_id
                  FROM events WHERE event_type = 'purchase') a
            JOIN (SELECT DISTINCT date_trunc('hour', ts) AS h, user_id
                  FROM events WHERE event_type = 'purchase') b
              ON a.h = b.h AND a.user_id < b.user_id
            GROUP BY a.user_id, b.user_id
        )
        SELECT CAST(least(w, 5) AS BIGINT) AS weight_bucket,
               CAST(count(*) AS BIGINT) AS n_edges,
               CAST(sum(w) AS BIGINT) AS total_cooccurrences
        FROM pair_counts GROUP BY weight_bucket
        ORDER BY weight_bucket
    """,
    description="Co-purchase edge-weight distribution: how many "
    "DISTINCT hours each user pair co-purchased in (the edge weight "
    "the unweighted graph family — triangles, k-core, components — "
    "throws away), histogrammed (capped 5+) — weight-1 edges are "
    "coincidence, repeated co-occurrence is signal, and the "
    "weight threshold that separates them is read off exactly this "
    "table before any weighted-graph algorithm runs. Same "
    "hour-blocked join bound as the rest of the graph family.",
)
def graph_edge_weight_distribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    buckets = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select(F.date_trunc("hour", "ts").alias("h"), "user_id")
        .distinct()
    )
    a, b = buckets.alias("a"), buckets.alias("b")
    pair_counts = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.user_id") < F.col("b.user_id")),
        )
        .groupBy(
            F.col("a.user_id").alias("u"), F.col("b.user_id").alias("v")
        )
        .agg(F.countDistinct("a.h").cast("long").alias("w"))
    )
    return (
        pair_counts.groupBy(
            F.least(F.col("w"), F.lit(5))
            .cast("long")
            .alias("weight_bucket")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_edges"),
            F.sum("w").cast("long").alias("total_cooccurrences"),
        )
        .orderBy("weight_bucket")
    )


@register(
    "events_activity_powerlaw_fit",
    oracle_sql="""
        WITH activity AS (
            SELECT user_id, CAST(count(*) AS BIGINT) AS c
            FROM events GROUP BY user_id
        ), ranked AS (
            SELECT c,
                   row_number() OVER (ORDER BY c DESC, user_id) AS rk
            FROM activity
        ), pts AS (
            SELECT CAST(floor(ln(CAST(rk AS DOUBLE)) * 10000 + 0.5)
                        AS BIGINT) AS x,
                   CAST(floor(ln(CAST(c AS DOUBLE)) * 10000 + 0.5)
                        AS BIGINT) AS y
            FROM ranked
        ), m AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(x) AS BIGINT) AS sx,
                   CAST(sum(y) AS BIGINT) AS sy,
                   CAST(sum(x * y) AS BIGINT) AS sxy,
                   CAST(sum(x * x) AS BIGINT) AS sxx
            FROM pts
        )
        SELECT n AS n_users,
               CASE WHEN n * sxx - sx * sx > 0 THEN
                   (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                   / (CAST(n AS DOUBLE) * sxx
                      - CAST(sx AS DOUBLE) * sx)
               END AS powerlaw_slope,
               CAST(sxx AS BIGINT) AS sxx_scaled
        FROM m
    """,
    description="Power-law fit of user activity: OLS slope of "
    "ln(events) on ln(rank) over the activity-ranked users — "
    "text_zipf_fit's machinery pointed at BEHAVIOR instead of "
    "vocabulary (a slope near -1 means a heavy-tailed power-user "
    "distribution; flat means uniform engagement, which for an "
    "organic product usually means bots — cf. "
    "dq_bot_regularity_detect). Same quantize-ln-then-exact-power-"
    "sums discipline; rank ties broken on user_id. One reduce + "
    "bounded window.",
)
def events_activity_powerlaw_fit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    activity = (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    ranked = activity.select(
        "c",
        F.row_number()
        .over(Window.orderBy(F.col("c").desc(), "user_id"))
        .alias("rk"),
    )
    pts = ranked.select(
        F.floor(F.log(F.col("rk").cast("double")) * 10000 + 0.5)
        .cast("long")
        .alias("x"),
        F.floor(F.log(F.col("c").cast("double")) * 10000 + 0.5)
        .cast("long")
        .alias("y"),
    )
    m = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return m.select(
        F.col("n").alias("n_users"),
        F.when(
            den > 0,
            (
                F.col("n").cast("double") * F.col("sxy")
                - F.col("sx").cast("double") * F.col("sy")
            )
            / den.cast("double"),
        ).alias("powerlaw_slope"),
        F.col("sxx").cast("long").alias("sxx_scaled"),
    )


@register(
    "corpus_quality_length_matrix",
    oracle_sql="""
        WITH flagged AS (
            SELECT least(n_chars // 256, 3) AS len_bucket,
                   CASE WHEN len(string_split(text, ' ')) >= 10
                        AND n_chars >= 64 THEN 'pass'
                        ELSE 'fail' END AS verdict,
                   lang
            FROM documents
        )
        SELECT CAST(len_bucket AS BIGINT) AS len_bucket, verdict,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
        FROM flagged GROUP BY len_bucket, verdict
        ORDER BY len_bucket, verdict
    """,
    description="Quality-verdict x length-bucket contingency: the "
    "minimum-token/minimum-char gate cross-tabulated against 256-"
    "char length bands — the interaction view that catches a "
    "quality filter that is secretly just a length filter (if "
    "'fail' lives entirely in bucket 0, the quality rule adds "
    "nothing over a length cut, and the cheaper cut should run "
    "first in the pipeline; corpus_quality_composite_filter orders "
    "its rules on exactly this evidence). One narrow pass + "
    "bounded census.",
)
def corpus_quality_length_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    flagged = load(spark, sf_dir, "documents").select(
        F.least(F.expr("n_chars div 256").cast("long"), F.lit(3)).alias(
            "len_bucket"
        ),
        F.when(
            (F.size(F.split("text", " ")) >= 10)
            & (F.col("n_chars") >= 64),
            "pass",
        )
        .otherwise("fail")
        .alias("verdict"),
        "lang",
    )
    return (
        flagged.groupBy("len_bucket", "verdict")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("lang").cast("long").alias("n_langs"),
        )
        .orderBy("len_bucket", "verdict")
    )


@register(
    "part_brand_price_dispersion",
    oracle_sql="""
        WITH prices AS (
            SELECT p_brand,
                   CAST(round(p_retailprice * 100) AS BIGINT) AS cents
            FROM part
        ), m AS (
            SELECT p_brand,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(cents) AS BIGINT) AS s1,
                   CAST(sum(cents * cents) AS BIGINT) AS s2,
                   CAST(min(cents) AS BIGINT) AS min_cents,
                   CAST(max(cents) AS BIGINT) AS max_cents
            FROM prices GROUP BY p_brand HAVING count(*) >= 2
        )
        SELECT p_brand, n AS n_parts, min_cents, max_cents,
               CAST(n * s2 - s1 * s1 AS BIGINT) AS var_num_scaled,
               CAST(CASE WHEN 4 * n * (n * s2 - s1 * s1) > s1 * s1
                    THEN 1 ELSE 0 END AS BIGINT) AS high_dispersion
        FROM m ORDER BY p_brand
    """,
    description="Brand price-dispersion audit: per-brand exact "
    "variance numerator n*S2 - S1^2 plus the high-dispersion flag "
    "CV > 1/2 evaluated as the pure integer inequality 4n(nS2 - "
    "S1^2) > S1^2 (the wave-C CV-threshold rearrangement, reused) — "
    "pricing-governance: a brand whose price dispersion explodes "
    "is either mis-mastered (same product, different records) or "
    "price-discriminating, and both need a human. Singleton brands "
    "excluded. One reduce.",
)
def part_brand_price_dispersion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    prices = load(spark, sf_dir, "part").select(
        "p_brand", scaled_long("p_retailprice", 100).alias("cents")
    )
    m = (
        prices.groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("cents").cast("long").alias("s1"),
            F.sum(F.col("cents") * F.col("cents"))
            .cast("long")
            .alias("s2"),
            F.min("cents").cast("long").alias("min_cents"),
            F.max("cents").cast("long").alias("max_cents"),
        )
        .where(F.col("n") >= 2)
    )
    var_num = F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")
    return m.select(
        "p_brand",
        F.col("n").alias("n_parts"),
        "min_cents",
        "max_cents",
        var_num.cast("long").alias("var_num_scaled"),
        F.when(
            4 * F.col("n") * var_num > F.col("s1") * F.col("s1"), 1
        )
        .otherwise(0)
        .cast("long")
        .alias("high_dispersion"),
    ).orderBy("p_brand")


@register(
    "orders_growth_contribution",
    oracle_sql="""
        WITH monthly AS (
            SELECT date_trunc('month', o_orderdate) AS m,
                   o_orderpriority,
                   CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS cents
            FROM orders GROUP BY m, o_orderpriority
        ), with_prev AS (
            SELECT m, o_orderpriority, cents,
                   lag(cents) OVER (PARTITION BY o_orderpriority
                       ORDER BY m) AS prev_cents
            FROM monthly
        ), totals AS (
            SELECT m,
                   CAST(sum(cents) AS BIGINT) AS tot,
                   CAST(sum(prev_cents) AS BIGINT) AS prev_tot
            FROM with_prev GROUP BY m
        )
        SELECT CAST(epoch_us(w.m) AS BIGINT) AS month_us,
               w.o_orderpriority,
               CAST(w.cents - w.prev_cents AS BIGINT) AS delta_cents,
               CAST(t.tot - t.prev_tot AS BIGINT) AS total_delta_cents,
               CAST((w.cents - w.prev_cents) * 10000
                    // nullif(t.tot - t.prev_tot, 0) AS BIGINT)
                   AS contribution_bp
        FROM with_prev w JOIN totals t ON w.m = t.m
        WHERE w.prev_cents IS NOT NULL AND t.prev_tot IS NOT NULL
        ORDER BY month_us, o_orderpriority
    """,
    description="Month-over-month growth contribution by priority "
    "class: each class's revenue delta as a floor-bp share of the "
    "total delta (nullif-guarded for flat months; contributions sum "
    "to ~10000 bp by construction — the growth-accounting identity) "
    "— the decomposition a revenue review opens with ('growth was "
    "+8%, 6 of it from URGENT'). The per-class lag windows and the "
    "totals reduce share the bounded monthly rollup. Note "
    "contributions are signed: a shrinking class in a growing month "
    "shows negative bp, exactly as the waterfall should.",
)
def orders_growth_contribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    monthly = (
        load(spark, sf_dir, "orders")
        .groupBy(
            F.date_trunc("month", "o_orderdate").alias("m"),
            "o_orderpriority",
        )
        .agg(F.sum(scaled_long("o_totalprice", 100)).alias("cents"))
    )
    w = Window.partitionBy("o_orderpriority").orderBy("m")
    with_prev = monthly.select(
        "m",
        "o_orderpriority",
        "cents",
        F.lag("cents").over(w).alias("prev_cents"),
    )
    totals = with_prev.groupBy("m").agg(
        F.sum("cents").cast("long").alias("tot"),
        F.sum("prev_cents").cast("long").alias("prev_tot"),
    )
    return (
        with_prev.join(totals, "m")
        .where(
            F.col("prev_cents").isNotNull()
            & F.col("prev_tot").isNotNull()
        )
        .select(
            F.unix_micros("m").alias("month_us"),
            "o_orderpriority",
            (F.col("cents") - F.col("prev_cents"))
            .cast("long")
            .alias("delta_cents"),
            (F.col("tot") - F.col("prev_tot"))
            .cast("long")
            .alias("total_delta_cents"),
            F.expr(
                "(cents - prev_cents) * 10000 "
                "div nullif(tot - prev_tot, 0)"
            )
            .cast("long")
            .alias("contribution_bp"),
        )
        .orderBy("month_us", "o_orderpriority")
    )


@register(
    "events_session_velocity_audit",
    oracle_sql="""
        WITH seq AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER (
                            PARTITION BY user_id
                            ORDER BY ts, event_id))
                        > 1800000000
                        OR lag(ts) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) IS NULL
                   THEN 1 ELSE 0 END AS is_start
            FROM events
        ), sess AS (
            SELECT user_id, ts,
                   sum(is_start) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id) AS sid
            FROM seq
        ), stats AS (
            SELECT user_id, sid,
                   CAST(count(*) AS BIGINT) AS n_ev,
                   CAST(epoch_us(max(ts)) - epoch_us(min(ts))
                        AS BIGINT) AS span_us
            FROM sess GROUP BY user_id, sid
        )
        SELECT CAST(count(*) AS BIGINT) AS n_sessions,
               CAST(sum(CASE WHEN n_ev >= 5
                        AND n_ev * 60000000 > span_us * 30
                        THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_superhuman,
               CAST(max(n_ev) AS BIGINT) AS max_events_per_session,
               CAST(sum(CASE WHEN n_ev >= 2 AND span_us = 0
                        THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_zero_span_multi
        FROM stats
    """,
    description="Session-velocity bot audit: sessions whose event "
    "rate exceeds 30 events/minute over >= 5 events (the integer "
    "cross-multiplication n*60s > span*30 — no rate float), plus "
    "the zero-span multi-event sessions that indicate replayed or "
    "batched logging — the behavioral-infeasibility complement to "
    "dq_bot_regularity_detect's timing-regularity signal (fast AND "
    "metronomic is a different bot class than fast alone). Reuses "
    "the 30-min gaps-and-islands convention; one user exchange.",
)
def events_session_velocity_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    order = ["ts", "event_id"]
    wu = Window.partitionBy("user_id").orderBy(*order)
    seq = load(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            (
                F.unix_micros("ts")
                - F.unix_micros(F.lag("ts").over(wu))
                > 1800000000
            )
            | F.lag("ts").over(wu).isNull(),
            1,
        )
        .otherwise(0)
        .alias("is_start"),
    )
    sess = seq.select(
        "user_id",
        "ts",
        F.sum("is_start")
        .over(wu.rowsBetween(Window.unboundedPreceding, 0))
        .alias("sid"),
    )
    stats = sess.groupBy("user_id", "sid").agg(
        F.count(F.lit(1)).cast("long").alias("n_ev"),
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts")))
        .cast("long")
        .alias("span_us"),
    )
    return stats.agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.sum(
            F.when(
                (F.col("n_ev") >= 5)
                & (F.col("n_ev") * 60000000 > F.col("span_us") * 30),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_superhuman"),
        F.max("n_ev").cast("long").alias("max_events_per_session"),
        F.sum(
            F.when(
                (F.col("n_ev") >= 2) & (F.col("span_us") == 0), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_zero_span_multi"),
    )


@register(
    "bidask_donchian_channel_daily",
    oracle_sql="""
        WITH trades AS (
            SELECT date_trunc('day', ts) AS d, ts, event_id,
                   CAST(round(value * 100) AS BIGINT) AS p
            FROM events WHERE event_type = 'purchase'
        ), channel AS (
            SELECT d, ts, event_id, p,
                   CAST(max(p) OVER (PARTITION BY d
                       ORDER BY ts, event_id) AS BIGINT) AS run_high,
                   CAST(min(p) OVER (PARTITION BY d
                       ORDER BY ts, event_id) AS BIGINT) AS run_low
            FROM trades
        ), flags AS (
            SELECT d, p, run_high, run_low,
                   CASE WHEN p = run_high AND p > lag(run_high) OVER (
                        PARTITION BY d ORDER BY ts, event_id)
                   THEN 1 ELSE 0 END AS new_high,
                   CASE WHEN p = run_low AND p < lag(run_low) OVER (
                        PARTITION BY d ORDER BY ts, event_id)
                   THEN 1 ELSE 0 END AS new_low
            FROM channel
        )
        SELECT CAST(epoch_us(d) AS BIGINT) AS day_us,
               CAST(count(*) AS BIGINT) AS n_trades,
               CAST(max(run_high) AS BIGINT) AS day_high_cents,
               CAST(min(run_low) AS BIGINT) AS day_low_cents,
               CAST(sum(new_high) AS BIGINT) AS n_new_highs,
               CAST(sum(new_low) AS BIGINT) AS n_new_lows
        FROM flags GROUP BY d ORDER BY day_us
    """,
    description="Intraday Donchian channel: running session high/low "
    "per day with new-extreme breakout counts (a trade is a new "
    "high iff it equals the running max AND strictly exceeds the "
    "previous running max — the lag guard that stops equal-price "
    "re-touches double counting) — the breakout-frequency profile "
    "trend-following systems calibrate on, and a balance read "
    "(many new highs AND lows in one day = churn, not trend). All "
    "exact cents; one day-partitioned ordered window.",
)
def bidask_donchian_channel_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    trades = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select(
            F.date_trunc("day", "ts").alias("d"),
            "ts",
            "event_id",
            scaled_long("value", 100).alias("p"),
        )
    )
    w = (
        Window.partitionBy("d")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wl = Window.partitionBy("d").orderBy("ts", "event_id")
    channel = trades.select(
        "d",
        "ts",
        "event_id",
        "p",
        F.max("p").over(w).alias("run_high"),
        F.min("p").over(w).alias("run_low"),
    )
    flags = channel.select(
        "d",
        "run_high",
        "run_low",
        F.when(
            (F.col("p") == F.col("run_high"))
            & (F.col("p") > F.lag("run_high").over(wl)),
            1,
        )
        .otherwise(0)
        .alias("new_high"),
        F.when(
            (F.col("p") == F.col("run_low"))
            & (F.col("p") < F.lag("run_low").over(wl)),
            1,
        )
        .otherwise(0)
        .alias("new_low"),
    )
    return (
        flags.groupBy("d")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_trades"),
            F.max("run_high").cast("long").alias("day_high_cents"),
            F.min("run_low").cast("long").alias("day_low_cents"),
            F.sum("new_high").cast("long").alias("n_new_highs"),
            F.sum("new_low").cast("long").alias("n_new_lows"),
        )
        .select(
            F.unix_micros("d").alias("day_us"),
            "n_trades",
            "day_high_cents",
            "day_low_cents",
            "n_new_highs",
            "n_new_lows",
        )
        .orderBy("day_us")
    )


@register(
    "parts_demand_intermittency",
    oracle_sql="""
        WITH daily AS (
            SELECT l_partkey, date_trunc('day', l_shipdate) AS d,
                   CAST(sum(CAST(round(l_quantity) AS BIGINT))
                        AS BIGINT) AS q
            FROM lineitem GROUP BY 1, 2
        ), spans AS (
            SELECT l_partkey,
                   CAST(count(*) AS BIGINT) AS demand_days,
                   CAST(datediff('day', min(d), max(d)) + 1 AS BIGINT)
                       AS span_days,
                   CAST(sum(q) AS BIGINT) AS s1,
                   CAST(sum(q * q) AS BIGINT) AS s2
            FROM daily GROUP BY l_partkey
            HAVING count(*) >= 3
        ), classed AS (
            SELECT l_partkey,
                   CASE WHEN span_days * 100 < demand_days * 132
                        THEN 'smooth_adi' ELSE 'intermittent_adi' END
                       AS adi_class,
                   CASE WHEN 4 * demand_days *
                             (demand_days * s2 - s1 * s1)
                             < s1 * s1 * 2
                        THEN 'low_cv' ELSE 'high_cv' END AS cv_class
            FROM spans
        )
        SELECT adi_class, cv_class,
               CAST(count(*) AS BIGINT) AS n_parts
        FROM classed GROUP BY adi_class, cv_class
        ORDER BY adi_class, cv_class
    """,
    description="Demand-intermittency quadrant (Syntetos-Boylan): "
    "parts classed by average demand interval (ADI = span/demand-"
    "days vs the 1.32 cutoff, as the integer cross-multiplication "
    "span*100 < days*132) and demand-size CV^2 (vs 0.49 ~ 1/2, via "
    "the exact power-sum inequality 4n(nS2 - S1^2) < 2*S1^2) into "
    "smooth / intermittent / erratic / lumpy — the router that "
    "decides WHICH forecaster each part gets (smooth -> the "
    "backtest's OLS family; lumpy -> Croston-class methods that "
    "this engine would stage next). No rational ever materializes "
    "at either boundary. One keyed reduce + census.",
)
def parts_demand_intermittency(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    daily = (
        load(spark, sf_dir, "lineitem")
        .groupBy(
            "l_partkey", F.date_trunc("day", "l_shipdate").alias("d")
        )
        .agg(F.sum(scaled_long("l_quantity", 1)).alias("q"))
    )
    spans = (
        daily.groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("demand_days"),
            (F.datediff(F.max("d"), F.min("d")) + 1)
            .cast("long")
            .alias("span_days"),
            F.sum("q").cast("long").alias("s1"),
            F.sum(F.col("q") * F.col("q")).cast("long").alias("s2"),
        )
        .where(F.col("demand_days") >= 3)
    )
    var_num = F.col("demand_days") * F.col("s2") - F.col("s1") * F.col(
        "s1"
    )
    classed = spans.select(
        F.when(
            F.col("span_days") * 100 < F.col("demand_days") * 132,
            "smooth_adi",
        )
        .otherwise("intermittent_adi")
        .alias("adi_class"),
        F.when(
            4 * F.col("demand_days") * var_num
            < F.col("s1") * F.col("s1") * 2,
            "low_cv",
        )
        .otherwise("high_cv")
        .alias("cv_class"),
    )
    return (
        classed.groupBy("adi_class", "cv_class")
        .agg(F.count(F.lit(1)).cast("long").alias("n_parts"))
        .orderBy("adi_class", "cv_class")
    )


@register(
    "events_simpson_diversity",
    oracle_sql="""
        WITH cells AS (
            SELECT user_id % 5 AS cohort, event_type,
                   CAST(count(*) AS BIGINT) AS n
            FROM events GROUP BY 1, 2
        ), totals AS (
            SELECT cohort, CAST(sum(n) AS BIGINT) AS tot
            FROM cells GROUP BY cohort
        ), shares AS (
            SELECT c.cohort, c.n * 1000000 // t.tot AS share_ppm
            FROM cells c JOIN totals t ON c.cohort = t.cohort
        )
        SELECT CAST(cohort AS BIGINT) AS cohort,
               CAST(count(*) AS BIGINT) AS n_types,
               CAST(1000000 - sum(share_ppm * share_ppm) // 1000000
                    AS BIGINT) AS simpson_diversity_ppm
        FROM shares GROUP BY cohort ORDER BY cohort
    """,
    description="Simpson diversity of the event-type mix per user "
    "cohort: 1 - sum of squared shares, ENTIRELY on the ppm integer "
    "grid (shares floor integrally; the sum of squares de-scales "
    "integrally — no ln, no float, the diversity index that stays "
    "exact where Shannon entropy needs quantized logs, cf. "
    "dq_categorical_entropy) — the behavioral-mix health read (a "
    "cohort collapsing toward one event type has a product problem "
    "or a bot problem, and HHI's complement reads it directly). "
    "Two keyed reduces.",
)
def events_simpson_diversity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    cells = (
        load(spark, sf_dir, "events")
        .groupBy((F.col("user_id") % 5).alias("cohort"), "event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    totals = cells.groupBy("cohort").agg(
        F.sum("n").cast("long").alias("tot")
    )
    shares = cells.join(totals, "cohort").select(
        "cohort", F.expr("n * 1000000 div tot").alias("share_ppm")
    )
    return (
        shares.groupBy(F.col("cohort").cast("long").alias("cohort"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_types"),
            (
                F.lit(1000000)
                - F.expr("sum(share_ppm * share_ppm) div 1000000")
            )
            .cast("long")
            .alias("simpson_diversity_ppm"),
        )
        .orderBy("cohort")
    )


@register(
    "corpus_source_syndication_matrix",
    oracle_sql="""
        WITH hashed AS (
            SELECT DISTINCT source, md5(text) AS h
            FROM documents
        ), pairs AS (
            SELECT a.source AS src_a, b.source AS src_b,
                   CAST(count(*) AS BIGINT) AS shared_docs
            FROM hashed a JOIN hashed b
              ON a.h = b.h AND a.source < b.source
            GROUP BY a.source, b.source
        ), sizes AS (
            SELECT source, CAST(count(*) AS BIGINT) AS n
            FROM hashed GROUP BY source
        )
        SELECT sa.source AS src_a, sb.source AS src_b,
               COALESCE(p.shared_docs, 0) AS shared_docs,
               sa.n AS n_a, sb.n AS n_b,
               CAST(COALESCE(p.shared_docs, 0) * 10000
                    // (sa.n + sb.n - COALESCE(p.shared_docs, 0))
                    AS BIGINT) AS jaccard_floor_bp
        FROM sizes sa
        JOIN sizes sb ON sa.source < sb.source
        LEFT JOIN pairs p
          ON p.src_a = sa.source AND p.src_b = sb.source
        ORDER BY src_a, src_b
    """,
    description="Source syndication matrix: distinct content hashes "
    "shared between each source pair with the pairwise Jaccard in "
    "floor bp — the provenance map dedup_cross_source_exact's "
    "scalar censuses roll up from (WHICH sources mirror each other, "
    "not just how much duplication exists), driving canonical-"
    "source election per pair. The matrix is COMPLETE: every source "
    "pair emits a row, zero-overlap cells included, so 'no "
    "syndication anywhere' is a positive |sources|C2-row finding "
    "rather than an empty (vacuously gradeable) result. Content-"
    "hash postings join on the md5 key; the pair spine is the tiny "
    "per-source size table self-joined and broadcast.",
)
def corpus_source_syndication_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    hashed = (
        load(spark, sf_dir, "documents")
        .select("source", F.md5("text").alias("h"))
        .distinct()
    )
    a = hashed.select(F.col("source").alias("src_a"), "h")
    b = hashed.select(
        F.col("source").alias("src_b"), F.col("h").alias("hb")
    )
    pairs = (
        a.join(
            b,
            (F.col("h") == F.col("hb"))
            & (F.col("src_a") < F.col("src_b")),
        )
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).cast("long").alias("shared_docs"))
    )
    sizes = hashed.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    # Complete pair spine: the per-source size table (|sources| rows)
    # self-joins under <, then the shared-hash counts LEFT-join in —
    # zero-overlap pairs stay as explicit 0-cells, so the result is
    # never empty on a clean corpus (vacuous-grade guard).
    spine = sizes.select(
        F.col("source").alias("src_a"), F.col("n").alias("n_a")
    ).join(
        F.broadcast(
            sizes.select(
                F.col("source").alias("src_b"), F.col("n").alias("n_b")
            )
        ),
        F.col("src_a") < F.col("src_b"),
    )
    return (
        spine.join(F.broadcast(pairs), ["src_a", "src_b"], "left")
        .select(
            "src_a",
            "src_b",
            F.coalesce(F.col("shared_docs"), F.lit(0))
            .cast("long")
            .alias("shared_docs"),
            "n_a",
            "n_b",
            F.expr(
                "coalesce(shared_docs, 0) * 10000"
                " div (n_a + n_b - coalesce(shared_docs, 0))"
            )
            .cast("long")
            .alias("jaccard_floor_bp"),
        )
        .orderBy("src_a", "src_b")
    )


@register(
    "sql_set_dedup_semantics",
    oracle_sql="""
        WITH a AS (
            SELECT o_orderpriority AS v FROM orders
            WHERE o_orderstatus = 'F'
        ), b AS (
            SELECT o_orderpriority AS v FROM orders
            WHERE o_totalprice > 100000
        )
        SELECT
            (SELECT CAST(count(*) AS BIGINT)
             FROM (SELECT v FROM a UNION SELECT v FROM b))
                AS union_distinct,
            (SELECT CAST(count(*) AS BIGINT)
             FROM (SELECT v FROM a UNION ALL SELECT v FROM b))
                AS union_all,
            (SELECT CAST(count(*) AS BIGINT)
             FROM (SELECT v FROM a INTERSECT SELECT v FROM b))
                AS intersect_distinct,
            (SELECT CAST(count(*) AS BIGINT)
             FROM (SELECT v FROM a EXCEPT SELECT v FROM b))
                AS except_distinct,
            (SELECT CAST(count(DISTINCT v) AS BIGINT) FROM a)
                AS a_distinct,
            (SELECT CAST(count(*) AS BIGINT) FROM a) AS a_all
    """,
    description="Set-operation dedup-semantics census over two "
    "duplicate-laden derived relations: UNION (dedups) vs UNION ALL "
    "(doesn't), INTERSECT/EXCEPT (dedup BOTH inputs first — the "
    "semantics people forget), and the base multiplicities, all in "
    "one graded row — the companion matrix to "
    "sql_null_handling_census for the other classic migration "
    "hazard (an engine or a refactor that swaps UNION for UNION "
    "ALL changes counts only where duplicates live). The §2.7 ops "
    "grade each operation alone; this grades their SEMANTIC "
    "RELATIONSHIPS on one fixture.",
)
def sql_set_dedup_semantics(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    a = orders.where(F.col("o_orderstatus") == "F").select(
        F.col("o_orderpriority").alias("v")
    )
    b = orders.where(F.col("o_totalprice") > 100000).select(
        F.col("o_orderpriority").alias("v")
    )
    vals = [
        a.unionByName(b).distinct().count(),
        a.unionByName(b).count(),
        a.intersect(b).count(),
        # EXCEPT DISTINCT semantics via the native subtract.
        a.subtract(b).count(),
        a.distinct().count(),
        a.count(),
    ]
    return spark.createDataFrame(
        [tuple(vals)],
        "union_distinct long, union_all long, intersect_distinct "
        "long, except_distinct long, a_distinct long, a_all long",
    )


@register(
    "orders_dow_anova_fstat",
    oracle_sql="""
        WITH daily AS (
            SELECT date_trunc('day', o_orderdate) AS d,
                   isodow(o_orderdate) AS dow,
                   CAST(count(*) AS BIGINT) AS y
            FROM orders GROUP BY 1, 2
        ), groups AS (
            SELECT dow, CAST(count(*) AS BIGINT) AS n_g,
                   CAST(sum(y) AS BIGINT) AS s_g,
                   CAST(sum(y * y) AS BIGINT) AS ss_g
            FROM daily GROUP BY dow
        ), tot AS (
            SELECT CAST(sum(n_g) AS BIGINT) AS n,
                   CAST(sum(s_g) AS BIGINT) AS s,
                   CAST(sum(ss_g) AS BIGINT) AS ss,
                   CAST(count(*) AS BIGINT) AS k,
                   list_reduce(list(CAST(n_g AS HUGEINT)),
                               (a, b) -> a * b) AS dprod
            FROM groups
        ), scaled AS (
            -- A = sum over groups of s_g^2 * (dprod / n_g): exact —
            -- dprod/n_g is integral by construction (n_g | dprod).
            SELECT t.n, t.k, t.s, t.ss, t.dprod,
                   sum(CAST(g.s_g AS HUGEINT) * g.s_g
                       * (t.dprod // g.n_g)) AS a_scaled
            FROM groups g, tot t
            GROUP BY t.n, t.k, t.s, t.ss, t.dprod
        )
        SELECT CAST(n AS BIGINT) AS n_days,
               CAST(k AS BIGINT) AS n_groups,
               CASE WHEN k > 1 AND n > k
                    AND CAST(ss AS HUGEINT) * n * dprod
                        - a_scaled * n <> 0 THEN
                   CAST(a_scaled * n - CAST(s AS HUGEINT) * s * dprod
                        AS DOUBLE) * (n - k)
                   / CAST(CAST(ss AS HUGEINT) * n * dprod
                          - a_scaled * n AS DOUBLE) / (k - 1)
               END AS f_stat
        FROM scaled
    """,
    description="One-way ANOVA F-statistic for weekday effect on "
    "daily order volume, EXACT to the final division: the "
    "between/within sums of squares are assembled over the common "
    "denominator D = product of group sizes (k <= 7 groups, so D "
    "fits 128-bit and every D/n_g is integral), giving F = "
    "[A*n - S^2*D]*(n-k) / ([SS*n*D - A*n]*(k-1)) with all "
    "intermediates exact 128-bit integers and ONE float chain at "
    "the end — no group mean, no rational sum, no order-dependent "
    "float accumulation anywhere (the product aggregate is exact "
    "in double below 2^53, then cast back integral). Degenerate "
    "designs (single group, saturated n == k, zero within-variance) "
    "emit NULL identically. The 'is the weekday pattern real' test "
    "that should precede every dow-keyed feature.",
)
def orders_dow_anova_fstat(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    daily = (
        load(spark, sf_dir, "orders")
        .groupBy(
            F.date_trunc("day", "o_orderdate").alias("d"),
            (F.weekday("o_orderdate") + 1).alias("dow"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
    )
    groups = daily.groupBy("dow").agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.sum("y").cast("long").alias("s_g"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("ss_g"),
    )
    dec = "decimal(38,0)"
    tot = groups.agg(
        F.sum("n_g").cast("long").alias("n"),
        F.sum("s_g").cast("long").alias("s"),
        F.sum("ss_g").cast("long").alias("ss"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.aggregate(
            F.collect_list("n_g"),
            F.lit(1).cast(dec),
            lambda acc, x: acc * x.cast(dec),
        ).alias("dprod"),
    )
    scaled = (
        groups.crossJoin(F.broadcast(tot))
        .groupBy("n", "k", "s", "ss", "dprod")
        .agg(
            F.sum(
                F.col("s_g").cast(dec)
                * F.col("s_g")
                * F.expr("dprod div n_g")
            ).alias("a_scaled")
        )
    )
    ssb_num = F.col("a_scaled") * F.col("n") - F.col("s").cast(
        dec
    ) * F.col("s") * F.col("dprod")
    ssw_num = (
        F.col("ss").cast(dec) * F.col("n") * F.col("dprod")
        - F.col("a_scaled") * F.col("n")
    )
    return scaled.select(
        F.col("n").alias("n_days"),
        F.col("k").alias("n_groups"),
        F.when(
            (F.col("k") > 1) & (F.col("n") > F.col("k")) & (ssw_num != 0),
            ssb_num.cast("double")
            * (F.col("n") - F.col("k"))
            / ssw_num.cast("double")
            / (F.col("k") - 1),
        ).alias("f_stat"),
    )


@register(
    "stream_watermark_delay_sweep",
    oracle_sql="""
        WITH bounds AS (
            SELECT max(ts) AS mx FROM events
        ), delays(delay_min) AS (VALUES (0), (30), (120)),
        windows AS (
            SELECT d.delay_min,
                   date_trunc('hour', e.ts) AS w,
                   count(*) AS n
            FROM events e, delays d
            GROUP BY d.delay_min, date_trunc('hour', e.ts)
        )
        SELECT CAST(w2.delay_min AS BIGINT) AS watermark_delay_min,
               CAST(count(*) AS BIGINT) AS n_closed_windows,
               CAST(sum(w2.n) AS BIGINT) AS n_events_in_closed
        FROM windows w2, bounds b
        WHERE w2.w + INTERVAL 1 HOUR
              + to_minutes(CAST(w2.delay_min AS BIGINT)) <= b.mx
        GROUP BY w2.delay_min ORDER BY watermark_delay_min
    """,
    description="Watermark-delay sweep (batch form of the append-mode "
    "lifecycle): for delays of 0 / 30 / 120 minutes, how many hourly "
    "windows would have CLOSED (window end + delay <= max event "
    "time) and how many events they contain — the latency-vs-"
    "completeness tradeoff table that chooses the production "
    "watermark (every closed window is emittable-and-evictable "
    "state; a longer delay trades freshness for late-data "
    "tolerance). Same closed-window algebra the streaming append "
    "ops are hash-graded by (stream_tumbling_append_closed), swept "
    "across the delay dimension in one conditional aggregate.",
)
def stream_watermark_delay_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        F.date_trunc("hour", "ts").alias("w"), "ts"
    )
    bounds = ev.agg(F.max("ts").alias("mx"))
    delays = spark.createDataFrame([(0,), (30,), (120,)], ["delay_min"])
    windows = (
        ev.crossJoin(F.broadcast(delays))
        .groupBy("delay_min", "w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    closed = windows.crossJoin(F.broadcast(bounds)).where(
        F.col("w")
        + F.expr("INTERVAL 1 HOUR")
        + F.expr("make_dt_interval(0, 0, delay_min)")
        <= F.col("mx")
    )
    return (
        closed.groupBy(
            F.col("delay_min").cast("long").alias("watermark_delay_min")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_closed_windows"),
            F.sum("n").cast("long").alias("n_events_in_closed"),
        )
        .orderBy("watermark_delay_min")
    )


@register(
    "eval_threshold_capacity_planner",
    oracle_sql="""
        WITH scored AS (
            SELECT date_trunc('day', ts) AS d,
                   CAST(round(value * 100) AS BIGINT) AS s
            FROM events WHERE event_type IN ('purchase', 'view')
        ), cutoff AS (
            SELECT CAST(quantile_disc(s, 0.95) AS BIGINT) AS thr
            FROM scored
        )
        SELECT CAST(epoch_us(sc.d) AS BIGINT) AS day_us,
               CAST(count(*) AS BIGINT) AS n_scored,
               CAST(sum(CASE WHEN sc.s >= c.thr THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_actioned,
               CAST(sum(CASE WHEN sc.s >= c.thr THEN 1 ELSE 0 END)
                    * 10000 // count(*) AS BIGINT)
                   AS action_rate_floor_bp
        FROM scored sc, cutoff c
        GROUP BY sc.d ORDER BY day_us
    """,
    description="Alert-capacity planner: the global 95th-percentile "
    "score cutoff (discrete member — exact) applied per day, with "
    "the daily actioned count and rate — the review-queue staffing "
    "table (a threshold tuned on aggregate data produces LUMPY "
    "daily workloads; the per-day distribution is what the ops team "
    "must staff for, and its spread justifies or kills a daily-"
    "requantiled threshold). 1-row broadcast cutoff; one daily "
    "reduce.",
)
def eval_threshold_capacity_planner(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    scored = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type").isin("purchase", "view"))
        .select(
            F.date_trunc("day", "ts").alias("d"),
            scaled_long("value", 100).alias("s"),
        )
    )
    cutoff = scored.agg(
        F.expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY s)")
        .cast("long")
        .alias("thr")
    )
    return (
        scored.crossJoin(F.broadcast(cutoff))
        .groupBy("d")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_scored"),
            F.sum(F.when(F.col("s") >= F.col("thr"), 1).otherwise(0))
            .cast("long")
            .alias("n_actioned"),
            F.expr(
                "sum(case when s >= thr then 1 else 0 end) * 10000 "
                "div count(*)"
            )
            .cast("long")
            .alias("action_rate_floor_bp"),
        )
        .select(
            F.unix_micros("d").alias("day_us"),
            "n_scored",
            "n_actioned",
            "action_rate_floor_bp",
        )
        .orderBy("day_us")
    )


@register(
    "events_user_temporal_entropy",
    oracle_sql="""
        WITH cells AS (
            SELECT user_id, CAST(hour(ts) AS BIGINT) AS hod,
                   CAST(count(*) AS BIGINT) AS n
            FROM events GROUP BY user_id, hod
        ), totals AS (
            SELECT user_id, CAST(sum(n) AS BIGINT) AS tot,
                   CAST(count(*) AS BIGINT) AS n_hours
            FROM cells GROUP BY user_id
        ), terms AS (
            SELECT c.user_id, t.tot, t.n_hours,
                   CAST(floor(CAST(c.n AS DOUBLE) / t.tot
                       * ln(CAST(t.tot AS DOUBLE) / c.n) * 1000000
                       + 0.5) AS BIGINT) AS h_term_ppm
            FROM cells c JOIN totals t ON c.user_id = t.user_id
        )
        SELECT user_id,
               CAST(max(n_hours) AS BIGINT) AS active_hours,
               CAST(max(tot) AS BIGINT) AS n_events,
               CAST(sum(h_term_ppm) AS BIGINT) AS entropy_ppm
        FROM terms GROUP BY user_id ORDER BY user_id
    """,
    description="Per-user temporal entropy over hour-of-day activity: "
    "Shannon H = sum p*ln(1/p) with each term quantized to ppm "
    "BEFORE the cross-cell sum (the float-crossing-aggregation "
    "rule; p = n/tot is the same rational in both engines' term, "
    "evaluated in one congruent chain) — the circadian-footprint "
    "feature: humans concentrate in 8-14 waking hours (low-mid "
    "entropy), 24/7-uniform actors are schedulers (max entropy "
    "ln(24) ~ 3.178e6 ppm), single-hour actors are cron jobs "
    "(zero). The third leg of the bot triad with regularity and "
    "velocity. One (user, hod) reduce + join-back.",
)
def events_user_temporal_entropy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    cells = (
        load(spark, sf_dir, "events")
        .groupBy("user_id", F.hour("ts").cast("long").alias("hod"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    totals = cells.groupBy("user_id").agg(
        F.sum("n").cast("long").alias("tot"),
        F.count(F.lit(1)).cast("long").alias("n_hours"),
    )
    terms = cells.join(totals, "user_id").select(
        "user_id",
        "tot",
        "n_hours",
        F.floor(
            F.col("n").cast("double")
            / F.col("tot")
            * F.log(F.col("tot").cast("double") / F.col("n"))
            * 1000000
            + 0.5
        )
        .cast("long")
        .alias("h_term_ppm"),
    )
    return (
        terms.groupBy("user_id")
        .agg(
            F.max("n_hours").cast("long").alias("active_hours"),
            F.max("tot").cast("long").alias("n_events"),
            F.sum("h_term_ppm").cast("long").alias("entropy_ppm"),
        )
        .orderBy("user_id")
    )
