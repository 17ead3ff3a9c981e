"""Mixed-family operators (SURVEY.md §2.28, first half).

JSON ingest normalization, incremental materialization and late-
arriving-dimension repair; multi-grain bitmap rollups, funnels and
share-of-parent windows; bid/ask depth imbalance, return ACF, volume
clocks and tick-rule signed volume; as-of and snapshot dimension
joins; corpus contamination, Zipf fit, n-gram novelty and duplicate-
cluster statistics; triangle counts, embedding class separation and
a Python UDTF with a table argument. ``staged_r6b`` holds the other
15 operators of the same section.

Each op follows the full house discipline (scaled-integer parity,
oracle SQL, scale notes).
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from etl_intraday_bidask_spark.functions.parity import scaled_long
from etl_intraday_bidask_spark.registry import register
from etl_intraday_bidask_spark.tables import load, scratch_dir


_INGEST_STAGE: dict[str, str] = {}


@register(
    "etl_json_ingest_normalize",
    oracle_sql="""
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               avg(CAST(json_extract_string(props, '$.k') AS INT))
                   AS avg_k,
               CAST(max(CAST(json_extract_string(props, '$.k') AS INT))
                    AS BIGINT) AS max_k,
               CAST(count(*) FILTER (
                   WHERE json_extract_string(props, '$.k') IS NULL)
                    AS BIGINT) AS n_null_k
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
    description="Parse-once JSON ingest normalization: events.props is "
    "parsed with from_json into a typed column ONCE, landed as typed "
    "parquet (staged per sf_dir), and every downstream aggregate reads "
    "the typed table — the structural fix for the ~26x JSON-extraction "
    "throughput gap measured in BASELINE.md (per-query re-extraction "
    "pays the Jackson cost on every read; ingest normalization pays it "
    "once per byte). The graded aggregate re-derives json_get's "
    "numbers from the NORMALIZED table, so the hash proves the ingest "
    "path preserved the raw-extraction semantics, nulls included.",
)
def etl_json_ingest_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    if sf_dir not in _INGEST_STAGE:
        out = os.path.join(
            scratch_dir("json_ingest"), "events_typed"
        )
        (
            load(spark, sf_dir, "events")
            .select(
                "event_id",
                "ts",
                "user_id",
                "event_type",
                "value",
                F.from_json("props", "k INT")["k"].alias("k"),
            )
            .write.mode("overwrite")
            .parquet(out)
        )
        _INGEST_STAGE[sf_dir] = out
    typed = spark.read.parquet(_INGEST_STAGE[sf_dir])
    return (
        typed.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.avg("k").alias("avg_k"),
            F.max("k").cast("long").alias("max_k"),
            F.count(F.when(F.col("k").isNull(), 1))
            .cast("long")
            .alias("n_null_k"),
        )
        .orderBy("event_type")
    )


@register(
    "agg_bitmap_rollup_multigrain",
    oracle_sql="""
        WITH masks AS (
            SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
                   user_id // 32 AS bucket,
                   bit_or(CAST(1 AS BIGINT) << CAST(user_id % 32 AS INTEGER))
                       AS mask
            FROM events
            GROUP BY 1, 2
        ),
        grains AS (
            SELECT 'day' AS grain, d AS period_start, bucket, mask FROM masks
            UNION ALL
            SELECT 'week', CAST(date_trunc('week', d) AS DATE), bucket, mask
            FROM masks
            UNION ALL
            SELECT 'month', CAST(date_trunc('month', d) AS DATE), bucket, mask
            FROM masks
        ),
        merged AS (
            SELECT grain, period_start, bucket, bit_or(mask) AS m
            FROM grains GROUP BY 1, 2, 3
        )
        SELECT grain, period_start,
               CAST(sum(bit_count(m)) AS BIGINT) AS n_users
        FROM merged
        GROUP BY 1, 2
        ORDER BY 1, 2
    """,
    description="Multi-grain bitmap distinct rollup: the per-(day, "
    "bucket) masks from agg_bitmap_distinct_rollup re-OR into week and "
    "month grains IN ONE PASS (each mask row fans out to its three "
    "grain keys, then one bit_or per grain) — the incremental-"
    "maintenance property in action: coarser exact distincts derive "
    "from the finest masks without touching events again. Exchange "
    "carries 3×|days|×|buckets| longs regardless of event volume.",
)
def agg_bitmap_rollup_multigrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    masks = (
        load(spark, sf_dir, "events")
        .select(
            F.to_date(F.date_trunc("day", "ts")).alias("d"),
            (F.col("user_id") / 32).cast("long").alias("bucket"),
            F.expr("shiftleft(1L, cast(user_id % 32 as int))").alias("bit"),
        )
        .groupBy("d", "bucket")
        .agg(F.bit_or("bit").alias("mask"))
    )
    grains = masks.select(
        F.explode(
            F.array(
                F.struct(F.lit("day").alias("grain"), F.col("d").alias("p")),
                F.struct(
                    F.lit("week").alias("grain"),
                    F.to_date(F.date_trunc("week", "d")).alias("p"),
                ),
                F.struct(
                    F.lit("month").alias("grain"),
                    F.to_date(F.date_trunc("month", "d")).alias("p"),
                ),
            )
        ).alias("g"),
        "bucket",
        "mask",
    ).select(
        F.col("g.grain").alias("grain"),
        F.col("g.p").alias("period_start"),
        "bucket",
        "mask",
    )
    return (
        grains.groupBy("grain", "period_start", "bucket")
        .agg(F.bit_or("mask").alias("m"))
        .groupBy("grain", "period_start")
        .agg(F.sum(F.bit_count("m")).cast("long").alias("n_users"))
        .orderBy("grain", "period_start")
    )


@register(
    "anomaly_winsorized_zscore",
    oracle_sql="""
        WITH c AS (
            SELECT event_type,
                   CAST(round(value * 100) AS BIGINT) AS cents
            FROM events
        ),
        clip AS (
            SELECT event_type,
                   quantile_disc(cents, 0.05) AS p05,
                   quantile_disc(cents, 0.95) AS p95
            FROM c GROUP BY event_type
        ),
        stats AS (
            SELECT c.event_type,
                   CAST(count(*) AS BIGINT) AS n,
                   sum(least(greatest(cents, p05), p95)) AS s1,
                   sum(least(greatest(cents, p05), p95)
                       * least(greatest(cents, p05), p95)) AS s2
            FROM c JOIN clip ON c.event_type = clip.event_type
            GROUP BY c.event_type
        ),
        z AS (
            SELECT c.event_type, cents,
                   CASE WHEN CAST(s2 AS DOUBLE) / n
                             - (CAST(s1 AS DOUBLE) / n)
                               * (CAST(s1 AS DOUBLE) / n) > 0
                        THEN (cents - CAST(s1 AS DOUBLE) / n)
                             / sqrt(CAST(s2 AS DOUBLE) / n
                                    - (CAST(s1 AS DOUBLE) / n)
                                      * (CAST(s1 AS DOUBLE) / n))
                   END AS zv
            FROM c JOIN stats ON c.event_type = stats.event_type
        )
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CASE WHEN abs(zv) > 3 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_outliers,
               round(min(zv), 4) AS min_z,
               round(max(zv), 4) AS max_z
        FROM z
        GROUP BY event_type
        ORDER BY event_type
    """,
    description="Winsorized z-score anomaly detection: per-type robust "
    "location/scale computed from 5/95-clipped exact cents (discrete "
    "percentiles — both engines pick the same member; power sums as "
    "BIGINTs), then RAW values scored against the winsorized "
    "moments — outliers can no longer inflate the std that is supposed "
    "to catch them, the flaw of anomaly_zscore's plain σ this op "
    "exists to fix. Two aggregates + one broadcast join on the type "
    "key; z is one float chain over exact integers, NULL for zero-"
    "variance groups on both engines.",
)
def anomaly_winsorized_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "events").select(
        "event_type", scaled_long("value", 100).alias("cents")
    )
    clip = c.groupBy(F.col("event_type").alias("t")).agg(
        F.expr("percentile_disc(0.05) WITHIN GROUP (ORDER BY cents)").alias(
            "p05"
        ),
        F.expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY cents)").alias(
            "p95"
        ),
    )
    w = F.least(F.greatest(F.col("cents"), F.col("p05")), F.col("p95"))
    stats = (
        c.join(F.broadcast(clip), F.col("event_type") == F.col("t"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(w).alias("s1"),
            F.sum(w * w).alias("s2"),
        )
        .withColumnRenamed("event_type", "st")
    )
    mean = F.col("s1").cast("double") / F.col("n")
    var = F.col("s2").cast("double") / F.col("n") - mean * mean
    # Zero-variance groups (tiny or constant-valued types) yield NULL z
    # on both engines instead of a divide-by-zero / inf divergence.
    zv = F.when(var > 0, (F.col("cents") - mean) / F.sqrt(var))
    return (
        c.join(F.broadcast(stats), F.col("event_type") == F.col("st"))
        .select("event_type", zv.alias("zv"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.when(F.abs(F.col("zv")) > 3, 1).otherwise(0))
            .cast("long")
            .alias("n_outliers"),
            F.round(F.min("zv"), 4).alias("min_z"),
            F.round(F.max("zv"), 4).alias("max_z"),
        )
        .orderBy("event_type")
    )


@register(
    "sessionize_cross_device",
    oracle_sql="""
        WITH mapped AS (
            SELECT user_id % 50 AS person_id, user_id, ts
            FROM events
        ),
        flagged AS (
            SELECT person_id, user_id, ts,
                   CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (
                            PARTITION BY person_id ORDER BY ts, user_id
                        ) > 1800000000 OR lag(ts) OVER (
                            PARTITION BY person_id ORDER BY ts, user_id
                        ) IS NULL
                        THEN 1 ELSE 0 END AS new_session
            FROM mapped
        )
        SELECT person_id,
               CAST(sum(new_session) AS BIGINT) AS n_sessions,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_devices
        FROM flagged
        GROUP BY person_id
        ORDER BY person_id
    """,
    description="Cross-device sessionization (identity resolution "
    "shape): device ids fold onto canonical person ids (deterministic "
    "mod mapping stands in for the identity-graph dim a real pipeline "
    "broadcast-joins), then gaps-and-islands sessionizes the MERGED "
    "per-person stream — sessions spanning devices count once, the "
    "metric single-device sessionization structurally overstates. One "
    "person-key exchange shared by the window and all three "
    "aggregates; 30-minute gap in exact BIGINT microseconds.",
)
def sessionize_cross_device(spark: SparkSession, sf_dir: str) -> DataFrame:
    mapped = load(spark, sf_dir, "events").select(
        (F.col("user_id") % 50).alias("person_id"), "user_id", "ts"
    )
    w = Window.partitionBy("person_id").orderBy("ts", "user_id")
    prev = F.lag(F.unix_micros("ts")).over(w)
    new_session = F.when(
        prev.isNull() | (F.unix_micros("ts") - prev > 1_800_000_000), 1
    ).otherwise(0)
    return (
        mapped.withColumn("new_session", new_session)
        .groupBy("person_id")
        .agg(
            F.sum("new_session").cast("long").alias("n_sessions"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_devices"),
        )
        .orderBy("person_id")
    )


@register(
    "bidask_l2_depth_imbalance",
    oracle_sql="""
        WITH q AS (
            SELECT user_id, ts,
                   CAST(round(value * 100) AS BIGINT) AS c0,
                   lag(CAST(round(value * 100) AS BIGINT), 1) OVER w AS c1,
                   lag(CAST(round(value * 100) AS BIGINT), 2) OVER w AS c2
            FROM events WHERE event_type = 'view'
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT CAST(epoch_us(date_trunc('hour', ts)) AS BIGINT) AS bucket_us,
               CAST(count(*) AS BIGINT) AS n_obs,
               CAST(sum(c0 - c2) AS DOUBLE)
                   / sum(c0 + c1 + c2) AS imb_ratio
        FROM q
        WHERE c2 IS NOT NULL
        GROUP BY 1
        ORDER BY 1
    """,
    description="L2 depth imbalance proxy: each user's last three "
    "quotes form a synthetic book ladder (level 0 = freshest), and the "
    "hourly ratio Σ(top−bottom)/Σ(ladder) measures which way the "
    "ladder leans — the multi-level generalization of bidask_ofi's "
    "top-of-book deltas. Lag chain over one (ts, event_id)-ordered "
    "user partition, exact BIGINT cents, ONE division per hour bucket "
    "at the end.",
)
def bidask_l2_depth_imbalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    q = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type") == "view")
        .select(
            "user_id",
            "ts",
            "event_id",
            scaled_long("value", 100).alias("c0"),
        )
        .withColumn("c1", F.lag("c0", 1).over(w))
        .withColumn("c2", F.lag("c0", 2).over(w))
        .where(F.col("c2").isNotNull())
    )
    return (
        q.groupBy(F.unix_micros(F.date_trunc("hour", "ts")).alias("bucket_us"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_obs"),
            (
                F.sum(F.col("c0") - F.col("c2")).cast("double")
                / F.sum(F.col("c0") + F.col("c1") + F.col("c2"))
            ).alias("imb_ratio"),
        )
        .orderBy("bucket_us")
    )


@register(
    "udtf_table_argument",
    oracle_sql="""
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS total_cents
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
    description="Polymorphic UDTF with a TABLE(...) argument "
    "(Spark 4 table-valued function passing): the relation itself is "
    "the argument, PARTITION BY event_type routes each type's rows to "
    "one UDTF instance, and eval/terminate accumulate per-partition "
    "state — the SQL-standard surface for custom per-group table "
    "functions (the procedural twin of a grouped aggregate). Counts "
    "and exact cent sums are re-derived so the oracle is a plain GROUP "
    "BY; Arrow-batched rows, state bounded per partition.",
)
def udtf_table_argument(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import Row

    @udtf(returnType="event_type string, n bigint, total_cents bigint")
    class CountByType:
        def __init__(self) -> None:
            self._key = None
            self._n = 0
            self._sum = 0

        def eval(self, row: Row):
            self._key = row["event_type"]
            self._n += 1
            self._sum += row["cents"]
            return iter(())

        def terminate(self):
            if self._key is not None:
                yield (self._key, self._n, self._sum)

    spark.udtf.register("count_by_type_tbl", CountByType)
    load(spark, sf_dir, "events").select(
        "event_type", scaled_long("value", 100).alias("cents")
    ).createOrReplaceTempView("events_tbl_arg_v")
    return spark.sql(
        """
        SELECT * FROM count_by_type_tbl(
            TABLE(events_tbl_arg_v) PARTITION BY event_type
        )
        ORDER BY event_type
        """
    )


@register(
    "corpus_cross_lingual_contamination",
    oracle_sql="""
        WITH t AS (
            SELECT doc_id, lang, string_split(text, ' ') AS toks
            FROM documents
        ),
        g AS (
            SELECT DISTINCT doc_id, lang,
                   toks[i] || ' ' || toks[i + 1] AS gram
            FROM t, unnest(generate_series(1, len(toks) - 1)) AS u(i)
            WHERE len(toks) >= 2
        ),
        pairs AS (
            SELECT a.lang AS lang_a, b.lang AS lang_b,
                   a.doc_id AS doc_a, b.doc_id AS doc_b,
                   count(*) AS shared
            FROM g a
            JOIN g b ON a.gram = b.gram AND a.lang < b.lang
            GROUP BY 1, 2, 3, 4
        )
        SELECT lang_a, lang_b,
               CAST(count(*) AS BIGINT) AS n_doc_pairs,
               CAST(sum(CASE WHEN shared >= 5 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_contaminated,
               CAST(max(shared) AS BIGINT) AS max_shared
        FROM pairs
        GROUP BY 1, 2
        ORDER BY 1, 2
    """,
    description="Cross-lingual contamination scan: token-bigram "
    "postings joined ACROSS language blocks (a.lang < b.lang — the "
    "exact join every blocked dedup op prunes away) to find document "
    "pairs sharing >=5 shingles across languages — code-switching "
    "leaks, untranslated boilerplate, and mislabeled-language "
    "near-dups that per-language dedup is structurally blind to. "
    "Reported per language pair. At 100 TB the same query runs on the "
    "df-pruned shingle index (drop grams with df>threshold) — the "
    "posting join is O(Σ df²) in cross-lingual df, which is small "
    "by construction.",
)
def corpus_cross_lingual_contamination(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.split("text", " ").alias("toks")
    )
    grams = F.transform(
        F.sequence(F.lit(0), F.size("toks") - 2),
        lambda i: F.concat_ws(
            " ", F.element_at("toks", i + 1), F.element_at("toks", i + 2)
        ),
    )
    g = (
        docs.where(F.size("toks") >= 2)
        .select(
            "doc_id", "lang", F.explode(F.array_distinct(grams)).alias("gram")
        )
    )
    a, b = g.alias("a"), g.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.gram") == F.col("b.gram"))
            & (F.col("a.lang") < F.col("b.lang")),
        )
        .groupBy(
            F.col("a.lang").alias("lang_a"),
            F.col("b.lang").alias("lang_b"),
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return (
        pairs.groupBy("lang_a", "lang_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_doc_pairs"),
            F.sum(F.when(F.col("shared") >= 5, 1).otherwise(0))
            .cast("long")
            .alias("n_contaminated"),
            F.max("shared").cast("long").alias("max_shared"),
        )
        .orderBy("lang_a", "lang_b")
    )


_INCR_STAGE: dict[str, str] = {}


@register(
    "etl_incremental_materialize",
    oracle_sql="""
        SELECT event_type,
               CAST(epoch_us(date_trunc('hour', ts)) AS BIGINT) AS bucket_us,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS sum_cents
        FROM events
        GROUP BY 1, 2
        ORDER BY 1, 2
    """,
    description="Incremental materialization with a full-recompute "
    "oracle: events split into two deterministic arrival batches "
    "(event_id parity), batch 1's additive partials (count / exact "
    "cent sum per type-hour) land as a materialized parquet state, "
    "batch 2's partials MERGE into it by re-aggregation — and the "
    "graded output is the merged state, which must hash-equal the "
    "from-scratch aggregate the oracle computes. This is the "
    "correctness contract of every incremental pipeline (landing "
    "additive state beats reprocessing history), checkable precisely "
    "because count/sum partials are associative; the same shape backs "
    "stream_foreachbatch_compact's sink.",
)
def etl_incremental_materialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    def partials(df):
        return df.groupBy(
            "event_type",
            F.unix_micros(F.date_trunc("hour", "ts")).alias("bucket_us"),
        ).agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(scaled_long("value", 100)).alias("sum_cents"),
        )

    if sf_dir not in _INCR_STAGE:
        out = os.path.join(scratch_dir("incr_mat"), "state")
        ev = load(spark, sf_dir, "events")
        partials(ev.where(F.col("event_id") % 2 == 0)).write.mode(
            "overwrite"
        ).parquet(out)
        _INCR_STAGE[sf_dir] = out
    state = spark.read.parquet(_INCR_STAGE[sf_dir])
    batch2 = partials(
        load(spark, sf_dir, "events").where(F.col("event_id") % 2 == 1)
    )
    return (
        state.unionByName(batch2)
        .groupBy("event_type", "bucket_us")
        .agg(
            F.sum("n").cast("long").alias("n"),
            F.sum("sum_cents").cast("long").alias("sum_cents"),
        )
        .orderBy("event_type", "bucket_us")
    )


@register(
    "text_zipf_fit",
    oracle_sql="""
        WITH vocab AS (
            SELECT token, count(*) AS c
            FROM (SELECT unnest(string_split(text, ' ')) AS token
                  FROM documents)
            GROUP BY token
        ),
        ranked AS (
            SELECT c, row_number() OVER (ORDER BY c DESC, token) AS rnk
            FROM vocab
        ),
        pts AS (
            SELECT CAST(round(ln(rnk) * 10000) AS BIGINT) AS x,
                   CAST(round(ln(c) * 10000) AS BIGINT) AS y
            FROM ranked
        ),
        s AS (
            SELECT CAST(count(*) AS BIGINT) AS n, sum(x) AS sx, sum(y) AS sy,
                   sum(x * y) AS sxy, sum(x * x) AS sxx
            FROM pts
        )
        SELECT n AS n_vocab,
               CASE WHEN CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx > 0
                    THEN (CAST(n AS DOUBLE) * sxy
                          - CAST(sx AS DOUBLE) * sy)
                         / (CAST(n AS DOUBLE) * sxx
                            - CAST(sx AS DOUBLE) * sx)
               END AS zipf_slope,
               CASE WHEN CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx > 0
                    THEN (CAST(sy AS DOUBLE)
                          - (CAST(n AS DOUBLE) * sxy
                             - CAST(sx AS DOUBLE) * sy)
                            / (CAST(n AS DOUBLE) * sxx
                               - CAST(sx AS DOUBLE) * sx) * sx)
                         / n / 10000.0
               END AS zipf_intercept
        FROM s
    """,
    description="Zipf's-law fit over the corpus vocabulary: OLS slope "
    "of ln(frequency) on ln(rank) (natural text ≈ −1; far-off slopes "
    "flag synthetic/templated corpora or tokenizer damage — a corpus-"
    "health diagnostic). Ranks carry a total-order tie-break; each "
    "ln quantizes to the 1e-4 grid as BIGINT before the regression "
    "power sums, so the aggregate is exact and order-independent and "
    "the slope is one float chain. Vocab-sized work only (Zipf-"
    "bounded), one count shuffle + one rank window over post-aggregate "
    "rows.",
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = load(spark, sf_dir, "documents").select(
        F.explode(F.split("text", " ")).alias("token")
    )
    vocab = toks.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    w = Window.orderBy(F.col("c").desc(), "token")
    pts = vocab.select(
        F.floor(F.log(F.row_number().over(w).cast("double")) * 10000 + 0.5)
        .cast("long")
        .alias("x"),
        F.floor(F.log(F.col("c").cast("double")) * 10000 + 0.5)
        .cast("long")
        .alias("y"),
    )
    s = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    n = F.col("n").cast("double")
    denom = n * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    slope0 = (
        n * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    ) / denom
    # A 0/1-token vocabulary has no rank spread: NULL fit, both engines.
    # Unrounded: rationals of exact grid ints — identical IEEE chains
    # are bit-identical across engines; round() is the half-boundary
    # trap (see functions/parity.py).
    slope = F.when(denom > 0, slope0)
    intercept = F.when(
        denom > 0,
        (F.col("sy").cast("double") - slope0 * F.col("sx"))
        / F.col("n")
        / 10000.0,
    )
    return s.select(
        F.col("n").alias("n_vocab"),
        slope.alias("zipf_slope"),
        intercept.alias("zipf_intercept"),
    )


# The cluster-stats oracle wraps the shared CC edge CTEs (same source of
# truth as dedup_connected_components' own oracle — cannot drift).
def _cluster_stats_oracle() -> str:
    from etl_intraday_bidask_spark.operators.llm_ops import UNIGRAM_PAIRS_CTES

    return f"""
        WITH RECURSIVE {UNIGRAM_PAIRS_CTES},
        edges AS (
            SELECT doc_lo AS src, doc_hi AS dst FROM uscored
            UNION ALL
            SELECT doc_hi AS src, doc_lo AS dst FROM uscored
        ),
        nodes AS (SELECT DISTINCT src AS doc_id FROM edges),
        reach(a, b) AS (
            SELECT doc_id, doc_id FROM nodes
            UNION
            SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
        ),
        comp AS (SELECT a AS doc_id, min(b) AS component FROM reach GROUP BY a),
        sizes AS (SELECT component, count(*) AS n_members
                  FROM comp GROUP BY component)
        SELECT CAST(n_members AS BIGINT) AS cluster_size,
               CAST(count(*) AS BIGINT) AS n_clusters
        FROM sizes
        GROUP BY n_members
        ORDER BY cluster_size
    """


@register(
    "corpus_dedup_cluster_stats",
    oracle_sql=_cluster_stats_oracle(),
    description="Duplicate-cluster size histogram: the connected-"
    "components output (each doc → its cluster and cluster size) "
    "reduced to the distribution of cluster sizes — the dedup "
    "observability metric (a fat tail of giant clusters means "
    "boilerplate is eating the corpus; all-2 clusters mean mirror "
    "pairs). Re-uses the registered CC operator's plan; distinct "
    "(component, size) pairs are cluster-count-sized, the histogram "
    "aggregate is tiny.",
)
def corpus_dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_intraday_bidask_spark.registry import REGISTRY

    cc = REGISTRY["dedup_connected_components"].spark_fn(spark, sf_dir)
    return (
        cc.select("component", "n_members")
        .distinct()
        .groupBy(F.col("n_members").alias("cluster_size"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_clusters"))
        .orderBy("cluster_size")
    )


@register(
    "sample_importance_reweight",
    oracle_sql="""
        WITH per_src AS (
            SELECT source, CAST(count(*) AS BIGINT) AS n_docs
            FROM documents GROUP BY source
        ),
        scaled AS (
            SELECT source, n_docs,
                   CAST(round(sqrt(n_docs) * 1000000) AS BIGINT) AS s_e6
            FROM per_src
        ),
        tot AS (
            SELECT sum(s_e6) AS sum_s, sum(n_docs) AS n_total FROM scaled
        )
        SELECT source, n_docs,
               CAST(s_e6 AS DOUBLE) / sum_s AS p_target,
               CAST(s_e6 AS DOUBLE) / sum_s * n_total / n_docs AS weight
        FROM scaled, tot
        ORDER BY source
    """,
    description="Temperature-0.5 importance reweighting: target mix "
    "p_s ∝ sqrt(n_s) (the standard multilingual/domain rebalancing "
    "temperature) and per-document weight w_s = p_s·N/n_s — what an "
    "up/down-sampling data loader multiplies by. Each sqrt quantizes "
    "to a 1e-6-grid BIGINT before the normalizing sum, so the "
    "denominator is exact and order-independent; shares and weights "
    "are single float chains. Source-cardinality-sized work after one "
    "count aggregate; the 1-row total broadcasts.",
)
def sample_importance_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_src = (
        load(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .withColumn(
            "s_e6",
            F.floor(F.sqrt(F.col("n_docs").cast("double")) * 1000000 + 0.5)
            .cast("long"),
        )
    )
    tot = per_src.agg(
        F.sum("s_e6").alias("sum_s"), F.sum("n_docs").alias("n_total")
    )
    p = F.col("s_e6").cast("double") / F.col("sum_s")
    return (
        per_src.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            p.alias("p_target"),
            (p * F.col("n_total") / F.col("n_docs")).alias("weight"),
        )
        .orderBy("source")
    )


@register(
    "bidask_returns_acf",
    oracle_sql="""
        WITH hourly AS (
            SELECT h, c FROM (
                SELECT date_trunc('hour', ts) AS h,
                       CAST(round(value * 100) AS BIGINT) AS c,
                       row_number() OVER (
                           PARTITION BY date_trunc('hour', ts)
                           ORDER BY ts DESC, event_id DESC) AS rn
                FROM events WHERE event_type = 'view'
            ) WHERE rn = 1
        ),
        rets AS (
            SELECT h, c - lag(c) OVER (ORDER BY h) AS r
            FROM hourly
        ),
        lagged AS (
            SELECT r,
                   lag(r, 1) OVER (ORDER BY h) AS r1,
                   lag(r, 2) OVER (ORDER BY h) AS r2,
                   lag(r, 3) OVER (ORDER BY h) AS r3
            FROM rets WHERE r IS NOT NULL
        ),
        stacked AS (
            SELECT 1 AS lag_k, r, r1 AS rk FROM lagged WHERE r1 IS NOT NULL
            UNION ALL
            SELECT 2, r, r2 FROM lagged WHERE r2 IS NOT NULL
            UNION ALL
            SELECT 3, r, r3 FROM lagged WHERE r3 IS NOT NULL
        ),
        s AS (
            SELECT lag_k, CAST(count(*) AS BIGINT) AS n,
                   sum(r) AS sa, sum(rk) AS sb, sum(r * rk) AS sab,
                   sum(r * r) AS saa, sum(rk * rk) AS sbb
            FROM stacked GROUP BY lag_k
        )
        SELECT lag_k, n,
               CASE WHEN n * saa - sa * sa > 0 AND n * sbb - sb * sb > 0
                    THEN round((CAST(n AS DOUBLE) * sab
                                - CAST(sa AS DOUBLE) * sb)
                               / sqrt(CAST(n * saa - sa * sa AS DOUBLE))
                               / sqrt(CAST(n * sbb - sb * sb AS DOUBLE)), 4)
                    END AS acf
        FROM s
        ORDER BY lag_k
    """,
    description="Return autocorrelation (lags 1-3) of the hourly quote "
    "closes: the microstructure mean-reversion signature (bid-ask "
    "bounce shows as negative lag-1 ACF). Hourly close = max-(ts, "
    "event_id) quote per hour (deterministic under duplicates), "
    "returns are exact integer cent diffs, and each lag's Pearson "
    "coefficient comes from exact BIGINT power sums — same mergeable-"
    "moments discipline as win_rolling_corr_24h. Windows run on the "
    "calendar-bounded hourly series.",
)
def bidask_returns_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").where(F.col("event_type") == "view")
    hr = Window.partitionBy(F.date_trunc("hour", "ts")).orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    hourly = (
        ev.select(
            F.date_trunc("hour", "ts").alias("h"),
            "ts",
            "event_id",
            scaled_long("value", 100).alias("c"),
        )
        .withColumn("rn", F.row_number().over(hr))
        .where(F.col("rn") == 1)
    )
    wh = Window.orderBy("h")
    rets = hourly.select(
        "h", (F.col("c") - F.lag("c").over(wh)).alias("r")
    ).where(F.col("r").isNotNull())
    lagged = rets.select(
        "r",
        F.lag("r", 1).over(wh).alias("r1"),
        F.lag("r", 2).over(wh).alias("r2"),
        F.lag("r", 3).over(wh).alias("r3"),
    )
    stacked = lagged.select(
        F.explode(
            F.array(
                F.struct(F.lit(1).alias("lag_k"), F.col("r1").alias("rk")),
                F.struct(F.lit(2).alias("lag_k"), F.col("r2").alias("rk")),
                F.struct(F.lit(3).alias("lag_k"), F.col("r3").alias("rk")),
            )
        ).alias("g"),
        "r",
    ).select(
        F.col("g.lag_k").alias("lag_k"), "r", F.col("g.rk").alias("rk")
    ).where(F.col("rk").isNotNull())
    s = stacked.groupBy("lag_k").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("r").alias("sa"),
        F.sum("rk").alias("sb"),
        F.sum(F.col("r") * F.col("rk")).alias("sab"),
        F.sum(F.col("r") * F.col("r")).alias("saa"),
        F.sum(F.col("rk") * F.col("rk")).alias("sbb"),
    )
    da = F.col("n") * F.col("saa") - F.col("sa") * F.col("sa")
    db = F.col("n") * F.col("sbb") - F.col("sb") * F.col("sb")
    acf = F.when(
        (da > 0) & (db > 0),
        F.round(
            (
                F.col("n").cast("double") * F.col("sab")
                - F.col("sa").cast("double") * F.col("sb")
            )
            / F.sqrt(da.cast("double"))
            / F.sqrt(db.cast("double")),
            4,
        ),
    )
    return s.select(
        F.col("lag_k").cast("int").alias("lag_k"), "n", acf.alias("acf")
    ).orderBy("lag_k")


@register(
    "bidask_volume_clock",
    oracle_sql="""
        WITH p AS (
            SELECT CAST(date_trunc('day', ts) AS DATE) AS d, ts, event_id,
                   CAST(round(value * 100) AS BIGINT) AS cents
            FROM events WHERE event_type = 'purchase'
        ),
        cum AS (
            SELECT d, ts, event_id, cents,
                   coalesce(sum(cents) OVER (
                       PARTITION BY d ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) // 500000 AS bar_id
            FROM p
        )
        SELECT d, CAST(bar_id AS BIGINT) AS bar_id,
               CAST(count(*) AS BIGINT) AS n_trades,
               CAST(min(epoch_us(ts)) AS BIGINT) AS open_us,
               CAST(max(epoch_us(ts)) AS BIGINT) AS close_us,
               CAST(sum(cents) AS BIGINT) AS bar_cents
        FROM cum
        GROUP BY d, bar_id
        ORDER BY d, bar_id
    """,
    description="Volume-clock bars (Easley/López de Prado): trades "
    "bucket by CUMULATIVE traded value (every 5000.00 of flow opens a "
    "new bar) instead of wall time — bars carry equal information "
    "under bursty flow, where time bars alternate empty and "
    "overstuffed. The prefix sum is inherently sequential, so it "
    "PARTITIONS BY DAY (bars reset daily — the standard production "
    "compromise that bounds the sequential span and distributes the "
    "job); within a day: one ordered window + one aggregate, exact "
    "BIGINT cents, bar assignment by integer division of the "
    "PRE-trade cumulative (first trade of a day is always bar 0).",
)
def bidask_volume_clock(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select(
            F.to_date(F.date_trunc("day", "ts")).alias("d"),
            "ts",
            "event_id",
            scaled_long("value", 100).alias("cents"),
        )
    )
    w = (
        Window.partitionBy("d")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = p.withColumn(
        "bar_id",
        F.floor(
            F.coalesce(F.sum("cents").over(w), F.lit(0)) / F.lit(500000)
        ).cast("long"),
    )
    return (
        cum.groupBy("d", "bar_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_trades"),
            F.min(F.unix_micros("ts")).alias("open_us"),
            F.max(F.unix_micros("ts")).alias("close_us"),
            F.sum("cents").cast("long").alias("bar_cents"),
        )
        .orderBy("d", "bar_id")
    )


@register(
    "dq_freshness_sla",
    oracle_sql="""
        WITH anchor AS (SELECT max(ts) AS global_max FROM events)
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(epoch_us(max(ts)) AS BIGINT) AS latest_us,
               CAST((epoch_us(max(anchor.global_max)) - epoch_us(max(ts)))
                    // 60000000 AS BIGINT) AS lag_minutes,
               (epoch_us(max(anchor.global_max)) - epoch_us(max(ts)))
                   // 60000000 <= 120 AS sla_ok
        FROM events, anchor
        GROUP BY event_type
        ORDER BY event_type
    """,
    description="Per-stream freshness SLA: each event type's latest "
    "arrival measured against the corpus watermark (the global max — "
    "a deterministic stand-in for now(), which would break replay/"
    "parity), with integer-minute lag and a 2-hour SLA verdict — the "
    "first monitor any landing pipeline needs (a silent upstream stall "
    "shows as one type's lag growing while the watermark advances). "
    "One aggregate + a 1-row broadcast; exact BIGINT microseconds.",
)
def dq_freshness_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    anchor = ev.agg(F.max("ts").alias("global_max"))
    lag_min = (
        (
            F.unix_micros("global_max") - F.unix_micros(F.col("latest"))
        )
        / 60000000
    ).cast("long")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.max("ts").alias("latest"),
        )
        .crossJoin(F.broadcast(anchor))
        .select(
            "event_type",
            "n_events",
            F.unix_micros("latest").alias("latest_us"),
            lag_min.alias("lag_minutes"),
            (lag_min <= 120).alias("sla_ok"),
        )
        .orderBy("event_type")
    )


@register(
    "join_asof_nearest",
    oracle_sql="""
        WITH merged AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN event_type = 'purchase' THEN value END AS pv,
                   CASE WHEN event_type = 'view' THEN value END AS vv,
                   CASE WHEN event_type = 'view' THEN epoch_us(ts) END AS vus,
                   CASE WHEN event_type = 'view' THEN 0 ELSE 1 END AS side
            FROM events WHERE event_type IN ('view', 'purchase')
        ),
        framed AS (
            SELECT *,
                   last_value(vv IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY ts, side, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS prev_v,
                   last_value(vus IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY ts, side, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS prev_us,
                   first_value(vv IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY ts, side, event_id
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
                   ) AS next_v,
                   first_value(vus IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY ts, side, event_id
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
                   ) AS next_us
            FROM merged
        )
        SELECT event_id, user_id, pv AS purchase_value,
               CASE
                   WHEN prev_us IS NULL THEN next_v
                   WHEN next_us IS NULL THEN prev_v
                   WHEN epoch_us(ts) - prev_us <= next_us - epoch_us(ts)
                       THEN prev_v
                   ELSE next_v
               END AS nearest_view_value
        FROM framed
        WHERE side = 1
        ORDER BY event_id
    """,
    description="Nearest-in-time as-of join: each purchase matched to "
    "the CLOSEST view in either direction (ties to the earlier quote) "
    "— the midpoint-matching rule for marking trades when quotes can "
    "arrive late, completing the as-of family (backward join_asof_"
    "bidask, forward join_asof_forward, tolerance, and now nearest). "
    "One user exchange carries both the backward and forward frames "
    "over the same sorted union; views sort before purchases at equal "
    "timestamps, so 'previous' is at-or-before and 'next' strictly "
    "after, and the tie comparison is exact BIGINT microseconds.",
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").where(
        F.col("event_type").isin("view", "purchase")
    )
    merged = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "purchase", F.col("value")).alias("pv"),
        F.when(F.col("event_type") == "view", F.col("value")).alias("vv"),
        F.when(
            F.col("event_type") == "view", F.unix_micros("ts")
        ).alias("vus"),
        F.when(F.col("event_type") == "view", 0).otherwise(1).alias("side"),
    )
    order = ["ts", "side", "event_id"]
    back = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fwd = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    framed = merged.select(
        "event_id",
        "user_id",
        "ts",
        "pv",
        "side",
        F.last("vv", ignorenulls=True).over(back).alias("prev_v"),
        F.last("vus", ignorenulls=True).over(back).alias("prev_us"),
        F.first("vv", ignorenulls=True).over(fwd).alias("next_v"),
        F.first("vus", ignorenulls=True).over(fwd).alias("next_us"),
    ).where(F.col("side") == 1)
    us = F.unix_micros("ts")
    nearest = (
        F.when(F.col("prev_us").isNull(), F.col("next_v"))
        .when(F.col("next_us").isNull(), F.col("prev_v"))
        .when(
            us - F.col("prev_us") <= F.col("next_us") - us, F.col("prev_v")
        )
        .otherwise(F.col("next_v"))
    )
    return framed.select(
        "event_id",
        "user_id",
        F.col("pv").alias("purchase_value"),
        nearest.alias("nearest_view_value"),
    ).orderBy("event_id")


@register(
    "set_intersect_except_all",
    oracle_sql="""
        WITH a AS (
            SELECT o_orderpriority AS prio FROM orders
            WHERE o_orderstatus = 'O'
        ),
        b AS (
            SELECT o_orderpriority AS prio FROM orders
            WHERE o_totalprice >= 50000
        ),
        i AS (SELECT prio FROM a INTERSECT ALL SELECT prio FROM b),
        e AS (SELECT prio FROM a EXCEPT ALL SELECT prio FROM b)
        SELECT 'intersect_all' AS op, prio,
               CAST(count(*) AS BIGINT) AS n
        FROM i GROUP BY prio
        UNION ALL
        SELECT 'except_all', prio, CAST(count(*) AS BIGINT)
        FROM e GROUP BY prio
        ORDER BY op, prio
    """,
    description="Multiset set operations: INTERSECT ALL keeps "
    "min(multiplicity) per value and EXCEPT ALL subtracts "
    "multiplicities (vs the DISTINCT forms in §2.7, which collapse to "
    "membership) — the bag semantics reconciliation/diff jobs need "
    "when HOW MANY matters. Both compile to a multiplicity aggregate "
    "+ one equality join, never a row-pairing; graded per remaining "
    "value so the multiplicity arithmetic itself is hash-checked.",
)
def set_intersect_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    a = orders.where(F.col("o_orderstatus") == "O").select(
        F.col("o_orderpriority").alias("prio")
    )
    b = orders.where(F.col("o_totalprice") >= 50000).select(
        F.col("o_orderpriority").alias("prio")
    )
    i = (
        a.intersectAll(b)
        .groupBy("prio")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .withColumn("op", F.lit("intersect_all"))
    )
    e = (
        a.exceptAll(b)
        .groupBy("prio")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .withColumn("op", F.lit("except_all"))
    )
    return i.unionByName(e).select("op", "prio", "n").orderBy("op", "prio")


@register(
    "scan_metadata_columns",
    oracle_sql="""
        SELECT 'events.parquet' AS file_name,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(min(event_id) AS BIGINT) AS min_id,
               CAST(max(event_id) AS BIGINT) AS max_id
        FROM events
        HAVING count(*) > 0
    """,
    description="Hidden file-metadata columns: the scan exposes "
    "_metadata.file_name alongside the data (Spark's reserved metadata "
    "struct — no extra I/O, resolved from the file index), grouped to "
    "prove every row attributes to the expected physical file — the "
    "lineage/debugging primitive for lake audits (which file produced "
    "this corrupt row?). The oracle pins the expected basename and the "
    "per-file row stats; a multi-file layout would emit one row per "
    "file with the same plan.",
)
def scan_metadata_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.select(
            F.element_at(
                F.split(F.col("_metadata.file_name"), "/"), -1
            ).alias("file_name"),
            "event_id",
        )
        .groupBy("file_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min("event_id").cast("long").alias("min_id"),
            F.max("event_id").cast("long").alias("max_id"),
        )
    )


@register(
    "text_vocab_overlap_matrix",
    oracle_sql="""
        WITH v AS (
            SELECT DISTINCT lang,
                   unnest(string_split(text, ' ')) AS token
            FROM documents
        ),
        sz AS (SELECT lang, count(*) AS n FROM v GROUP BY lang),
        shared AS (
            SELECT a.lang AS lang_a, b.lang AS lang_b, count(*) AS n_shared
            FROM v a JOIN v b ON a.token = b.token AND a.lang < b.lang
            GROUP BY 1, 2
        )
        SELECT lang_a, lang_b,
               CAST(n_shared AS BIGINT) AS n_shared,
               CAST(n_shared AS DOUBLE)
                   / (sa.n + sb.n - n_shared) AS vocab_jaccard
        FROM shared
        JOIN sz sa ON lang_a = sa.lang
        JOIN sz sb ON lang_b = sb.lang
        ORDER BY lang_a, lang_b
    """,
    description="Language-pair vocabulary overlap matrix: distinct "
    "token sets per language, pairwise shared-token counts and vocab "
    "Jaccard — the corpus-level view of cross-lingual leakage (the "
    "doc-level companion is corpus_cross_lingual_contamination): a "
    "language pair whose vocab Jaccard jumps between crawls signals "
    "mislabeled documents at scale. Token-postings join blocked to "
    "cross-lang pairs only, |langs|²-row output, per-lang sizes "
    "broadcast for the final ratio.",
)
def text_vocab_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = (
        load(spark, sf_dir, "documents")
        .select(
            "lang",
            F.explode(F.array_distinct(F.split("text", " "))).alias("token"),
        )
        .distinct()
    )
    sz = v.groupBy(F.col("lang").alias("szl")).agg(
        F.count(F.lit(1)).alias("n")
    )
    a, b = v.alias("a"), v.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.token") == F.col("b.token"))
            & (F.col("a.lang") < F.col("b.lang")),
        )
        .groupBy(
            F.col("a.lang").alias("lang_a"), F.col("b.lang").alias("lang_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    sa, sb = sz.alias("sa"), sz.alias("sb")
    jac = F.col("n_shared").cast("double") / (
        F.col("sa.n") + F.col("sb.n") - F.col("n_shared")
    )
    return (
        shared.join(F.broadcast(sa), F.col("lang_a") == F.col("sa.szl"))
        .join(F.broadcast(sb), F.col("lang_b") == F.col("sb.szl"))
        .select(
            "lang_a", "lang_b", "n_shared", jac.alias("vocab_jaccard")
        )
        .orderBy("lang_a", "lang_b")
    )


@register(
    "corpus_ngram_novelty_rate",
    oracle_sql="""
        WITH g AS (
            SELECT DISTINCT doc_id,
                   toks[i] || ' ' || toks[i + 1] AS gram
            FROM (SELECT doc_id, string_split(text, ' ') AS toks
                  FROM documents) t,
                 unnest(generate_series(1, len(toks) - 1)) AS u(i)
            WHERE len(toks) >= 2
        ),
        first_seen AS (
            SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY gram
        )
        SELECT g.doc_id,
               CAST(count(*) AS BIGINT) AS n_grams,
               CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_novel,
               CAST(sum(CASE WHEN f.first_doc = g.doc_id
                             THEN 1 ELSE 0 END) AS DOUBLE)
                   / count(*) AS novelty_rate
        FROM g JOIN first_seen f ON g.gram = f.gram
        GROUP BY g.doc_id
        ORDER BY g.doc_id
    """,
    description="N-gram novelty curve: per document (in doc_id "
    "ingestion order), the fraction of its distinct bigrams never "
    "seen in ANY earlier document — the curation signal that a crawl "
    "has gone stale (novelty rate decaying toward zero means new "
    "documents add no new content; a cheap corpus-level complement to "
    "pairwise dedup). First-seen is a min aggregate per gram (map-"
    "side combined), joined back on the gram key; no window over the "
    "corpus, no quadratic anything.",
)
def corpus_ngram_novelty_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    grams = F.transform(
        F.sequence(F.lit(0), F.size("toks") - 2),
        lambda i: F.concat_ws(
            " ", F.element_at("toks", i + 1), F.element_at("toks", i + 2)
        ),
    )
    # No .distinct(): explode(array_distinct(...)) already emits each
    # (doc_id, gram) exactly once, so the global dedup was a full
    # corpus-sized exchange that bought nothing (SCALE.md §23 class;
    # same finding as wave E's corpus_dup_threshold_curve).
    g = docs.where(F.size("toks") >= 2).select(
        "doc_id", F.explode(F.array_distinct(grams)).alias("gram")
    )
    first_seen = g.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    joined = g.join(first_seen, "gram")
    novel = F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    return (
        joined.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum(novel).cast("long").alias("n_novel"),
            (
                F.sum(novel).cast("double") / F.count(F.lit(1))
            ).alias("novelty_rate"),
        )
        .orderBy("doc_id")
    )


@register(
    "multimodal_shard_manifest",
    oracle_sql="""
        WITH cum AS (
            SELECT lang, doc_id, n_chars,
                   coalesce(sum(n_chars) OVER (
                       PARTITION BY lang ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) // 50000 AS shard_id
            FROM documents
        )
        SELECT lang, CAST(shard_id AS BIGINT) AS shard_id,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS shard_bytes,
               CAST(min(doc_id) AS BIGINT) AS first_doc,
               CAST(max(doc_id) AS BIGINT) AS last_doc
        FROM cum
        GROUP BY lang, shard_id
        ORDER BY lang, shard_id
    """,
    description="WebDataset-style shard manifest: documents pack into "
    "~50 KB shards by cumulative size in deterministic doc_id order, "
    "emitting each shard's doc range and byte count — the manifest a "
    "training data-loader streams from (same pre-row cumulative-"
    "division shape as pack_token_sequences and the volume clock). "
    "The prefix sum partitions by language — shards never straddle a "
    "language, which both bounds the sequential span and matches how "
    "multilingual loaders sample; binary payload sizes would use the "
    "same plan with length(payload).",
)
def multimodal_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = load(spark, sf_dir, "documents").select(
        "lang",
        "doc_id",
        "n_chars",
        F.floor(
            F.coalesce(F.sum("n_chars").over(w), F.lit(0)) / F.lit(50000)
        )
        .cast("long")
        .alias("shard_id"),
    )
    return (
        cum.groupBy("lang", "shard_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("shard_bytes"),
            F.min("doc_id").cast("long").alias("first_doc"),
            F.max("doc_id").cast("long").alias("last_doc"),
        )
        .orderBy("lang", "shard_id")
    )


@register(
    "join_dim_snapshot_asof",
    oracle_sql="""
        WITH versions AS (
            SELECT c_custkey, 1 AS version,
                   CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents,
                   TIMESTAMP '1900-01-01' AS valid_from,
                   TIMESTAMP '1998-01-01' AS valid_to
            FROM customer
            UNION ALL
            SELECT c_custkey, 2,
                   CAST(round(c_acctbal * 100) AS BIGINT) + 10000,
                   TIMESTAMP '1998-01-01', TIMESTAMP '9999-01-01'
            FROM customer
        )
        SELECT v.version,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS revenue_cents,
               CAST(sum(v.bal_cents) AS BIGINT) AS joined_bal_cents
        FROM orders o
        JOIN versions v
          ON o.o_custkey = v.c_custkey
         AND o.o_orderdate >= v.valid_from
         AND o.o_orderdate < v.valid_to
        GROUP BY v.version
        ORDER BY v.version
    """,
    description="SCD2 snapshot as-of join: each fact joins the "
    "dimension VERSION valid at its event time (synthetic two-version "
    "customer history split at 1998-01-01 — the dim merge_upsert_scd2 "
    "maintains for real) via custkey equality + a validity-interval "
    "predicate — the point-in-time-correct enrichment that prevents "
    "time-travel leakage in both BI and training-feature pipelines. "
    "The versioned dim broadcasts (dims are small; at lake scale the "
    "fallback is the version-bucketed equi join); each fact matches "
    "EXACTLY one version because validity intervals partition time — "
    "graded per version so a boundary error flips the hash.",
)
def join_dim_snapshot_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    cutoff = F.lit("1998-01-01").cast("timestamp")
    v1 = cust.select(
        "c_custkey",
        F.lit(1).alias("version"),
        scaled_long("c_acctbal", 100).alias("bal_cents"),
        F.lit("1900-01-01").cast("timestamp").alias("valid_from"),
        cutoff.alias("valid_to"),
    )
    v2 = cust.select(
        "c_custkey",
        F.lit(2).alias("version"),
        (scaled_long("c_acctbal", 100) + 10000).alias("bal_cents"),
        cutoff.alias("valid_from"),
        F.lit("9999-01-01").cast("timestamp").alias("valid_to"),
    )
    versions = v1.unionByName(v2)
    orders = load(spark, sf_dir, "orders")
    return (
        orders.join(
            F.broadcast(versions),
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("o_orderdate") >= F.col("valid_from"))
            & (F.col("o_orderdate") < F.col("valid_to")),
        )
        .groupBy("version")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(scaled_long("o_totalprice", 100))
            .cast("long")
            .alias("revenue_cents"),
            F.sum("bal_cents").cast("long").alias("joined_bal_cents"),
        )
        .orderBy("version")
    )


@register(
    "win_first_touch_attribution",
    oracle_sql="""
        WITH merged AS (
            SELECT user_id, ts,
                   CASE WHEN event_type = 'purchase' THEN value END AS pv,
                   CASE WHEN event_type = 'click'
                        THEN epoch_us(ts) END AS cus,
                   CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS side
            FROM events WHERE event_type IN ('click', 'purchase')
        ),
        attributed AS (
            SELECT user_id, pv, side,
                   min(cus) OVER w AS first_cus
            FROM merged
            WINDOW w AS (PARTITION BY user_id ORDER BY ts
                         RANGE BETWEEN INTERVAL 24 HOURS PRECEDING
                         AND CURRENT ROW)
        )
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_purchases,
               CAST(sum(CASE WHEN first_cus IS NOT NULL
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_attributed,
               CAST(sum(CASE WHEN first_cus IS NOT NULL
                             THEN CAST(round(pv * 100) AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS attributed_cents,
               CAST(min(first_cus) AS BIGINT) AS earliest_click_us
        FROM attributed
        WHERE side = 1
        GROUP BY user_id
        ORDER BY user_id
    """,
    description="First-touch attribution: each purchase credits the "
    "EARLIEST click time in the trailing 24-hour window per user (the "
    "marketing-attribution rule; last-touch is the same frame with "
    "max) — a RANGE-bounded backward MIN over the merged click/"
    "purchase stream, which neither a plain as-of (wants the latest) "
    "nor a join (re-scans per purchase) expresses. The first touch is "
    "min(click µs) — an aggregate, not a first_value, so peers at an "
    "equal instant cannot make the answer order-dependent; a same-"
    "instant click attributes (RANGE frames peer on the order value). "
    "One user exchange, exact cents, 24-hour-bounded window state.",
)
def win_first_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "purchase")
    )
    merged = ev.select(
        "user_id",
        "ts",
        F.when(F.col("event_type") == "purchase", F.col("value")).alias("pv"),
        F.when(
            F.col("event_type") == "click", F.unix_micros("ts")
        ).alias("cus"),
        F.when(F.col("event_type") == "click", 0).otherwise(1).alias("side"),
    )
    # RANGE frame over a single numeric key (microseconds); frames peer
    # on the order VALUE, so a same-instant click is in-frame for its
    # purchase on both engines — no side/epsilon needed because the
    # first touch is an aggregate (min), not a positional first_value.
    us = F.unix_micros("ts")
    w = (
        Window.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(-24 * 3600 * 1000000, Window.currentRow)
    )
    attributed = merged.select(
        "user_id",
        "pv",
        "side",
        F.min("cus").over(w).alias("first_cus"),
    ).where(F.col("side") == 1)
    return (
        attributed.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_purchases"),
            F.sum(F.when(F.col("first_cus").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_attributed"),
            F.sum(
                F.when(
                    F.col("first_cus").isNotNull(),
                    F.floor(F.col("pv") * 100 + 0.5).cast("long"),
                ).otherwise(0)
            )
            .cast("long")
            .alias("attributed_cents"),
            F.min("first_cus").cast("long").alias("earliest_click_us"),
        )
        .orderBy("user_id")
    )


@register(
    "etl_late_arriving_dim_repair",
    oracle_sql="""
        WITH present AS (
            SELECT c_custkey, c_mktsegment FROM customer
            WHERE c_custkey % 10 <> 0
        ),
        phase1 AS (
            SELECT o_orderkey, o_totalprice,
                   coalesce(p.c_mktsegment, 'UNKNOWN') AS segment
            FROM orders o LEFT JOIN present p ON o.o_custkey = p.c_custkey
        ),
        phase2 AS (
            SELECT o_orderkey, o_totalprice, c.c_mktsegment AS segment
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        )
        SELECT 'phase1_degraded' AS phase, segment,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS revenue_cents
        FROM phase1 GROUP BY segment
        UNION ALL
        SELECT 'phase2_repaired', segment, CAST(count(*) AS BIGINT),
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        FROM phase2 GROUP BY segment
        ORDER BY phase, segment
    """,
    description="Late-arriving dimension repair: phase 1 lands facts "
    "against an incomplete dim (every 10th customer 'not yet arrived') "
    "with the misses parked under an explicit UNKNOWN member — the "
    "inferred-member pattern that keeps revenue totals right while "
    "attribution waits — and phase 2 re-attributes once the dim "
    "catches up. Both phases are graded side by side, so the hash "
    "proves (a) no fact is ever dropped in the degraded phase and "
    "(b) the repair conserves totals while draining UNKNOWN. Broadcast "
    "left join + broadcast join, one aggregate each.",
)
def etl_late_arriving_dim_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    present = cust.where(F.col("c_custkey") % 10 != 0).select(
        "c_custkey", "c_mktsegment"
    )
    cents = F.sum(scaled_long("o_totalprice", 100)).cast("long")

    phase1 = (
        orders.join(
            F.broadcast(present), F.col("o_custkey") == F.col("c_custkey"), "left"
        )
        .select(
            F.coalesce(F.col("c_mktsegment"), F.lit("UNKNOWN")).alias(
                "segment"
            ),
            "o_totalprice",
        )
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            cents.alias("revenue_cents"),
        )
        .withColumn("phase", F.lit("phase1_degraded"))
    )
    phase2 = (
        orders.join(
            F.broadcast(cust.select("c_custkey", "c_mktsegment")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(F.col("c_mktsegment").alias("segment"), "o_totalprice")
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            cents.alias("revenue_cents"),
        )
        .withColumn("phase", F.lit("phase2_repaired"))
    )
    return (
        phase1.unionByName(phase2)
        .select("phase", "segment", "n_orders", "revenue_cents")
        .orderBy("phase", "segment")
    )


@register(
    "graph_triangle_count",
    oracle_sql="""
        WITH buckets AS (
            SELECT DISTINCT date_trunc('hour', ts) AS h, user_id
            FROM events WHERE event_type = 'purchase'
        ),
        edges AS (
            SELECT DISTINCT a.user_id AS u, b.user_id AS v
            FROM buckets a
            JOIN buckets b ON a.h = b.h AND a.user_id < b.user_id
        ),
        tri AS (
            SELECT e1.u AS a, e1.v AS b, e2.v AS c
            FROM edges e1
            JOIN edges e2 ON e1.v = e2.u
            JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
        )
        SELECT CAST(count(*) AS BIGINT) AS n_triangles,
               (SELECT CAST(count(*) AS BIGINT) FROM edges) AS n_edges,
               (SELECT CAST(count(DISTINCT u) AS BIGINT) FROM (
                   SELECT u FROM edges UNION ALL SELECT v FROM edges))
                   AS n_vertices
        FROM tri
    """,
    description="Triangle counting on the co-purchase graph (users who "
    "purchased in the same hour are adjacent): the classic clustering-"
    "coefficient motif, computed with the ordered-edge join (u<v<w "
    "orientation means each triangle is produced exactly once and the "
    "join degree is bounded by out-degree, the standard MapReduce "
    "formulation) — never an all-pairs expansion. Completes the graph "
    "family (pagerank = centrality, CC = components, triangles = "
    "cohesion). Edge build is a bucket self-join on the hour key; "
    "at scale the same query runs on an explicit edge table.",
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
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
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    tri = e1.join(e2, F.col("e1.v") == F.col("e2.u")).join(
        e3,
        (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")),
    )
    n_tri = tri.agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    n_edges = edges.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    n_vert = (
        edges.select(F.col("u").alias("x"))
        .unionByName(edges.select(F.col("v").alias("x")))
        .agg(F.countDistinct("x").cast("long").alias("n_vertices"))
    )
    return n_tri.crossJoin(F.broadcast(n_edges)).crossJoin(
        F.broadcast(n_vert)
    )


@register(
    "win_median_sliding_hourly",
    oracle_sql="""
        WITH hourly AS (
            SELECT date_trunc('hour', ts) AS h,
                   sum(CAST(round(value * 100) AS BIGINT)) AS cents
            FROM events WHERE event_type = 'purchase'
            GROUP BY 1
        )
        SELECT CAST(epoch_us(h) AS BIGINT) AS bucket_us,
               CAST(median(cents) OVER (
                   ORDER BY h ROWS BETWEEN 6 PRECEDING AND CURRENT ROW
               ) AS DOUBLE) AS med7
        FROM hourly
        ORDER BY bucket_us
    """,
    description="Exact sliding median (trailing 7 hourly buckets) of "
    "purchase flow — the robust trend line a mean-based moving average "
    "can't give (one fat-finger hour drags a mean for 7 buckets; the "
    "median shrugs). Spark has no median window function, so the frame "
    "materializes as a bounded collect_list (≤7 int64s per row — "
    "constant memory), sorts in-expression, and interpolates on the "
    "exact integer-cent grid — every intermediate is a dyadic "
    "rational, bit-identical to DuckDB's native windowed median(). "
    "Window input is the calendar-bounded hourly rollup.",
)
def win_median_sliding_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    hourly = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("hour", "ts").alias("h"))
        .agg(F.sum(scaled_long("value", 100)).alias("cents"))
    )
    w = Window.orderBy("h").rowsBetween(-6, Window.currentRow)
    arr = F.array_sort(F.collect_list("cents").over(w))
    n = F.size(arr)
    lo = F.element_at(arr, ((n + 1) / 2).cast("int"))
    hi = F.element_at(arr, (n / 2 + 1).cast("int"))
    med = (lo.cast("double") + hi.cast("double")) / 2.0
    return hourly.select(
        F.unix_micros("h").alias("bucket_us"), med.alias("med7")
    ).orderBy("bucket_us")


@register(
    "text_code_detect_heuristic",
    oracle_sql="""
        WITH scored AS (
            SELECT lang,
                   CAST(length(text)
                        - length(regexp_replace(text, '[{};()=<>\\[\\]]', '',
                                                'g')) AS BIGINT) AS n_sym,
                   CAST(length(text) AS BIGINT) AS n_len,
                   len(string_split(text, ' ')) AS n_toks
            FROM documents
        )
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN n_sym * 20 > n_len THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_codelike,
               CAST(sum(n_sym) AS BIGINT) AS total_symbols,
               CASE WHEN sum(n_len) > 0
                    THEN CAST(sum(n_sym) AS DOUBLE) / sum(n_len)
               END AS symbol_ratio
        FROM scored
        GROUP BY lang
        ORDER BY lang
    """,
    description="Code-vs-prose heuristic: per-document density of code "
    "punctuation ({};()=<>[] — counted by length difference after "
    "regex strip, identical in both regex dialects), flagged code-like "
    "when symbols exceed 5% of characters via the integer cross-"
    "multiplication 20·sym > len — the cheap first-pass router that "
    "decides whether a document goes to the code or prose pipeline "
    "(fenced-block parsing and tree-sitter are downstream of this "
    "gate). Fully narrow scan + one map-side-combined aggregate.",
)
def text_code_detect_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    n_sym = (
        F.length("text")
        - F.length(F.regexp_replace("text", r"[{};()=<>\[\]]", ""))
    ).cast("long")
    scored = docs.select(
        "lang",
        n_sym.alias("n_sym"),
        F.length("text").cast("long").alias("n_len"),
    )
    return (
        scored.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(
                F.when(F.col("n_sym") * 20 > F.col("n_len"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_codelike"),
            F.sum("n_sym").cast("long").alias("total_symbols"),
            # all-empty-text languages yield NULL, not a zero division
            F.when(
                F.sum("n_len") > 0,
                F.sum("n_sym").cast("double") / F.sum("n_len"),
            ).alias("symbol_ratio"),
        )
        .orderBy("lang")
    )


@register(
    "bidask_tick_rule_signed_volume",
    oracle_sql="""
        WITH merged AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN event_type = 'purchase'
                        THEN CAST(round(value * 100) AS BIGINT) END AS pc,
                   CASE WHEN event_type = 'view'
                        THEN CAST(round(value * 100) AS BIGINT) END AS vc,
                   CASE WHEN event_type = 'view' THEN 0 ELSE 1 END AS side
            FROM events WHERE event_type IN ('view', 'purchase')
        ),
        marked AS (
            SELECT ts, pc, side,
                   last_value(vc IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY ts, side, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS quote
            FROM merged
        )
        SELECT CAST(epoch_us(date_trunc('hour', ts)) AS BIGINT) AS bucket_us,
               CAST(count(*) AS BIGINT) AS n_trades,
               CAST(sum(CASE WHEN pc > quote THEN pc
                             WHEN pc < quote THEN -pc
                             ELSE 0 END) AS BIGINT) AS signed_cents,
               CAST(sum(CASE WHEN pc > quote THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_buys,
               CAST(sum(CASE WHEN pc < quote THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_sells
        FROM marked
        WHERE side = 1 AND quote IS NOT NULL
        GROUP BY 1
        ORDER BY 1
    """,
    description="Tick-rule trade signing (Lee-Ready without the "
    "midpoint leg): each trade classified buy/sell by comparison to "
    "the prevailing quote (the as-of view value; at-the-quote trades "
    "stay unsigned), aggregated to hourly signed flow and buy/sell "
    "counts — the order-flow toxicity input (VPIN et al.) one level "
    "up from raw OFI. Same one-exchange union + ordered-window as-of "
    "shape as join_asof_bidask, exact cents throughout.",
)
def bidask_tick_rule_signed_volume(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load(spark, sf_dir, "events").where(
        F.col("event_type").isin("view", "purchase")
    )
    merged = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.col("event_type") == "purchase", scaled_long("value", 100)
        ).alias("pc"),
        F.when(
            F.col("event_type") == "view", scaled_long("value", 100)
        ).alias("vc"),
        F.when(F.col("event_type") == "view", 0).otherwise(1).alias("side"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    marked = (
        merged.withColumn("quote", F.last("vc", ignorenulls=True).over(w))
        .where((F.col("side") == 1) & F.col("quote").isNotNull())
    )
    sign = (
        F.when(F.col("pc") > F.col("quote"), F.col("pc"))
        .when(F.col("pc") < F.col("quote"), -F.col("pc"))
        .otherwise(0)
    )
    return (
        marked.groupBy(
            F.unix_micros(F.date_trunc("hour", "ts")).alias("bucket_us")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_trades"),
            F.sum(sign).cast("long").alias("signed_cents"),
            F.sum(F.when(F.col("pc") > F.col("quote"), 1).otherwise(0))
            .cast("long")
            .alias("n_buys"),
            F.sum(F.when(F.col("pc") < F.col("quote"), 1).otherwise(0))
            .cast("long")
            .alias("n_sells"),
        )
        .orderBy("bucket_us")
    )


@register(
    "dedup_cross_source_exact",
    oracle_sql="""
        WITH hashed AS (
            SELECT md5(text) AS content_hash, source, doc_id
            FROM documents
        ),
        groups AS (
            SELECT content_hash,
                   count(*) AS n_copies,
                   count(DISTINCT source) AS n_sources
            FROM hashed GROUP BY content_hash
        )
        SELECT CAST(n_copies AS BIGINT) AS n_copies,
               CAST(n_sources AS BIGINT) AS n_sources,
               CAST(count(*) AS BIGINT) AS n_groups
        FROM groups
        WHERE n_copies > 1
        GROUP BY n_copies, n_sources
        ORDER BY n_copies, n_sources
    """,
    description="Cross-source exact-duplicate provenance: md5 content "
    "groups with their copy count AND distinct-source spread — "
    "separating within-source re-crawls (n_sources=1: fix the "
    "crawler) from cross-source syndication (n_sources>1: pick a "
    "canonical source, the provenance decision plain dedup_exact "
    "cannot inform). One hash aggregate + one tiny histogram "
    "aggregate; the md5 key is the same content hash "
    "text_normalize_hash feeds, so at lake scale this reads the "
    "existing hash column instead of re-hashing.",
)
def dedup_cross_source_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    groups = (
        load(spark, sf_dir, "documents")
        .select(F.md5("text").alias("content_hash"), "source")
        .groupBy("content_hash")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.countDistinct("source").alias("n_sources"),
        )
        .where(F.col("n_copies") > 1)
    )
    return (
        groups.groupBy(
            F.col("n_copies").cast("long").alias("n_copies"),
            F.col("n_sources").cast("long").alias("n_sources"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_groups"))
        .orderBy("n_copies", "n_sources")
    )


@register(
    "orders_market_basket_lift",
    oracle_sql="""
        WITH ob AS (
            SELECT DISTINCT l_orderkey, p_brand
            FROM lineitem JOIN part ON l_partkey = p_partkey
        ),
        n_orders AS (SELECT count(DISTINCT l_orderkey) AS n FROM ob),
        brand_n AS (SELECT p_brand, count(*) AS nb FROM ob GROUP BY p_brand),
        pairs AS (
            SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
                   count(*) AS n_ab
            FROM ob a
            JOIN ob b ON a.l_orderkey = b.l_orderkey
                     AND a.p_brand < b.p_brand
            GROUP BY 1, 2
        )
        SELECT brand_a, brand_b, CAST(n_ab AS BIGINT) AS n_ab,
               CAST(n_ab AS DOUBLE) / n.n AS support,
               CAST(n_ab AS DOUBLE) * n.n / (na.nb * nb.nb)
                   AS lift
        FROM pairs
        JOIN brand_n na ON brand_a = na.p_brand
        JOIN brand_n nb ON brand_b = nb.p_brand
        CROSS JOIN n_orders n
        ORDER BY n_ab DESC, brand_a, brand_b
        LIMIT 20
    """,
    description="Market-basket association rules: support and lift for "
    "brand pairs co-occurring in an order (lift > 1 = bought together "
    "more than chance — the cross-sell signal). The basket self-join "
    "runs on the orderkey after DISTINCT brand projection, so fan-out "
    "is basket-width², never line-count²; per-brand counts and the "
    "order total broadcast for the ratios, which divide exact integers "
    "once. Top-20 by co-occurrence with a total-order tie-break.",
)
def orders_market_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ob = (
        load(spark, sf_dir, "lineitem")
        .join(
            F.broadcast(
                load(spark, sf_dir, "part").select("p_partkey", "p_brand")
            ),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    n_orders = ob.agg(F.countDistinct("l_orderkey").alias("n"))
    brand_n = ob.groupBy(F.col("p_brand").alias("bn_brand")).agg(
        F.count(F.lit(1)).alias("nb")
    )
    a, b = ob.alias("a"), ob.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.p_brand") < F.col("b.p_brand")),
        )
        .groupBy(
            F.col("a.p_brand").alias("brand_a"),
            F.col("b.p_brand").alias("brand_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
    )
    na, nb = brand_n.alias("na"), brand_n.alias("nb")
    return (
        pairs.join(F.broadcast(na), F.col("brand_a") == F.col("na.bn_brand"))
        .join(F.broadcast(nb), F.col("brand_b") == F.col("nb.bn_brand"))
        .crossJoin(F.broadcast(n_orders))
        .select(
            "brand_a",
            "brand_b",
            "n_ab",
            (F.col("n_ab").cast("double") / F.col("n")).alias(
                "support"
            ),
            (
                F.col("n_ab").cast("double")
                * F.col("n")
                / (F.col("na.nb") * F.col("nb.nb"))
            ).alias("lift"),
        )
        .orderBy(F.col("n_ab").desc(), "brand_a", "brand_b")
        .limit(20)
    )


@register(
    "win_rank_migration",
    oracle_sql="""
        WITH rev AS (
            SELECT l_suppkey,
                   CAST(year(l_shipdate) AS BIGINT) AS y,
                   sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                            AS BIGINT)) AS rev_e4
            FROM lineitem
            WHERE year(l_shipdate) IN (1996, 1999)
            GROUP BY 1, 2
        ),
        ranked AS (
            SELECT l_suppkey, y,
                   dense_rank() OVER (
                       PARTITION BY y ORDER BY rev_e4 DESC, l_suppkey
                   ) AS rnk
            FROM rev
        )
        SELECT a.l_suppkey AS s_suppkey,
               CAST(a.rnk AS BIGINT) AS rank_1996,
               CAST(b.rnk AS BIGINT) AS rank_1999,
               CAST(a.rnk - b.rnk AS BIGINT) AS rank_gain
        FROM ranked a
        JOIN ranked b ON a.l_suppkey = b.l_suppkey
        WHERE a.y = 1996 AND b.y = 1999
        ORDER BY rank_gain DESC, s_suppkey
        LIMIT 25
    """,
    description="Rank migration: each supplier's revenue rank in 1996 "
    "vs 1999 and the movement between them (the risers/fallers table "
    "every BI review wants) — two dense_rank windows over POST-"
    "aggregate per-year rollups (|suppliers| rows each, partitioned "
    "by year) joined on the supplier key; exact scaled-integer "
    "revenue makes the ranking tie-free up to genuine equality, which "
    "the suppkey tie-break then totals. Top-25 risers.",
)
def win_rank_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    rev = (
        load(spark, sf_dir, "lineitem")
        .where(F.year("l_shipdate").isin(1996, 1999))
        .groupBy(
            "l_suppkey", F.year("l_shipdate").cast("long").alias("y")
        )
        .agg(
            F.sum(
                scaled_long(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")),
                    10000,
                )
            ).alias("rev_e4")
        )
    )
    w = Window.partitionBy("y").orderBy(F.col("rev_e4").desc(), "l_suppkey")
    ranked = rev.withColumn("rnk", F.dense_rank().over(w))
    a = ranked.where(F.col("y") == 1996).select(
        "l_suppkey", F.col("rnk").alias("rank_1996")
    )
    b = ranked.where(F.col("y") == 1999).select(
        F.col("l_suppkey").alias("sk_b"), F.col("rnk").alias("rank_1999")
    )
    return (
        a.join(b, F.col("l_suppkey") == F.col("sk_b"))
        .select(
            F.col("l_suppkey").alias("s_suppkey"),
            F.col("rank_1996").cast("long").alias("rank_1996"),
            F.col("rank_1999").cast("long").alias("rank_1999"),
            (F.col("rank_1996") - F.col("rank_1999"))
            .cast("long")
            .alias("rank_gain"),
        )
        .orderBy(F.col("rank_gain").desc(), "s_suppkey")
        .limit(25)
    )


@register(
    "embed_class_separation",
    oracle_sql="""
        WITH exp AS (
            SELECT vec_id, label,
                   generate_subscripts(embedding, 1) AS i,
                   CAST(unnest(embedding) AS DOUBLE) AS x
            FROM embeddings
        ),
        nrm AS (
            SELECT vec_id, sqrt(sum(x * x)) AS nv FROM exp GROUP BY vec_id
        ),
        q AS (
            SELECT e.vec_id, e.label, e.i,
                   CAST(round(e.x / n.nv * 1000000) AS BIGINT) AS u_e6
            FROM exp e JOIN nrm n ON e.vec_id = n.vec_id
        ),
        csum AS (
            SELECT label, i, sum(u_e6) AS s FROM q GROUP BY label, i
        ),
        cn AS (
            SELECT label, count(DISTINCT vec_id) AS n FROM q GROUP BY label
        ),
        dots AS (
            SELECT a.label AS label_a, b.label AS label_b,
                   sum(a.s * b.s) AS dot_e12
            FROM csum a JOIN csum b ON a.i = b.i AND a.label <= b.label
            GROUP BY 1, 2
        )
        SELECT label_a, label_b,
               CASE WHEN label_a = label_b AND na.n >= 2
                    THEN (CAST(dot_e12 AS DOUBLE) / 1e12 - na.n)
                         / (CAST(na.n AS DOUBLE) * na.n - na.n)
                    WHEN label_a = label_b THEN NULL
                    ELSE CAST(dot_e12 AS DOUBLE) / 1e12
                         / (CAST(na.n AS DOUBLE) * nb.n)
               END AS mean_cosine
        FROM dots
        JOIN cn na ON label_a = na.label
        JOIN cn nb ON label_b = nb.label
        ORDER BY label_a, label_b
    """,
    description="Embedding class-separation matrix: mean pairwise "
    "cosine within and across labels — the clustering-quality "
    "diagnostic (healthy embeddings: intra ≫ inter). The algebra "
    "avoids any pairwise join: mean cosine between classes is "
    "S_a·S_b/(n_a·n_b) for class-SUM unit vectors (minus the n self-"
    "pairs on the diagonal), so the whole matrix costs one normalize "
    "pass, one |labels|×dim aggregate, and a dim-keyed join of "
    "|labels|·dim rows — O(n·d + L²·d), never O(n²). Normalized "
    "components quantize to the 1e-6 grid as BIGINTs, so the class "
    "sums and dots are exact.",
)
def embed_class_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_intraday_bidask_spark.functions.vector import as_double

    emb = load(spark, sf_dir, "embeddings")
    exp = emb.select(
        "vec_id",
        "label",
        F.posexplode(as_double("embedding")).alias("i0", "x"),
    )
    nrm = exp.groupBy(F.col("vec_id").alias("nv_id")).agg(
        F.sqrt(F.sum(F.col("x") * F.col("x"))).alias("nv")
    )
    # nrm is collection-grain (one row per vector): no broadcast hint —
    # stats auto-broadcast at fixture SF; at 100 TB the normalization
    # join must distribute on vec_id (it reuses nrm's agg partitioning).
    q = exp.join(nrm, F.col("vec_id") == F.col("nv_id")).select(
        "vec_id",
        "label",
        F.col("i0").alias("i"),
        F.floor(F.col("x") / F.col("nv") * 1000000 + 0.5)
        .cast("long")
        .alias("u_e6"),
    )
    csum = q.groupBy("label", "i").agg(F.sum("u_e6").alias("s"))
    cn = q.groupBy(F.col("label").alias("cn_label")).agg(
        F.countDistinct("vec_id").alias("n")
    )
    a, b = csum.alias("a"), csum.alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.i") == F.col("b.i"))
            & (F.col("a.label") <= F.col("b.label")),
        )
        .groupBy(
            F.col("a.label").alias("label_a"), F.col("b.label").alias("label_b")
        )
        .agg(F.sum(F.col("a.s") * F.col("b.s")).alias("dot_e12"))
    )
    na, nb = cn.alias("na"), cn.alias("nb")
    diag = F.col("label_a") == F.col("label_b")
    # Unrounded: rationals of exact 1e-6-grid ints — identical IEEE
    # chains are bit-identical across engines; round() is the
    # half-boundary trap (see functions/parity.py).
    # Single-vector labels have zero intra-class pairs: NULL, not a
    # divide-by-zero (found by the embeddings fuzz battery).
    mean_cos = F.when(
        diag & (F.col("na.n") >= 2),
        (F.col("dot_e12").cast("double") / 1e12 - F.col("na.n"))
        / (
            F.col("na.n").cast("double") * F.col("na.n")
            - F.col("na.n")
        ),
    ).when(diag, F.lit(None).cast("double")).otherwise(
        F.col("dot_e12").cast("double")
        / 1e12
        / (F.col("na.n").cast("double") * F.col("nb.n"))
    )
    return (
        dots.join(F.broadcast(na), F.col("label_a") == F.col("na.cn_label"))
        .join(F.broadcast(nb), F.col("label_b") == F.col("nb.cn_label"))
        .select("label_a", "label_b", mean_cos.alias("mean_cosine"))
        .orderBy("label_a", "label_b")
    )


@register(
    "win_share_of_parent_nested",
    oracle_sql="""
        WITH cust_rev AS (
            SELECT c_nationkey, o_custkey,
                   sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev_c
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY 1, 2
        ),
        shared AS (
            SELECT c_nationkey, o_custkey, rev_c,
                   sum(rev_c) OVER (PARTITION BY c_nationkey) AS rev_n,
                   sum(rev_c) OVER () AS rev_total
            FROM cust_rev
        ),
        ranked AS (
            SELECT *,
                   row_number() OVER (
                       PARTITION BY c_nationkey
                       ORDER BY rev_c DESC, o_custkey) AS rk
            FROM shared
        )
        SELECT c_nationkey, o_custkey AS c_custkey,
               CAST(rev_c AS BIGINT) AS rev_cents,
               CAST(rev_c AS DOUBLE) / rev_n AS share_of_nation,
               CAST(rev_n AS DOUBLE) / rev_total
                   AS nation_share_of_total
        FROM ranked
        WHERE rk <= 3
        ORDER BY c_nationkey, rev_cents DESC, c_custkey
    """,
    description="Nested share-of-parent: each nation's top-3 customers "
    "with their share of the nation AND the nation's share of the "
    "total — the two-level ratio_to_report drill-down every revenue "
    "dashboard opens with. Both denominator windows (nation sum, "
    "grand sum) and the top-k rank share ONE exchange over the POST-"
    "aggregate per-customer rollup (the grand-total window is "
    "single-partition but its input is |customers| rows, not facts); "
    "exact cent sums, two final divisions.",
)
def win_share_of_parent_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust_rev = (
        load(spark, sf_dir, "orders")
        .join(
            F.broadcast(
                load(spark, sf_dir, "customer").select(
                    "c_custkey", "c_nationkey"
                )
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("c_nationkey", "o_custkey")
        .agg(F.sum(scaled_long("o_totalprice", 100)).alias("rev_c"))
    )
    wn = Window.partitionBy("c_nationkey")
    wall = Window.partitionBy()
    wr = Window.partitionBy("c_nationkey").orderBy(
        F.col("rev_c").desc(), "o_custkey"
    )
    shared = cust_rev.select(
        "c_nationkey",
        "o_custkey",
        "rev_c",
        F.sum("rev_c").over(wn).alias("rev_n"),
        F.sum("rev_c").over(wall).alias("rev_total"),
        F.row_number().over(wr).alias("rk"),
    )
    return (
        shared.where(F.col("rk") <= 3)
        .select(
            "c_nationkey",
            F.col("o_custkey").alias("c_custkey"),
            F.col("rev_c").cast("long").alias("rev_cents"),
            (F.col("rev_c").cast("double") / F.col("rev_n")).alias(
                "share_of_nation"
            ),
            (F.col("rev_n").cast("double") / F.col("rev_total")).alias(
                "nation_share_of_total"
            ),
        )
        .orderBy("c_nationkey", F.col("rev_cents").desc(), "c_custkey")
    )


@register(
    "q6_sensitivity_whatif",
    oracle_sql="""
        WITH grid AS (
            SELECT d_shift, q_max
            FROM (VALUES (-1), (0), (1)) AS ds(d_shift),
                 (VALUES (20), (24), (28)) AS qm(q_max)
        )
        SELECT d_shift, q_max,
               CAST(sum(CASE WHEN l_quantity < q_max
                             AND CAST(round(l_discount * 100) AS BIGINT)
                                 BETWEEN 5 + d_shift AND 7 + d_shift
                        THEN CAST(round(l_extendedprice * l_discount
                                        * 10000) AS BIGINT)
                        ELSE 0 END) AS BIGINT) AS revenue_e4,
               CAST(count(*) FILTER (WHERE l_quantity < q_max
                             AND CAST(round(l_discount * 100) AS BIGINT)
                                 BETWEEN 5 + d_shift AND 7 + d_shift)
                    AS BIGINT) AS n_lines
        FROM lineitem
        CROSS JOIN grid
        WHERE year(l_shipdate) = 1997
        GROUP BY d_shift, q_max
        ORDER BY d_shift, q_max
    """,
    description="Parameterized what-if sweep (TPC-H Q6 as the target): "
    "the discount-band/quantity-threshold revenue evaluated over a "
    "3×3 parameter grid IN ONE SCAN — the 9-row grid broadcasts and "
    "each line contributes to every scenario via conditional "
    "aggregation, so sensitivity analysis costs one pass instead of "
    "nine query runs (the pattern behind pricing what-ifs and "
    "hyperparameter threshold sweeps alike). Discount bounds compare "
    "as integer cents (5..7 ± shift — a float band boundary diverges "
    "between Spark doubles and DuckDB decimals), revenue on the 1e-4 "
    "grid as BIGINTs.",
)
def q6_sensitivity_whatif(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").where(
        F.year("l_shipdate") == 1997
    )
    grid = spark.createDataFrame(
        [(d, q) for d in (-1, 0, 1) for q in (20, 24, 28)],
        "d_shift int, q_max int",
    )
    disc_c = scaled_long("l_discount", 100)
    hit = (
        (F.col("l_quantity") < F.col("q_max"))
        & (disc_c >= 5 + F.col("d_shift"))
        & (disc_c <= 7 + F.col("d_shift"))
    )
    rev = scaled_long(F.col("l_extendedprice") * F.col("l_discount"), 10000)
    return (
        li.crossJoin(F.broadcast(grid))
        .groupBy("d_shift", "q_max")
        .agg(
            F.sum(F.when(hit, rev).otherwise(0))
            .cast("long")
            .alias("revenue_e4"),
            F.sum(F.when(hit, 1).otherwise(0)).cast("long").alias("n_lines"),
        )
        .orderBy("d_shift", "q_max")
    )


@register(
    "date_spine_business_days",
    oracle_sql="""
        WITH bounds AS (
            SELECT CAST(date_trunc('day', min(ts)) AS DATE) AS d0,
                   CAST(date_trunc('day', max(ts)) AS DATE) AS d1
            FROM events
        ),
        spine AS (
            SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY))
                        AS DATE) AS d
            FROM bounds
        ),
        biz AS (
            SELECT d FROM spine WHERE dayofweek(d) NOT IN (0, 6)
        ),
        daily AS (
            SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
                   CAST(count(*) AS BIGINT) AS n_events
            FROM events GROUP BY 1
        )
        SELECT biz.d,
               coalesce(daily.n_events, 0) AS n_events,
               CAST(count(*) OVER (ORDER BY biz.d) AS BIGINT) AS biz_day_seq
        FROM biz LEFT JOIN daily ON biz.d = daily.d
        ORDER BY biz.d
    """,
    description="Business-day spine: the weekday-only calendar between "
    "the corpus bounds, left-joined to daily activity with an "
    "unbroken business-day sequence number — the calendar dimension "
    "settlement (T+2), SLA, and trading-day arithmetic all join "
    "through (naive date math breaks at every weekend; the spine "
    "makes day-offset joins an integer add on biz_day_seq). The spine "
    "derives from a 1-row bounds aggregate + sequence (calendar-"
    "bounded), dayofweek conventions pinned to Sunday=0 on both "
    "engines.",
)
def date_spine_business_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    bounds = ev.agg(
        F.to_date(F.date_trunc("day", F.min("ts"))).alias("d0"),
        F.to_date(F.date_trunc("day", F.max("ts"))).alias("d1"),
    )
    spine = bounds.select(
        F.explode(F.sequence("d0", "d1")).alias("d")
    )
    # Spark dayofweek: Sunday=1..Saturday=7; DuckDB dayofweek: Sunday=0.
    biz = spine.where(~F.dayofweek("d").isin(1, 7))
    daily = ev.groupBy(
        F.to_date(F.date_trunc("day", "ts")).alias("dd")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    w = Window.orderBy("d")
    return (
        biz.join(F.broadcast(daily), F.col("d") == F.col("dd"), "left")
        .select(
            "d",
            F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
            F.count(F.lit(1)).over(w).cast("long").alias("biz_day_seq"),
        )
        .orderBy("d")
    )


@register(
    "agg_funnel_time_to_convert",
    oracle_sql="""
        WITH merged AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN event_type = 'purchase'
                        THEN epoch_us(ts) END AS pus,
                   CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_c,
                   CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS side
            FROM events WHERE event_type IN ('click', 'purchase')
        ),
        nxt AS (
            SELECT ts, is_c,
                   first_value(pus IGNORE NULLS) OVER (
                       PARTITION BY user_id
                       ORDER BY ts, (1 - side), event_id
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
                   ) AS next_pus
            FROM merged
        ),
        delays AS (
            SELECT next_pus - epoch_us(ts) AS delay_us
            FROM nxt
            WHERE is_c = 1 AND next_pus IS NOT NULL
              AND next_pus > epoch_us(ts)
        )
        SELECT CAST(count(*) AS BIGINT) AS n_conversions,
               CAST(quantile_disc(delay_us, 0.50) AS BIGINT) AS p50_us,
               CAST(quantile_disc(delay_us, 0.90) AS BIGINT) AS p90_us,
               CAST(quantile_disc(delay_us, 0.99) AS BIGINT) AS p99_us,
               CAST(max(delay_us) AS BIGINT) AS max_us
        FROM delays
    """,
    description="Conversion-latency distribution: for every click that "
    "eventually converts, the delay to the user's NEXT purchase "
    "(strictly after — purchases ordered before clicks at an equal "
    "instant, the same forward-frame convention as cep_pattern_"
    "absence), summarized as discrete p50/p90/p99/max in exact "
    "microseconds — the latency-SLO view of the funnel (funnel_"
    "conversion counts WHO converts; this measures HOW FAST). One "
    "user exchange for the forward frame, discrete percentiles on "
    "exact BIGINTs so both engines pick the same member.",
)
def agg_funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "purchase")
    )
    merged = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.col("event_type") == "purchase", F.unix_micros("ts")
        ).alias("pus"),
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("is_c"),
        # purchases sort BEFORE clicks at equal ts → the forward frame
        # from a click sees only strictly-later purchases
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("side"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side", "event_id")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    delays = (
        merged.withColumn(
            "next_pus", F.first("pus", ignorenulls=True).over(w)
        )
        .where(
            (F.col("is_c") == 1)
            & F.col("next_pus").isNotNull()
            & (F.col("next_pus") > F.unix_micros("ts"))
        )
        .select((F.col("next_pus") - F.unix_micros("ts")).alias("delay_us"))
    )
    pd_ = lambda q: F.expr(
        f"percentile_disc({q}) WITHIN GROUP (ORDER BY delay_us)"
    ).cast("long")
    return delays.agg(
        F.count(F.lit(1)).cast("long").alias("n_conversions"),
        pd_(0.50).alias("p50_us"),
        pd_(0.90).alias("p90_us"),
        pd_(0.99).alias("p99_us"),
        F.max("delay_us").cast("long").alias("max_us"),
    )
