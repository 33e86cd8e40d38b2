"""Extension declared queries (SURVEY.md §2.4): the LLM-training-data
pipeline surface — dedup, similarity search, text analysis, JSON
extraction, event-time aggregation — each wired to the DuckDB oracle
where the semantics are exactly SQL-expressible, rows-only otherwise
(MinHash/SimHash/LSH use Spark's xxhash64, which DuckDB cannot
reproduce; they are seeded and deterministic, verified in unit tests).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from skoltexter_by_ai_spark.operators import dedup, retrieval, similarity, text_analysis
from skoltexter_by_ai_spark.operators.pinning import pin
from skoltexter_by_ai_spark.plans.ordering import bounded_sort
from skoltexter_by_ai_spark.plans.registry import register
from skoltexter_by_ai_spark.sources.tables import load_table

# Shared DuckDB fragments so Spark/oracle definitions stay in lockstep.
_NORM = "regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')"
_TOKS = "string_split_regex(trim(text), '\\s+')"


# --- deduplication ------------------------------------------------------------


@register(
    "x01_exact_dedup_keepfirst",
    oracle=f"""
        WITH keyed AS (
            SELECT doc_id,
                   array_to_string(string_split_regex({_NORM}, '\\s+')[1:3], ' ') AS dedup_key
            FROM documents
        )
        SELECT doc_id, dedup_key FROM (
            SELECT doc_id, dedup_key,
                   ROW_NUMBER() OVER (PARTITION BY dedup_key ORDER BY doc_id) AS rn
            FROM keyed
        ) WHERE rn = 1
        ORDER BY doc_id
    """,
    covers="exact dedup: hash key + keep-first window (SURVEY §2.4; generalizes A3)",
    tags=("dedup",),
)
def x01(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "dedup_key", text_analysis.prefix_key("text", 3)
    )
    return (
        dedup.exact_dedup(docs, "dedup_key", "doc_id")
        .select("doc_id", "dedup_key")
        .orderBy("doc_id")
    )


@register(
    "x02_ngram_jaccard_top_pairs",
    oracle=f"""
        WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
        sh AS (SELECT DISTINCT doc_id,
                 unnest(list_transform(generate_series(1, len(t)-1), i -> t[i] || ' ' || t[i+1])) AS s
               FROM toks WHERE len(t) >= 2),
        rare AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= 20),
        shr AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare USING (s)),
        szs AS (SELECT doc_id, COUNT(*) AS sz FROM shr GROUP BY doc_id),
        pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
                  FROM shr a JOIN shr b ON a.s = b.s AND a.doc_id < b.doc_id
                  GROUP BY 1, 2)
        SELECT id_a, id_b,
               ROUND(common * 1.0 / (sa.sz + sb.sz - common), 6) AS jaccard
        FROM pairs
        JOIN szs sa ON id_a = sa.doc_id
        JOIN szs sb ON id_b = sb.doc_id
        ORDER BY jaccard DESC, id_a, id_b
        LIMIT 20
    """,
    covers="n-gram Jaccard near-dup pairs via df-pruned inverted index (SURVEY §2.4)",
    tags=("dedup",),
)
def x02(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=2, max_df=20)
    return (
        pairs.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
        .orderBy(F.col("jaccard").desc(), "id_a", "id_b")
        .limit(20)
    )


@register(
    "x03_minhash_lsh_candidates",
    oracle=None,  # xxhash64 hash family is Spark-specific; seeded+deterministic,
    # verified against exact Jaccard in tests/test_dedup.py.
    covers="MinHash+LSH banded candidate generation (SURVEY §2.4 scale path)",
    tags=("dedup",),
)
def x03(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.minhash_lsh_candidates(
        docs, "doc_id", "text", n=2, num_hashes=32, bands=16, seed=42
    ).orderBy("id_a", "id_b")


@register(
    "x04_simhash_near_dups",
    oracle=None,  # xxhash64-based; determinism covered in tests/test_dedup.py.
    covers="SimHash fingerprint + banded Hamming near-dup pairs (SURVEY §2.4)",
    tags=("dedup",),
)
def x04(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.simhash_near_dups(docs, "doc_id", "text", max_hamming=6).orderBy(
        "id_a", "id_b"
    )


@register(
    "x20_dedup_clusters",
    # Connected components over exact-Jaccard >= 0.5 near-dup edges;
    # oracle = recursive-CTE transitive closure + min over reachable.
    oracle=f"""
        WITH RECURSIVE toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
        sh AS (SELECT DISTINCT doc_id,
                 unnest(list_transform(generate_series(1, len(t)-1), i -> t[i] || ' ' || t[i+1])) AS s
               FROM toks WHERE len(t) >= 2),
        rare AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= 20),
        shr AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare USING (s)),
        szs AS (SELECT doc_id, COUNT(*) AS sz FROM shr GROUP BY doc_id),
        cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
                 FROM shr a JOIN shr b ON a.s = b.s AND a.doc_id < b.doc_id
                 GROUP BY 1, 2),
        edges0 AS (SELECT id_a, id_b FROM cand
                   JOIN szs sa ON id_a = sa.doc_id
                   JOIN szs sb ON id_b = sb.doc_id
                   WHERE ROUND(common * 1.0 / (sa.sz + sb.sz - common), 6) >= 0.5),
        edges AS (SELECT id_a AS a, id_b AS b FROM edges0
                  UNION SELECT id_b, id_a FROM edges0),
        reach(src, dst) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
        )
        SELECT src AS doc_id, MIN(dst) AS cluster
        FROM reach GROUP BY src
        ORDER BY doc_id
    """,
    covers="near-dup cluster assignment: connected components by min-label propagation (SURVEY §2.4)",
    tags=("dedup",),
)
def x20(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=2, max_df=20).filter(
        F.round("jaccard", 6) >= 0.5
    )
    return dedup.dedup_clusters(
        docs.select("doc_id"), pairs, id_col="doc_id"
    ).orderBy("doc_id")


# --- similarity search --------------------------------------------------------


@register(
    "x05_cosine_topk",
    # Oracle mirrors the exact double-precision formula: cast elements
    # to DOUBLE, sequential-sum products, dot/(|a|*|b|), round 6.
    oracle="""
        WITH q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
                   FROM embeddings WHERE vec_id = 0),
        e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
              FROM embeddings WHERE vec_id <> 0),
        s AS (SELECT vec_id,
                     list_aggregate(list_transform(generate_series(1, len(ev)), i -> ev[i] * qv[i]), 'sum')
                     / (sqrt(list_aggregate(list_transform(ev, x -> x * x), 'sum'))
                        * sqrt(list_aggregate(list_transform(qv, x -> x * x), 'sum'))) AS c
              FROM e, q)
        SELECT vec_id, ROUND(c, 6) + 0.0 AS cos_sim
        FROM s
        ORDER BY c DESC, vec_id
        LIMIT 10
    """,
    covers="brute-force exact cosine top-k (SURVEY §2.4 similarity baseline)",
    tags=("similarity",),
)
def x05(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0)
    return similarity.cosine_topk(emb, query, k=10)


@register(
    "x06_lsh_ann_topk",
    oracle=None,  # hyperplane constants are engine-side; recall vs exact
    # top-k is asserted in tests/test_similarity.py.
    covers="hyperplane-LSH ANN: bucket prefilter + exact re-rank (SURVEY §2.4 scale path)",
    tags=("similarity",),
)
def x06(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0)
    return similarity.lsh_ann_topk(emb, query, k=10, n_planes=12, max_hamming=4)


@register(
    "x13_knn_join",
    oracle="""
        WITH q AS (SELECT vec_id AS query_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
                   FROM embeddings WHERE vec_id < 3),
        e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev FROM embeddings),
        s AS (SELECT query_id, vec_id,
                     list_aggregate(list_transform(generate_series(1, len(ev)), i -> ev[i] * qv[i]), 'sum')
                     / (sqrt(list_aggregate(list_transform(ev, x -> x * x), 'sum'))
                        * sqrt(list_aggregate(list_transform(qv, x -> x * x), 'sum'))) AS c
              FROM e, q),
        r AS (SELECT query_id, vec_id, ROUND(c, 6) + 0.0 AS cos_sim,
                     ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id) AS rank
              FROM s)
        SELECT query_id, vec_id, cos_sim, CAST(rank AS INT) AS rank
        FROM r WHERE rank <= 5
        ORDER BY query_id, rank
    """,
    covers="batch k-NN join: broadcast queries x corpus + per-query window (SURVEY §2.4)",
    tags=("similarity",),
)
def x13(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.knn_join(emb, queries, k=5)
    return out.select(
        "query_id", "vec_id", "cos_sim", F.col("rank").cast("int").alias("rank")
    ).orderBy("query_id", "rank")


@register(
    "x15_embedding_near_dups",
    oracle=None,  # hyperplane constants are engine-side; recall + exact
    # verification asserted in tests/test_similarity.py.
    covers="embedding-cosine near-dup pairs: multi-table LSH + exact verify (SURVEY §2.4)",
    tags=("dedup", "similarity"),
    min_rows=400,
)
def x15(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The synthetic embeddings fixture has no near-dup pairs (max
    # pairwise cosine ~0.51 at sf0.01), so running the detector on the
    # raw table returns 0 rows — correct, but a 0-row declared query
    # verifies nothing (VERDICT r1). Plant near-dups deterministically:
    # union each vector with a copy perturbed elementwise by
    # x * (1 + 0.05*sin(vec_id*(i+1))) — cosine(v, v') ≈ 0.999, far
    # above the 0.9 threshold, while all cross pairs stay <= ~0.52.
    # The LSH bucketing, candidate join and exact verify all run on
    # ~1000 genuinely distinct vectors; the expected output is the
    # ~500 planted (i, i+1_000_000) pairs.
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    perturbed = emb.select(
        (F.col("vec_id") + F.lit(1_000_000)).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: x.cast("double")
            * (F.lit(1.0) + F.lit(0.05) * F.sin((F.col("vec_id") * (i + F.lit(1))).cast("double"))),
        ).alias("embedding"),
    )
    corpus = emb.select("vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")).unionByName(perturbed)
    return similarity.embedding_near_dups(
        corpus, threshold=0.9, n_tables=8, n_planes=12
    ).orderBy("id_a", "id_b")


# --- text analysis ------------------------------------------------------------


@register(
    "x07_text_stats",
    oracle=f"""
        WITH t AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents)
        SELECT doc_id,
               CAST(len(toks) AS BIGINT) AS tok_cnt,
               CAST(length(text) AS BIGINT) AS char_cnt,
               ROUND(CASE WHEN len(toks) > 0
                          THEN CAST(list_aggregate(list_transform(toks, x -> length(x)), 'sum') AS DOUBLE)
                               / len(toks)
                          ELSE 0.0 END, 6) AS mean_tok_len
        FROM t
        ORDER BY doc_id
    """,
    covers="token counting + length stats (SURVEY §2.4 text analysis)",
    tags=("text",),
)
def x07(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            text_analysis.token_count("text").alias("tok_cnt"),
            text_analysis.char_count("text").alias("char_cnt"),
            F.round(text_analysis.mean_token_length("text"), 6).alias("mean_tok_len"),
        )
        .orderBy("doc_id")
    )


@register(
    "x08_quality_score",
    oracle=f"""
        WITH t AS (
            SELECT doc_id,
                   CAST(len({_TOKS}) AS BIGINT) AS n_tok,
                   CASE WHEN len({_TOKS}) > 0 THEN
                       CAST(len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                                x -> list_contains(['the','a','and','of','to','is','in','it','that','for'], x)))
                            AS DOUBLE) / len({_TOKS})
                   ELSE 0.0 END AS stop_ratio,
                   CASE WHEN length(text) > 0 THEN
                       CAST(length(regexp_replace(text, '[^.,;:!?''"()\\[\\]-]', '', 'g')) AS DOUBLE)
                       / length(text)
                   ELSE 0.0 END AS p_ratio
            FROM documents)
        SELECT doc_id,
               ROUND(0.4 * (CASE WHEN n_tok >= 10 AND n_tok <= 10000 THEN 1.0
                                 WHEN n_tok > 0 THEN 0.5 ELSE 0.0 END)
                     + 0.3 * least(stop_ratio * 5.0, 1.0)
                     + 0.3 * (1.0 - least(p_ratio * 5.0, 1.0)), 6) AS quality
        FROM t
        ORDER BY doc_id
    """,
    covers="document quality heuristic: length/stopword/punct bands (SURVEY §2.4)",
    tags=("text",),
)
def x08(spark: SparkSession, sf_dir: str) -> DataFrame:
    # quality_score is a regex-heavy narrow projection; spread the
    # single-split test-SF scan so it runs on every core.
    return (
        dedup._spread(load_table(spark, sf_dir, "documents"), "doc_id")
        .select("doc_id", text_analysis.quality_score("text").alias("quality"))
        .orderBy("doc_id")
    )


def _duckdb_lang_case() -> str:
    """CASE expression mirroring text_analysis.lang_id tie-breaking."""
    score = {
        lang: (
            f"len(list_intersect(list_distinct(string_split_regex(trim(lower(text)), '\\s+')), "
            f"[{', '.join(repr(s) for s in stops)}]))"
        )
        for lang, stops in text_analysis.STOPWORDS.items()
    }
    greatest = "greatest(" + ", ".join(score.values()) + ")"
    whens = "\n".join(
        f"WHEN {score[lang]} = g AND g >= 1 THEN '{lang}'" for lang in text_analysis.STOPWORDS
    )
    return f"""
        WITH t AS (SELECT doc_id, text, {greatest} AS g FROM documents)
        SELECT doc_id, CASE {whens} ELSE 'und' END AS lang_pred
        FROM t
        ORDER BY doc_id
    """


@register(
    "x09_lang_id",
    oracle=_duckdb_lang_case(),
    covers="language id via stopword-list scoring (SURVEY §2.4 text analysis)",
    tags=("text",),
)
def x09(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", text_analysis.lang_id("text").alias("lang_pred"))
        .orderBy("doc_id")
    )


@register(
    "x10_fingerprint",
    oracle=f"""
        SELECT doc_id, md5({_NORM}) AS fp
        FROM documents
        ORDER BY doc_id
    """,
    covers="document fingerprint: md5 of normalized text (SURVEY §2.4)",
    tags=("text",),
)
def x10(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", text_analysis.fingerprint("text").alias("fp"))
        .orderBy("doc_id")
    )


_BPE_RE = r"[A-Za-zÀ-ÖØ-öø-ÿ]+|[0-9]+|[^\sA-Za-zÀ-ÖØ-öø-ÿ0-9]"


@register(
    "x16_bpe_token_count",
    oracle=f"""
        SELECT doc_id,
               CAST(len({_TOKS}) AS BIGINT) AS ws_tokens,
               CAST(len(regexp_extract_all(text, '{_BPE_RE}')) AS BIGINT) AS bpe_tokens
        FROM documents
        ORDER BY doc_id
    """,
    covers="BPE-ish regex token counting for LLM budgets (SURVEY §2.4 text analysis)",
    tags=("text",),
)
def x16(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            text_analysis.token_count("text").alias("ws_tokens"),
            text_analysis.bpe_ish_token_count("text").alias("bpe_tokens"),
        )
        .orderBy("doc_id")
    )


_TOKS_LOWER = "string_split_regex(trim(lower(text)), '\\s+')"


@register(
    "x17_tfidf_top_terms",
    # Rank by (tf DESC, term ASC) — integer-deterministic across
    # engines; the tfidf score is informational output (round 6).
    oracle=f"""
        WITH docs_n AS (SELECT COUNT(*) AS n FROM documents),
        tf AS (
            SELECT doc_id, term, COUNT(*) AS tf
            FROM (SELECT doc_id, unnest({_TOKS_LOWER}) AS term FROM documents)
            GROUP BY doc_id, term
        ),
        idf AS (
            SELECT term, COUNT(*) AS df,
                   ln((SELECT n FROM docs_n) + 1.0) - ln(COUNT(*) + 1.0) AS idf
            FROM (SELECT DISTINCT doc_id, term FROM tf) GROUP BY term
        ),
        ranked AS (
            SELECT tf.doc_id, tf.term, tf.tf, idf.df,
                   ROUND(tf.tf * idf.idf, 6) AS tfidf,
                   ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                                      ORDER BY tf.tf DESC, tf.term) AS rn
            FROM tf JOIN idf USING (term)
        )
        SELECT doc_id, term, tf, df, tfidf, CAST(rn AS INT) AS rank
        FROM ranked WHERE rn <= 3 AND doc_id < 50
        ORDER BY doc_id, rank
    """,
    covers="TF-IDF top terms per document (SURVEY §2.4 text analysis)",
    tags=("text",),
)
def x17(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(dedup.tokens(F.lower(F.col("text")))).alias("term")
    )
    # Lazy-pin tf: it feeds the document-frequency aggregate AND the
    # scoring join, and unpinned each reference re-ran the tokenize +
    # explode + count tower (r11 plan: documents scanned 3x).
    tf = pin(toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf")), eager=False)
    n_docs = docs.select(F.count("*").alias("__n"))
    idf = (
        tf.groupBy("term")
        .agg(F.count("*").alias("df"))
        .crossJoin(F.broadcast(n_docs))
        .withColumn("idf", F.log(F.col("__n") + 1.0) - F.log(F.col("df") + 1.0))
        .drop("__n")
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tf").desc(), "term")
    return (
        tf.join(idf, "term")
        .withColumn("tfidf", F.round(F.col("tf") * F.col("idf"), 6))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter((F.col("rank") <= 3) & (F.col("doc_id") < 50))
        .select("doc_id", "term", "tf", "df", "tfidf", "rank")
        # bounded by the declared (doc_id < 50) x (rank <= 3) window
        .transform(lambda d: bounded_sort(d, "doc_id", "rank"))
    )


# --- JSON / events ------------------------------------------------------------


@register(
    "x11_json_extract",
    oracle="""
        SELECT event_id, json_extract_string(props, '$.k') AS k
        FROM events
        ORDER BY event_id
    """,
    covers="F8 JSON field extraction (program2_ai_processor.py:404-433)",
    tags=("json",),
)
def x11(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Parallelize the JSON parse, not just the final sort.
    return (
        dedup._spread(load_table(spark, sf_dir, "events"), "event_id")
        .select("event_id", F.get_json_object("props", "$.k").alias("k"))
        .orderBy("event_id")
    )


@register(
    "x14_sessionization",
    # Gaps-and-islands oracle for Spark's session_window semantics:
    # window end is exclusive, so a gap of exactly 30 minutes starts a
    # new session (diff >= gap -> new island).
    oracle="""
        WITH marks AS (
            SELECT user_id, ts, event_id, value,
                   CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTES
                        THEN 1 ELSE 0 END AS new_sess
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sess AS (
            SELECT user_id, ts, value,
                   SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING) AS sid
            FROM marks
        )
        SELECT user_id,
               epoch_ns(MIN(ts)) // 1000000000 AS session_start,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100 AS total_value
        FROM sess
        GROUP BY user_id, sid
        ORDER BY user_id, session_start
    """,
    covers="session_window sessionization, batch view of streaming.sessionize (SURVEY §7.6)",
    tags=("events", "streaming"),
)
def x14(spark: SparkSession, sf_dir: str) -> DataFrame:
    from skoltexter_by_ai_spark import streaming

    events = load_table(spark, sf_dir, "events")
    return streaming.sessionize(events, gap="30 minutes").orderBy("user_id", "session_start")


@register(
    "x18_asof_join",
    # DuckDB has a native ASOF JOIN; ours is the union + last-ignorenulls
    # window composition (operators/temporal.py). Semantics must agree:
    # latest view with v.ts <= c.ts per user, left-join shape.
    oracle="""
        SELECT c.event_id AS click_id, c.user_id,
               v.event_id AS view_id, v.value AS view_value
        FROM (SELECT * FROM events WHERE event_type = 'click') c
        ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
          ON c.user_id = v.user_id AND c.ts >= v.ts
        ORDER BY click_id
    """,
    covers="as-of (point-in-time) join — custom operator Spark lacks (SURVEY §2.4)",
    tags=("temporal",),
)
def x18(spark: SparkSession, sf_dir: str) -> DataFrame:
    from skoltexter_by_ai_spark.operators import temporal

    events = load_table(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select("user_id", "ts", "event_id")
    views = events.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "event_id", "value"
    )
    out = temporal.asof_join(clicks, views, on="user_id")
    return out.select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("event_id_right").alias("view_id"),
        F.col("value_right").alias("view_value"),
    ).orderBy("click_id")


@register(
    "x117_asof_forward",
    # Forward as-of: for each click, the EARLIEST view at-or-after it
    # per user (pandas merge_asof direction='forward'; "next quote
    # after the order"). Same union + window composition as x18 with
    # the frame, fill, and tag tiebreak mirrored; DuckDB expresses the
    # identical semantics natively with the <= ASOF inequality.
    oracle="""
        SELECT c.event_id AS click_id, c.user_id,
               v.event_id AS view_id, v.value AS view_value
        FROM (SELECT * FROM events WHERE event_type = 'click') c
        ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
          ON c.user_id = v.user_id AND c.ts <= v.ts
        ORDER BY click_id
    """,
    covers="forward as-of join (earliest right at-or-after left) — merge_asof direction='forward'",
    tags=("temporal",),
)
def x117(spark: SparkSession, sf_dir: str) -> DataFrame:
    from skoltexter_by_ai_spark.operators import temporal

    events = load_table(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select("user_id", "ts", "event_id")
    views = events.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "event_id", "value"
    )
    out = temporal.asof_join(clicks, views, on="user_id", direction="forward")
    return out.select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("event_id_right").alias("view_id"),
        F.col("value_right").alias("view_value"),
    ).orderBy("click_id")


@register(
    "x19_range_join",
    oracle="""
        SELECT c.event_id AS click_id, e.event_id AS error_id
        FROM events c JOIN events e
          ON c.user_id = e.user_id
         AND c.event_type = 'click' AND e.event_type = 'error'
         AND e.ts >= c.ts AND e.ts < c.ts + INTERVAL 10 MINUTES
        ORDER BY click_id, error_id
    """,
    covers="bounded range join via time-bucket equi-join (SURVEY §2.4 scale path)",
    tags=("temporal",),
)
def x19(spark: SparkSession, sf_dir: str) -> DataFrame:
    from skoltexter_by_ai_spark.operators import temporal

    events = load_table(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    errors = events.filter(F.col("event_type") == "error").select(
        "user_id", "ts", F.col("event_id").alias("error_id")
    )
    out = temporal.range_join(clicks, errors, on="user_id", window_seconds=600.0)
    return out.select("click_id", F.col("error_id_right").alias("error_id")).orderBy(
        "click_id", "error_id"
    )


@register(
    "x12_events_hourly_rollup",
    # Batch-equivalent of the streaming tumbling-window aggregation
    # (streaming variant: skoltexter_by_ai_spark.streaming). Window
    # start exported as epoch seconds so both engines agree on types.
    oracle="""
        SELECT epoch_ns(date_trunc('hour', ts)) // 1000000000 AS hour_start,
               event_type,
               COUNT(*) AS n,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100 AS total_value
        FROM events
        GROUP BY 1, 2
        ORDER BY hour_start, event_type
    """,
    covers="event-time tumbling rollup, batch view (SURVEY §2.4 / §7.6)",
    tags=("events",),
)
def x12(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("hour_start"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n"),
            (F.sum(F.round(F.col("value") * 100).cast("long")).cast("double") / 100).alias("total_value"),
        )
        # (calendar hour x enum type)-bounded output
        .transform(lambda d: bounded_sort(d, "hour_start", "event_type"))
    )


@register(
    "x66_multimodal_features",
    oracle=None,  # binary media plumbing is not SQL-expressible; the
    # FAKM codec roundtrip + stage semantics are unit-tested in
    # tests/test_multimodal.py. This entry proves the full
    # synthesize -> decode -> resize -> featurize dataflow end-to-end
    # on the driver's fixture text.
    covers="multimodal columns: binary media -> decode_meta -> resize -> feature extraction (SURVEY §2.4)",
    tags=("multimodal",),
    min_rows=50,
)
def x66(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from skoltexter_by_ai_spark.operators import multimodal as mm

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)

    # Deterministic 16x16 grayscale "images" whose pixels are the
    # document's utf-8 bytes — synthesized media exercising the real
    # Arrow-batched decode/resize/featurize stages (the codec is the
    # documented FAKM stub; the Spark dataflow is production-shaped).
    def _to_fakm_batch(texts):
        return pd.Series(
            [
                mm.fakm_encode(
                    "image",
                    (t or "").encode("utf-8")[:256].ljust(256, b"\0"),
                    width=16,
                    height=16,
                )
                for t in texts
            ]
        )

    to_fakm = F.pandas_udf(_to_fakm_batch, "binary")

    media = docs.select(
        F.concat(F.lit("doc"), F.lpad(F.col("doc_id").cast("string"), 6, "0")).alias(
            "media_id"
        ),
        to_fakm("text").alias("data"),
    )
    feats = mm.extract_features(
        mm.resize_images(mm.decode_meta(media), width=8, height=8)
    )
    return feats.select(
        "media_id",
        "kind",
        "n_bytes",
        F.round(F.element_at("features", 1), 6).alias("mean_px"),
        F.round(F.element_at("features", 2), 6).alias("std_px"),
    ).orderBy("media_id")


@register(
    "x67_embed_and_near_dup",
    oracle=None,  # the hashing-trick encoder + LSH constants are
    # engine-side; encoder determinism and near-dup recall are
    # unit-tested (tests/test_embedding.py, tests/test_similarity.py).
    covers="embedding production -> similarity pipeline: hashed encoder feeding embedding near-dup (SURVEY §2.4)",
    tags=("similarity", "training"),
    min_rows=100,
)
def x67(spark: SparkSession, sf_dir: str) -> DataFrame:
    from skoltexter_by_ai_spark.operators.embedding import hashed_embedding

    # The fixture corpus is deliberately near-dup-rich, so pair volume
    # grows quadratically with corpus size; the declared query bounds
    # its input to keep the bench honest about the PIPELINE cost (the
    # operator's scale posture is the LSH bucketing, covered by x15's
    # notes) while still crossing the sf0.01 gate with >300 pairs.
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    # Lazy-pin the encoded frame: embedding_near_dups references its
    # input three times (bucket pass + both sides of the verify
    # attach), and without the checkpoint the mapInPandas encoder ran
    # on every reference. Bounded here by the doc_id < 500 input cap.
    emb = pin(
        hashed_embedding(docs, "text", "doc_id", dim=64).withColumnRenamed("doc_id", "vec_id"),
        eager=False,
    )
    # Near-identical fixture documents share most tokens, so their
    # hashed embeddings exceed cosine 0.9 — the full production path
    # (encode -> LSH bucket -> exact verify) must surface them.
    return similarity.embedding_near_dups(
        emb, threshold=0.9, n_tables=8, n_planes=12
    ).orderBy("id_a", "id_b")


@register(
    "x73_ivf_ann_topk",
    oracle=None,  # centroids come from driver-side Lloyd iterations
    # (engine-side constants); exactness at nprobe == n_centroids and
    # recall at partial probes are unit-tested (tests/test_similarity.py).
    covers="IVF approximate nearest neighbors: coarse-quantizer probe + exact re-rank (SURVEY §2.4 'IVF ... as the scale path')",
    tags=("similarity",),
    min_rows=10,
)
def x73(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0)
    # top-k output of a single query: bounded
    return bounded_sort(
        similarity.ivf_ann_topk(emb, query, k=10, n_centroids=16, nprobe=6),
        F.col("cos_sim").desc(),
        "vec_id",
    )


@register(
    "x74_cdc_snapshot",
    oracle="""
        WITH ch AS (
            SELECT o_custkey, o_orderkey, o_totalprice,
                   CASE WHEN o_orderstatus = 'F' AND o_orderkey % 7 = 0
                        THEN 'D' ELSE 'U' END AS op
            FROM orders
        ), ranked AS (
            SELECT o_custkey, o_orderkey, o_totalprice, op,
                   ROW_NUMBER() OVER (PARTITION BY o_custkey
                                      ORDER BY o_orderkey DESC) AS rn
            FROM ch
        )
        SELECT o_custkey, o_orderkey AS last_seq, o_totalprice AS last_price
        FROM ranked WHERE rn = 1 AND op <> 'D'
        ORDER BY o_custkey
    """,
    covers="CDC keep-last merge with tombstones: change log -> current snapshot (generalizes X9 incremental discipline)",
    tags=("cdc",),
    min_rows=100,
)
def x74(spark: SparkSession, sf_dir: str) -> DataFrame:
    from skoltexter_by_ai_spark.operators import cdc

    orders = load_table(spark, sf_dir, "orders")
    # Synthesize an upsert/delete change log from orders: key =
    # customer, sequence = order key, and a deterministic slice of
    # finalized orders acts as tombstones.
    changes = orders.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.when(
            (F.col("o_orderstatus") == "F") & (F.col("o_orderkey") % 7 == 0), "D"
        )
        .otherwise("U")
        .alias("op"),
    )
    snap = cdc.merge_upserts(changes, ["o_custkey"], "o_orderkey", op_col="op")
    return snap.select(
        "o_custkey",
        F.col("o_orderkey").alias("last_seq"),
        F.col("o_totalprice").alias("last_price"),
    ).orderBy("o_custkey")


@register(
    "x75_scd2_history",
    oracle="""
        SELECT o_custkey,
               o_orderkey AS valid_from,
               LEAD(o_orderkey) OVER (PARTITION BY o_custkey
                                      ORDER BY o_orderkey) AS valid_to,
               LEAD(o_orderkey) OVER (PARTITION BY o_custkey
                                      ORDER BY o_orderkey) IS NULL AS is_current,
               o_totalprice AS price
        FROM orders
        ORDER BY o_custkey, valid_from
    """,
    covers="SCD2 versioned history: change log -> validity intervals via lead() (SURVEY §2.4 training-pipeline surface)",
    tags=("cdc",),
    min_rows=1000,
)
def x75(spark: SparkSession, sf_dir: str) -> DataFrame:
    from skoltexter_by_ai_spark.operators import cdc

    orders = load_table(spark, sf_dir, "orders")
    hist = cdc.scd2_history(
        orders.select("o_custkey", "o_orderkey", "o_totalprice"),
        ["o_custkey"],
        "o_orderkey",
    )
    return hist.select(
        "o_custkey",
        "valid_from",
        "valid_to",
        "is_current",
        F.col("o_totalprice").alias("price"),
    ).orderBy("o_custkey", "valid_from")


@register(
    "x76_int8_quantization",
    oracle="""
        WITH v AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
            FROM embeddings
        ), s AS (
            SELECT vec_id, e,
                   CASE WHEN list_max(list_transform(e, x -> abs(x))) > 0
                        THEN 127.0 / list_max(list_transform(e, x -> abs(x)))
                        ELSE 1.0 END AS q_scale
            FROM v
        )
        SELECT vec_id,
               array_to_string(list_transform(e, x -> CAST(floor(x * q_scale + 0.5) AS BIGINT)), ',') AS q_codes,
               q_scale
        FROM s
        ORDER BY vec_id
    """,
    covers="symmetric int8 embedding quantization: 4x storage cut before ANN indexing (SURVEY §2.4)",
    tags=("similarity", "training"),
    min_rows=100,
)
def x76(spark: SparkSession, sf_dir: str) -> DataFrame:
    from skoltexter_by_ai_spark.operators.embedding import quantize_int8

    emb = load_table(spark, sf_dir, "embeddings")
    # The declared output serializes the quantized array to a CSV
    # string: driver-side value hashing of engine-native array types is
    # unproven (Spark collects lists, DuckDB numpy arrays), while equal
    # strings are unambiguous — same full values, zero hasher risk.
    return (
        quantize_int8(emb)
        .select(
            "vec_id",
            F.array_join("q_embedding", ",").alias("q_codes"),
            "q_scale",
        )
        .orderBy("vec_id")
    )


@register(
    "x77_cluster_representatives",
    # Near-dup cluster -> canonical document selection: after clustering
    # (x20's connected components), training pipelines keep ONE document
    # per cluster — the highest-quality member (x08's heuristic), doc_id
    # as the deterministic tiebreak. Oracle = x20's recursive-CTE closure
    # joined to x08's quality formula with a keep-best window.
    oracle=f"""
        WITH RECURSIVE toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
        sh AS (SELECT DISTINCT doc_id,
                 unnest(list_transform(generate_series(1, len(t)-1), i -> t[i] || ' ' || t[i+1])) AS s
               FROM toks WHERE len(t) >= 2),
        rare AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= 20),
        shr AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare USING (s)),
        szs AS (SELECT doc_id, COUNT(*) AS sz FROM shr GROUP BY doc_id),
        cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
                 FROM shr a JOIN shr b ON a.s = b.s AND a.doc_id < b.doc_id
                 GROUP BY 1, 2),
        edges0 AS (SELECT id_a, id_b FROM cand
                   JOIN szs sa ON id_a = sa.doc_id
                   JOIN szs sb ON id_b = sb.doc_id
                   WHERE ROUND(common * 1.0 / (sa.sz + sb.sz - common), 6) >= 0.5),
        edges AS (SELECT id_a AS a, id_b AS b FROM edges0
                  UNION SELECT id_b, id_a FROM edges0),
        reach(src, dst) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
        ),
        clusters AS (SELECT src AS doc_id, MIN(dst) AS cluster
                     FROM reach GROUP BY src),
        q AS (
            SELECT doc_id,
                   CAST(len({_TOKS}) AS BIGINT) AS n_tok,
                   CASE WHEN len({_TOKS}) > 0 THEN
                       CAST(len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                                x -> list_contains(['the','a','and','of','to','is','in','it','that','for'], x)))
                            AS DOUBLE) / len({_TOKS})
                   ELSE 0.0 END AS stop_ratio,
                   CASE WHEN length(text) > 0 THEN
                       CAST(length(regexp_replace(text, '[^.,;:!?''"()\\[\\]-]', '', 'g')) AS DOUBLE)
                       / length(text)
                   ELSE 0.0 END AS p_ratio
            FROM documents),
        quality AS (
            SELECT doc_id,
                   ROUND(0.4 * (CASE WHEN n_tok >= 10 AND n_tok <= 10000 THEN 1.0
                                     WHEN n_tok > 0 THEN 0.5 ELSE 0.0 END)
                         + 0.3 * least(stop_ratio * 5.0, 1.0)
                         + 0.3 * (1.0 - least(p_ratio * 5.0, 1.0)), 6) AS quality
            FROM q),
        ranked AS (
            SELECT c.cluster, c.doc_id, quality,
                   ROW_NUMBER() OVER (PARTITION BY c.cluster
                                      ORDER BY quality DESC, c.doc_id) AS rn,
                   COUNT(*) OVER (PARTITION BY c.cluster) AS cluster_size
            FROM clusters c JOIN quality USING (doc_id))
        SELECT cluster, doc_id AS rep_doc_id, quality, cluster_size
        FROM ranked WHERE rn = 1
        ORDER BY cluster
    """,
    covers="canonical-document selection: near-dup clusters -> keep best-quality member (SURVEY §2.4 dedup + quality composed)",
    tags=("dedup", "text", "training"),
    min_rows=100,
)
def x77(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=2, max_df=20).filter(
        F.round("jaccard", 6) >= 0.5
    )
    clusters = dedup.dedup_clusters(docs.select("doc_id"), pairs, id_col="doc_id")
    quality = docs.select(
        "doc_id", text_analysis.quality_score("text").alias("quality")
    )
    # Quality is a narrow projection and clusters carry only (id,
    # cluster): the join shuffles ids, never text.
    w = Window.partitionBy("cluster").orderBy(F.col("quality").desc(), "doc_id")
    return (
        clusters.join(quality, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .withColumn("cluster_size", F.count("*").over(Window.partitionBy("cluster")))
        .filter(F.col("rn") == 1)
        .select(
            "cluster",
            F.col("doc_id").alias("rep_doc_id"),
            "quality",
            "cluster_size",
        )
        .orderBy("cluster")
    )


@register(
    "x82_trending_topk",
    # Batch twin of the streaming trending view (streaming/:
    # windowed_type_counts -> upsert snapshot -> rank at read). Top-3
    # event types per hour, count desc with a deterministic tiebreak.
    oracle="""
        WITH counts AS (
            SELECT epoch_ns(date_trunc('hour', ts)) // 1000000000 AS hour_start,
                   event_type, COUNT(*) AS n
            FROM events GROUP BY 1, 2
        ), ranked AS (
            SELECT hour_start, event_type, n,
                   ROW_NUMBER() OVER (PARTITION BY hour_start
                                      ORDER BY n DESC, event_type) AS rank
            FROM counts
        )
        SELECT hour_start, event_type, n, CAST(rank AS INT) AS rank
        FROM ranked WHERE rank <= 3
        ORDER BY hour_start, rank
    """,
    covers="trending top-k per event-time window: agg -> per-window rank (streaming twin composes via the upsert view)",
    tags=("streaming", "olap"),
    min_rows=100,
)
def x82(spark: SparkSession, sf_dir: str) -> DataFrame:
    from skoltexter_by_ai_spark import streaming as st

    events = load_table(spark, sf_dir, "events")
    # (calendar hour x top-3)-bounded output
    return bounded_sort(
        st.trending_topk(st.windowed_type_counts(events), k=3), "hour_start", "rank"
    )


@register(
    "x88_document_chunking",
    # Overlapping token windows (32 tokens, stride 24) — context-window
    # prep for embedding/RAG pipelines. The oracle regenerates the same
    # windows with generate_series + list slicing; whitespace
    # tokenization matches the engine's tokens() exactly.
    # list_filter drops the [''] that string_split_regex yields for
    # empty/whitespace-only text, matching Spark tokens()'s guard —
    # without it an empty doc would count 1 token vs Spark's 0
    # (ADVICE r2; latent until a fixture regen ships an empty doc).
    oracle="""
        WITH t AS (
            SELECT doc_id,
                   list_filter(string_split_regex(trim(text), '\\s+'),
                               x -> x <> '') AS toks
            FROM documents
        ), n AS (
            SELECT doc_id, toks,
                   1 + CAST(ceil(greatest(len(toks) - 32, 0) / 24.0) AS INT) AS n_chunks
            FROM t
        ), c AS (
            SELECT doc_id, toks,
                   unnest(generate_series(0, n_chunks - 1)) AS chunk_id
            FROM n
        )
        SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
               CAST(len(toks[chunk_id * 24 + 1 : chunk_id * 24 + 32]) AS INT) AS n_chunk_tokens,
               array_to_string(toks[chunk_id * 24 + 1 : chunk_id * 24 + 32], ' ') AS chunk_text
        FROM c
        ORDER BY doc_id, chunk_id
    """,
    covers="document chunking into overlapping context windows (SURVEY §2.4 training surface)",
    tags=("text", "training"),
    min_rows=500,
)
def x88(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text_analysis.chunk_documents(
        docs, "doc_id", "text", chunk_tokens=32, stride=24
    ).orderBy("doc_id", "chunk_id")


@register(
    "x89_cluster_aware_split",
    # Near-dup-aware train/val/test split: assign each document its
    # x20 near-dup cluster, then hash-split on the CLUSTER id — all
    # members of a near-dup cluster land in the same split, so
    # training data never leaks into eval via near-duplicates. The
    # composition is the point: clusters (connected components) feed
    # the same md5 split x26 proves engine-neutral.
    oracle=f"""
        WITH RECURSIVE toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
        sh AS (SELECT DISTINCT doc_id,
                 unnest(list_transform(generate_series(1, len(t)-1), i -> t[i] || ' ' || t[i+1])) AS s
               FROM toks WHERE len(t) >= 2),
        rare AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= 20),
        shr AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare USING (s)),
        szs AS (SELECT doc_id, COUNT(*) AS sz FROM shr GROUP BY doc_id),
        cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
                 FROM shr a JOIN shr b ON a.s = b.s AND a.doc_id < b.doc_id
                 GROUP BY 1, 2),
        edges0 AS (SELECT id_a, id_b FROM cand
                   JOIN szs sa ON id_a = sa.doc_id
                   JOIN szs sb ON id_b = sb.doc_id
                   WHERE ROUND(common * 1.0 / (sa.sz + sb.sz - common), 6) >= 0.5),
        edges AS (SELECT id_a AS a, id_b AS b FROM edges0
                  UNION SELECT id_b, id_a FROM edges0),
        reach(src, dst) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
        ),
        clusters AS (SELECT src AS doc_id, MIN(dst) AS cluster
                     FROM reach GROUP BY src)
        SELECT doc_id, cluster,
               CASE WHEN substring(md5(CAST(cluster AS VARCHAR)), 1, 2) < 'cc' THEN 'train'
                    WHEN substring(md5(CAST(cluster AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
                    ELSE 'test' END AS split
        FROM clusters
        ORDER BY doc_id
    """,
    covers="near-dup-aware train/val/test split: cluster assignment composed with the md5 hash split (no leakage across splits)",
    tags=("dedup", "training"),
    min_rows=400,
)
def x89(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=2, max_df=20).filter(
        F.round("jaccard", 6) >= 0.5
    )
    clusters = dedup.dedup_clusters(docs.select("doc_id"), pairs, id_col="doc_id")
    return clusters.select(
        "doc_id", "cluster", text_analysis.hash_split("cluster").alias("split")
    ).orderBy("doc_id")


@register(
    "x91_ema_per_user",
    # Exponential moving average per user — the classic "iterative"
    # recurrence expressed as an ORDERED ARRAY FOLD, so it runs as one
    # aggregation + one narrow projection (no driver loop, no UDF).
    # Both engines fold left-to-right over the identically-sorted
    # (ts, event_id) sequence with identical double ops, so the result
    # is bit-deterministic. DuckDB's list_reduce seeds with the first
    # element; Spark emulates that with element_at + slice.
    oracle="""
        WITH seq AS (
            SELECT user_id,
                   list_transform(
                       list_sort(list((epoch_ns(ts), event_id, value))),
                       s -> CAST(s[3] AS DOUBLE)) AS vals
            FROM events
            WHERE value IS NOT NULL
            GROUP BY user_id
        )
        SELECT user_id,
               CAST(len(vals) AS BIGINT) AS n,
               ROUND(list_reduce(vals, (acc, x) -> 0.3 * x + 0.7 * acc), 6) AS ema
        FROM seq
        ORDER BY user_id
    """,
    covers="per-key exponential moving average as an ordered array fold (iterative recurrence without UDFs or driver loops)",
    tags=("events", "training"),
    # One row per distinct user: sf0.001 ships 15 users, so the gate
    # must sit below that to be satisfiable at the smoke scale
    # (VERDICT r2: min_rows=50 was tuned against sf0.01 only).
    min_rows=10,
)
def x91(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Same implementation serves batch and streaming: the builder
    # delegates to streaming.user_ema's batch path, and the streaming
    # twin (applyInPandasWithState) is parity-tested against it.
    from skoltexter_by_ai_spark import streaming

    events = load_table(spark, sf_dir, "events")
    return (
        streaming.user_ema(events, alpha=0.3)
        .select("user_id", "n", F.round("ema", 6).alias("ema"))
        .orderBy("user_id")
    )


@register(
    "x92_peak_concurrency",
    # Sweep-line over session intervals: how many user sessions are
    # open at once, at peak? Sessions come from the same gaps-and-
    # islands logic as x14 (end = last event + gap, exclusive); each
    # interval contributes (+1 at start, -1 at end), a GLOBAL running
    # sum over (t, delta) gives concurrency, and the answer is its max
    # plus the first time it is reached. The Spark side computes the
    # running sum with operators.skew.distributed_prefix_sum — the
    # two-phase parallel prefix sum — NOT a single-task global window.
    oracle="""
        WITH marks AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTES
                        THEN 1 ELSE 0 END AS new_sess
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sess AS (
            SELECT user_id, ts,
                   SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING) AS sid
            FROM marks
        ),
        intervals AS (
            SELECT user_id, sid,
                   epoch_ns(MIN(ts)) AS start_ns,
                   epoch_ns(MAX(ts) + INTERVAL 30 MINUTES) AS end_ns
            FROM sess GROUP BY user_id, sid
        ),
        deltas AS (
            SELECT start_ns AS t, 1 AS delta FROM intervals
            UNION ALL
            SELECT end_ns, -1 FROM intervals
        ),
        run AS (
            SELECT t, delta,
                   SUM(delta) OVER (ORDER BY t, delta
                                    ROWS UNBOUNDED PRECEDING) AS concurrency
            FROM deltas
        )
        SELECT CAST(MAX(concurrency) AS BIGINT) AS peak,
               CAST(MIN(CASE WHEN concurrency = (SELECT MAX(concurrency) FROM run)
                             THEN t END) AS BIGINT) AS peak_at_ns
        FROM run
    """,
    covers="sweep-line peak concurrency over session intervals via two-phase distributed prefix sum (no single-task global window)",
    tags=("events", "streaming", "olap"),
    min_rows=1,
)
def x92(spark: SparkSession, sf_dir: str) -> DataFrame:
    from skoltexter_by_ai_spark.operators.skew import distributed_prefix_sum

    events = load_table(spark, sf_dir, "events")
    sessions = (
        events.groupBy(F.session_window("ts", "30 minutes").alias("__w"), "user_id")
        .agg(F.count("*").alias("__n"))
        .select(
            (F.unix_micros(F.col("__w.start")) * 1000).alias("start_ns"),
            (F.unix_micros(F.col("__w.end")) * 1000).alias("end_ns"),
        )
    )
    deltas = sessions.select(
        F.col("start_ns").alias("t"), F.lit(1).alias("delta")
    ).unionByName(
        sessions.select(F.col("end_ns").alias("t"), F.lit(-1).alias("delta"))
    )
    run = distributed_prefix_sum(deltas, ["t", "delta"], "delta", out_col="concurrency")
    # ONE aggregation finds the peak AND its earliest timestamp: the
    # struct max orders by (concurrency, -t), so ties on the peak
    # resolve to the smallest t deterministically — no second pass
    # over the running sum, no broadcast join (was: peak sub-agg +
    # join + conditional min, two consumptions of `run`).
    best = run.agg(
        F.max(
            F.struct(F.col("concurrency"), (-F.col("t")).alias("__negt"))
        ).alias("__s")
    )
    return best.select(
        F.col("__s.concurrency").cast("bigint").alias("peak"),
        (-F.col("__s.__negt")).cast("bigint").alias("peak_at_ns"),
    )


@register(
    "x94_label_centroids",
    # Class prototypes + confusion-prone neighbours: per-label mean
    # embedding (rounded per dim), then each label's nearest OTHER
    # label by cosine of the ROUNDED centroids — identical fold inputs
    # in both engines, final cosine rounded.
    oracle="""
        WITH e AS (
            SELECT label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
            FROM embeddings
        ),
        d AS (
            SELECT label, t.i AS pos, avg(ev[t.i]) AS m
            FROM e, unnest(generate_series(1, len(ev))) AS t(i)
            GROUP BY 1, 2
        ),
        c AS (
            SELECT label, list(ROUND(m, 6) + 0.0 ORDER BY pos) AS centroid
            FROM d GROUP BY 1
        ),
        nv AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs FROM e GROUP BY 1),
        base AS (SELECT nv.label, n_vecs, centroid FROM nv JOIN c USING (label)),
        pairs AS (
            SELECT a.label, a.n_vecs, a.centroid,
                   b.label AS nearest_label,
                   ROUND(
                       list_aggregate(list_transform(generate_series(1, len(a.centroid)),
                                                     i -> a.centroid[i] * b.centroid[i]), 'sum')
                       / (sqrt(list_aggregate(list_transform(a.centroid, x -> x * x), 'sum'))
                          * sqrt(list_aggregate(list_transform(b.centroid, x -> x * x), 'sum'))),
                       6) + 0.0 AS nearest_cos
            FROM base a JOIN base b ON a.label <> b.label
        ),
        r AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY label
                                         ORDER BY nearest_cos DESC, nearest_label) AS rn
            FROM pairs
        )
        SELECT label, n_vecs, nearest_label, nearest_cos, centroid
        FROM r WHERE rn = 1
        ORDER BY label
    """,
    covers="per-label embedding centroids + nearest-centroid diagnostic (class prototypes)",
    tags=("similarity", "training"),
    min_rows=5,
)
def x94(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    # Lazy-pin the label-bounded centroid table: nearest_centroid_labels
    # reads it on both sides of its all-pairs join, and unpinned each
    # side re-ran the two centroid aggregation towers over embeddings.
    cents = pin(similarity.label_centroids(emb, "label", "embedding"), eager=False)
    # label-bounded output
    return bounded_sort(similarity.nearest_centroid_labels(cents), "label")


@register(
    "x95_token_vocab",
    # Tokenizer-prep vocabulary table: tf/df per token, frequency rank
    # and the cumulative corpus-coverage share up to each rank.
    oracle="""
        WITH t AS (
            SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS token
            FROM documents
        ),
        v AS (
            SELECT token, CAST(COUNT(*) AS BIGINT) AS tf,
                   CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
            FROM t WHERE token <> '' GROUP BY 1
        )
        SELECT token, tf, df,
               CAST(ROW_NUMBER() OVER (ORDER BY tf DESC, token) AS INT) AS rank,
               ROUND(SUM(tf) OVER (ORDER BY tf DESC, token
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     * 1.0 / (SELECT SUM(tf) FROM v), 6) AS cum_share
        FROM v
        WHERE tf >= 2
        ORDER BY rank
    """,
    covers="corpus token-frequency vocabulary with cumulative coverage (tokenizer prep)",
    tags=("text", "training"),
    min_rows=20,
)
def x95(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # min_tf=2 exercises the tail cut. The oracle's WHERE runs before
    # its window functions, so rank/cumsum are computed over the cut
    # vocabulary in BOTH engines; cum_share's denominator stays the
    # full-corpus token count (the scalar subquery over uncut v).
    return text_analysis.token_vocabulary(docs, "doc_id", "text", min_tf=2).orderBy(
        "rank"
    )


@register(
    "x96_label_outliers",
    # Label-noise screen: cosine of every vector to its own label's
    # centroid (rounded per the suite convention), outliers below 0.
    oracle="""
        WITH e AS (
            SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
            FROM embeddings
        ),
        d AS (
            SELECT label, t.i AS pos, avg(ev[t.i]) AS m
            FROM e, unnest(generate_series(1, len(ev))) AS t(i)
            GROUP BY 1, 2
        ),
        c AS (SELECT label, list(ROUND(m, 6) + 0.0 ORDER BY pos) AS cent FROM d GROUP BY 1),
        s AS (
            SELECT vec_id, e.label,
                   ROUND(
                       list_aggregate(list_transform(generate_series(1, len(ev)),
                                                     i -> ev[i] * cent[i]), 'sum')
                       / (sqrt(list_aggregate(list_transform(ev, x -> x * x), 'sum'))
                          * sqrt(list_aggregate(list_transform(cent, x -> x * x), 'sum'))),
                       6) + 0.0 AS cos_to_centroid
            FROM e JOIN c USING (label)
        )
        SELECT vec_id, label, cos_to_centroid, cos_to_centroid < 0.0 AS is_outlier
        FROM s
        ORDER BY vec_id
    """,
    covers="label-noise screen: cosine to own-label centroid, outlier flags",
    tags=("similarity", "training", "curation"),
    min_rows=50,
)
def x96(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.label_outliers(
        emb, "vec_id", "label", "embedding", min_cos=0.0
    ).orderBy("vec_id")


@register(
    "x97_bigram_pmi",
    # Collocation mining: adjacent-bigram PMI against unigram
    # expectations — phrase/merge-candidate detection for tokenizer
    # training. Same ln/round conventions both engines.
    oracle="""
        WITH t AS (
            -- list_filter mirrors tokens()' empty-token removal, so a
            -- whitespace-only document contributes nothing to either
            -- the pair or the unigram totals in BOTH engines.
            SELECT doc_id,
                   list_filter(string_split_regex(trim(text), '\\s+'),
                               x -> x <> '') AS toks
            FROM documents
        ),
        bg AS (
            SELECT toks[s.i] AS tok_a, toks[s.i + 1] AS tok_b
            FROM t, unnest(generate_series(1, greatest(len(toks) - 1, 0))) AS s(i)
        ),
        pc AS (
            SELECT tok_a, tok_b, CAST(COUNT(*) AS BIGINT) AS pair_count
            FROM bg GROUP BY 1, 2
        ),
        uc AS (
            SELECT tok, CAST(COUNT(*) AS BIGINT) AS c
            FROM (SELECT unnest(toks) AS tok FROM t) GROUP BY 1
        ),
        tot AS (
            SELECT (SELECT SUM(pair_count) FROM pc) AS npairs,
                   (SELECT SUM(c) FROM uc) AS ntoks
        )
        SELECT tok_a, tok_b, pair_count,
               ROUND(LN((pair_count / npairs)
                        / ((ca.c / ntoks) * (cb.c / ntoks))), 6) + 0.0 AS pmi
        FROM pc
        JOIN uc ca ON pc.tok_a = ca.tok
        JOIN uc cb ON pc.tok_b = cb.tok
        CROSS JOIN tot
        WHERE pair_count >= 5
        ORDER BY tok_a, tok_b
    """,
    covers="adjacent-bigram PMI collocation mining (phrase / merge-candidate detection)",
    tags=("text", "training"),
    min_rows=50,
)
def x97(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text_analysis.bigram_pmi(docs, "doc_id", "text", min_count=5).orderBy(
        "tok_a", "tok_b"
    )


_BM25_TERMS = ("spark", "hash", "vector", "window")


@register(
    "x98_bm25_topk",
    # Ranked keyword retrieval: Okapi BM25 (k1=1.2, b=0.75, Lucene
    # idf) over the corpus, top-10 by (score desc, id). Same ln/round
    # conventions in both engines; N/avgdl over the FULL corpus.
    oracle=f"""
        WITH d AS (
            SELECT doc_id,
                   list_filter({_TOKS}, x -> x <> '') AS toks
            FROM documents
        ),
        s AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   AVG(CAST(len(toks) AS DOUBLE)) AS avgdl
            FROM d
        ),
        tf AS (
            SELECT doc_id, dl, term, CAST(COUNT(*) AS BIGINT) AS tf
            FROM (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
                         unnest(toks) AS term FROM d)
            WHERE term IN ('spark', 'hash', 'vector', 'window')
            GROUP BY 1, 2, 3
        ),
        dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS dfq FROM tf GROUP BY 1)
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
               ROUND(SUM(
                   LN((n - dfq + 0.5) / (dfq + 0.5) + 1.0)
                   * (tf * (1.2 + 1.0))
                   / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
               ), 6) AS score
        FROM tf JOIN dfreq USING (term) CROSS JOIN s
        GROUP BY doc_id
        ORDER BY score DESC, doc_id
        LIMIT 10
    """,
    covers="BM25 ranked keyword retrieval (full-text search over the corpus)",
    tags=("text", "search"),
    min_rows=10,
)
def x98(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return retrieval.bm25_topk(docs, "doc_id", "text", list(_BM25_TERMS), top_k=10)


@register(
    "x99_unigram_logprob",
    # Corpus-LM fluency scoring: mean unigram log-probability per
    # document under the corpus's own ML unigram model — the cheap
    # KenLM-shaped typicality feature of quality-filter pipelines.
    oracle=f"""
        WITH t AS (
            SELECT doc_id, unnest(list_filter({_TOKS}, x -> x <> '')) AS tok
            FROM documents
        ),
        c AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM t GROUP BY 1),
        tot AS (SELECT SUM(c) AS nt FROM c)
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
               ROUND(AVG(LN(CAST(c AS DOUBLE) / nt)), 6) + 0.0 AS mean_logprob
        FROM t JOIN c USING (tok) CROSS JOIN tot
        GROUP BY doc_id
        ORDER BY doc_id
    """,
    covers="per-document mean unigram log-probability (corpus-LM fluency / typicality score)",
    tags=("text", "training", "curation"),
    min_rows=50,
)
def x99(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return retrieval.unigram_logprob(docs, "doc_id", "text").orderBy("doc_id")


@register(
    "x109_hybrid_rrf",
    # Hybrid retrieval: BM25 keyword top-20 (x98's scoring, same
    # constants) fused with embedding-cosine top-20 (query = vec_id 0,
    # x13's cosine conventions) by reciprocal rank fusion,
    # rrf = sum over lists of 1/(60 + rank). Ranks are row_number over
    # (score desc, id) in both engines; absent-from-a-list keeps a
    # NULL rank and contributes 0. doc_id/vec_id share an id space by
    # fixture construction (document embeddings).
    oracle=f"""
        WITH d AS (
            SELECT doc_id, list_filter({_TOKS}, x -> x <> '') AS toks
            FROM documents
        ),
        s AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   AVG(CAST(len(toks) AS DOUBLE)) AS avgdl
            FROM d
        ),
        tf AS (
            SELECT doc_id, dl, term, CAST(COUNT(*) AS BIGINT) AS tf
            FROM (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
                         unnest(toks) AS term FROM d)
            WHERE term IN ('spark', 'hash', 'vector', 'window')
            GROUP BY 1, 2, 3
        ),
        dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS dfq FROM tf GROUP BY 1),
        bm AS (
            SELECT doc_id,
                   ROUND(SUM(
                       LN((n - dfq + 0.5) / (dfq + 0.5) + 1.0)
                       * (tf * (1.2 + 1.0))
                       / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
                   ), 6) AS score
            FROM tf JOIN dfreq USING (term) CROSS JOIN s
            GROUP BY doc_id
            ORDER BY score DESC, doc_id
            LIMIT 20
        ),
        bmr AS (
            SELECT doc_id,
                   CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS INT)
                       AS rank_bm25
            FROM bm
        ),
        q AS (
            SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
            FROM embeddings WHERE vec_id = 0
        ),
        e AS (
            SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
            FROM embeddings WHERE vec_id <> 0
        ),
        cs AS (
            SELECT vec_id AS doc_id,
                   ROUND(
                       list_aggregate(list_transform(generate_series(1, len(ev)),
                                                     i -> ev[i] * qv[i]), 'sum')
                       / (sqrt(list_aggregate(list_transform(ev, x -> x * x), 'sum'))
                          * sqrt(list_aggregate(list_transform(qv, x -> x * x), 'sum'))),
                       6) AS cos_sim
            FROM e, q
            ORDER BY cos_sim DESC, doc_id
            LIMIT 20
        ),
        csr AS (
            SELECT doc_id,
                   CAST(ROW_NUMBER() OVER (ORDER BY cos_sim DESC, doc_id) AS INT)
                       AS rank_cos
            FROM cs
        )
        SELECT doc_id, rank_bm25, rank_cos,
               ROUND(COALESCE(CAST(1.0 AS DOUBLE) / (60 + rank_bm25), 0.0)
                     + COALESCE(CAST(1.0 AS DOUBLE) / (60 + rank_cos), 0.0),
                     6) AS rrf_score
        FROM bmr FULL JOIN csr USING (doc_id)
        ORDER BY rrf_score DESC, doc_id
        LIMIT 10
    """,
    covers="hybrid retrieval: reciprocal-rank fusion of BM25 and embedding-cosine candidate lists",
    tags=("text", "search", "similarity"),
    min_rows=10,
)
def x109(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    bm = retrieval.bm25_topk(
        docs, "doc_id", "text", list(_BM25_TERMS), top_k=20
    )
    cos = similarity.cosine_topk(
        emb, emb.filter(F.col("vec_id") == 0), k=20
    ).withColumnRenamed("vec_id", "doc_id")
    return retrieval.rrf_fuse(
        [(bm, "score", "rank_bm25"), (cos, "cos_sim", "rank_cos")],
        "doc_id",
        rrf_k=60,
        top_k=10,
    )


@register(
    "x113_daily_volume_anomaly",
    # Ops-monitoring shape: daily event-volume z-score against the
    # table's own mean/stddev (sample), |z| > 2 flagged. Day exported
    # as epoch seconds (x12's type convention); z rounded to 6.
    oracle="""
        WITH d AS (
            SELECT epoch_ns(date_trunc('day', ts)) // 1000000000 AS day_start,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM events GROUP BY 1
        ),
        s AS (SELECT AVG(n) AS mu, STDDEV_SAMP(n) AS sd FROM d)
        SELECT day_start, n,
               ROUND((n - mu) / sd, 6) + 0.0 AS z,
               CAST(CASE WHEN ABS((n - mu) / sd) > 2 THEN 1 ELSE 0 END AS INT)
                   AS is_anomaly
        FROM d CROSS JOIN s
        ORDER BY day_start
    """,
    covers="daily volume anomaly screen: per-day counts z-scored against the series' own stats",
    tags=("events", "quality"),
    min_rows=25,
)
def x113(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    # Lazy-pin the day-bounded rollup: it feeds the stats scalar AND
    # the output join; unpinned each reference re-scanned events.
    daily = pin(
        events.groupBy(
            F.unix_timestamp(F.date_trunc("day", F.col("ts"))).alias("day_start")
        ).agg(F.count("*").alias("n")),
        eager=False,
    )
    stats = daily.agg(
        F.avg("n").alias("__mu"), F.stddev_samp("n").alias("__sd")
    )
    z = (F.col("n") - F.col("__mu")) / F.col("__sd")
    return (
        daily.join(F.broadcast(stats))
        .select(
            "day_start",
            F.col("n").cast("bigint").alias("n"),
            (F.round(z, 6) + F.lit(0.0)).alias("z"),
            F.when(F.abs(z) > 2, F.lit(1)).otherwise(F.lit(0)).cast("int").alias(
                "is_anomaly"
            ),
        )
        # calendar-day-bounded output
        .transform(lambda d: bounded_sort(d, "day_start"))
    )


@register(
    "x114_bigram_logprob",
    # Laplace-smoothed bigram LM fluency score: mean over positions of
    # ln((c(prev,cur)+1)/(c(prev)+V)), V = unigram vocabulary size.
    # The bigram stream and both count tables tokenize identically in
    # both engines; docs with < 2 tokens emit no row.
    oracle=f"""
        WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
        bg AS (
            SELECT doc_id,
                   unnest(list_transform(
                       generate_series(1, greatest(len(toks) - 1, 0)),
                       i -> struct_pack(a := toks[i], b := toks[i+1]))) AS p
            FROM t
        ),
        s AS (SELECT doc_id, p.a AS a, p.b AS b FROM bg),
        pc AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS cab FROM s GROUP BY 1, 2),
        uni AS (
            SELECT tok AS a, CAST(COUNT(*) AS BIGINT) AS ca
            FROM (SELECT unnest(toks) AS tok FROM t) GROUP BY 1
        ),
        v AS (SELECT CAST(COUNT(*) AS BIGINT) AS vv FROM uni)
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               ROUND(AVG(LN((cab + 1.0) / CAST(ca + vv AS DOUBLE))), 6) + 0.0
                   AS mean_logprob
        FROM s JOIN pc USING (a, b) JOIN uni USING (a) CROSS JOIN v
        GROUP BY doc_id
        ORDER BY doc_id
    """,
    covers="Laplace-smoothed bigram-LM fluency scoring (corpus-trained, per-document mean log-prob)",
    tags=("text", "training", "curation"),
    min_rows=400,
)
def x114(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return retrieval.bigram_logprob(docs, "doc_id", "text").orderBy("doc_id")


@register(
    "x119_perplexity_buckets",
    # CCNet-style perplexity tiers: x99's corpus-LM fluency score,
    # then an exact corpus-wide NTILE(3) over (score desc, doc_id) —
    # bucket 1 = "head" (most fluent). The Spark side computes the
    # NTILE WITHOUT a single-task window (range-partitioned prefix
    # ranks, operators/skew.py) — the oracle's window IS the spec.
    oracle=f"""
        WITH t AS (
            SELECT doc_id, unnest(list_filter({_TOKS}, x -> x <> '')) AS tok
            FROM documents
        ),
        c AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM t GROUP BY 1),
        tot AS (SELECT SUM(c) AS nt FROM c),
        s AS (
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
                   ROUND(AVG(LN(CAST(c AS DOUBLE) / nt)), 6) + 0.0 AS mean_logprob
            FROM t JOIN c USING (tok) CROSS JOIN tot
            GROUP BY doc_id
        )
        SELECT doc_id, n_tokens, mean_logprob,
               CAST(NTILE(3) OVER (ORDER BY mean_logprob DESC, doc_id) AS INT)
                   AS bucket
        FROM s
        ORDER BY doc_id
    """,
    covers="CCNet perplexity bucketing: corpus-LM score + exact distributed NTILE into head/middle/tail tiers",
    tags=("text", "training", "curation"),
    min_rows=400,
)
def x119(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return retrieval.perplexity_buckets(docs, "doc_id", "text", n_buckets=3).orderBy(
        "doc_id"
    )


@register(
    "x122_incremental_near_dups",
    oracle=None,  # LSH candidate generation is xxhash64-based (Spark-
    # specific); the verify stage is exact Jaccard, so the recall/
    # containment cross-check vs an exact cross-boundary twin lives in
    # tests/test_rows_only_value_checks.py.
    covers="incremental near-dup screen: new batch vs existing corpus via persisted-index band buckets (index-vs-batch LSH)",
    tags=("dedup", "curation"),
    # 5 counts PLANTED cross-boundary near-dups — a property of the
    # standard driver fixture, not of the operator; custom fixtures
    # (e.g. the Zipf skew law) may plant fewer, so checkers relax this
    # to >=1 away from /root/testdata (VERDICT r9 item 3).
    min_rows=5,
    min_rows_is_fixture_law=True,
)
def x122(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    # Fixed-size incoming batch (the x62/x118 lesson applied to the
    # OTHER side): the operator broadcasts the batch's band buckets on
    # the batch-is-small contract, so the fixture must not grow the
    # batch with the corpus — the fixed id window keeps it 50 docs at
    # every scale factor (a no-op at the sf0.01 oracle scale).
    incoming = docs.filter((F.col("doc_id") % 10 == 0) & (F.col("doc_id") < 500))
    existing = docs.filter((F.col("doc_id") % 10 != 0) | (F.col("doc_id") >= 500))
    return dedup.incremental_near_dups(
        existing, incoming, "doc_id", "text", n=2, num_hashes=32, bands=8,
        seed=42, min_jaccard=0.5,
    ).orderBy("new_id", "existing_id")


@register(
    "x124_scaling_canary",
    # Compute-bound, embarrassingly parallel scaling canary
    # (VERDICT r11 item 2): every other query at sf0.1 is dominated by
    # the scheduling/py4j floor, so the driver's low-core bench leg
    # read ratios of ~1 everywhere and could not verify that the
    # engine honors $SPARK_GRAFT_CPUS. This query reads a FIXED
    # pushdown-pruned key slice of the small supplier table
    # (s_suppkey <= 200 — fixed-size at every scale factor, the x122
    # fixed-batch precedent), fans it out over the honored core
    # budget, and computes 100,000 sha256 hashes per row (~20M) — pure
    # executor CPU behind a tiny scan, one aggregate row out — so its
    # wall time tracks the core budget (local[32] vs local[8]
    # measurements in OPTIMIZATION_r12.md). DuckDB computes the
    # identical checksum (sha256 hex + ascii + exact integer sum), so
    # it stays oracle-hashed like every other declared query.
    oracle="""
        SELECT CAST(SUM(ascii(substr(sha256(
                   CAST(s_suppkey AS VARCHAR) || '-' ||
                   CAST(i AS VARCHAR)), 1, 1))) AS BIGINT) AS checksum,
               COUNT(*) AS n
        FROM supplier, generate_series(1, 100000) AS t(i)
        WHERE s_suppkey <= 200
    """,
    covers="compute-bound scaling canary: embarrassingly parallel per-row hashing whose wall time tracks the honored core budget (VERDICT r11 item 2)",
    tags=("analytics", "bench"),
)
def x124(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_suppkey") <= 200)
        .select("s_suppkey")
    )
    # Repartition to the HONORED core budget, not to
    # spark.sql.shuffle.partitions: the bench sizes shuffle partitions
    # to the DATA (~4 MB each — 8 at sf0.1), which caps every shuffle
    # stage at 8 tasks regardless of cores; this query's entire point
    # is that its wall time tracks defaultParallelism, so its one
    # compute stage must fan out to exactly that. Scale-adaptive by
    # construction (grows with the cluster, no local constant); the
    # exchange moves only the ~200 filtered key rows, never payload.
    rows = sup.repartition(spark.sparkContext.defaultParallelism).select(
        "s_suppkey",
        F.explode(F.sequence(F.lit(1), F.lit(100000))).alias("i"),
    )
    val = F.ascii(
        F.substring(F.sha2(F.concat_ws("-", "s_suppkey", "i"), 256), 1, 1)
    )
    return rows.agg(
        F.sum(val).alias("checksum"), F.count("*").alias("n")
    )
