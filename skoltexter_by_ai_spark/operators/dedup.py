"""Deduplication operators for document-scale corpora.

Four strategies, cheapest-first; all pure DataFrame/column expressions
(JVM-side, whole-stage-codegen) — no Python UDFs anywhere:

- :func:`exact_dedup` — hash-groupBy keep-first. One shuffle on the
  dedup key. The 100 TB workhorse.
- :func:`ngram_jaccard_pairs` — exact set-similarity pairs via shingle
  inverted index + document-frequency pruning. Quadratic in the worst
  case; the pruning bound is the scale lever.
- :func:`minhash_lsh_candidates` — MinHash signatures + banded LSH:
  near-linear candidate generation, the scale path for near-dup at
  100 TB (shuffle keys are (band, band_hash) buckets).
- :func:`simhash64` / :func:`simhash_near_dups` — 64-bit SimHash with
  banded Hamming lookup.

Reference parity: the reference only dedups exactly by key keeping the
first CSV-order row (src/program3_generate_website.py:138-162); the
keep-first discipline here generalizes it (deterministic `order_col`,
never `dropDuplicates`).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


# --- tokenize / shingle helpers ----------------------------------------------


def tokens(col: Column | str) -> Column:
    """Whitespace tokens of trimmed text; NULL or empty -> empty array.

    Splits on regex ``\\s`` (identical to RE2's ``\\s``, so the DuckDB
    oracles tokenize the same way). The empty-input guard is
    ``array_remove(..., '')`` rather than a CASE WHEN: conditional
    branches block codegen subexpression elimination, which would
    re-evaluate the split tree at every reference in a consuming
    expression (shingling references it several times).
    """
    c = F.col(col) if isinstance(col, str) else col
    trimmed = F.trim(F.coalesce(c, F.lit("")))
    # After trim, split can only emit '' for the empty string itself.
    return F.array_remove(F.split(trimmed, r"\s+"), "")


def shingles_from_tokens(toks: Column, n: int = 2, distinct: bool = True) -> Column:
    """n-word shingles (space-joined) of a token ARRAY column —
    distinct by default; ``distinct=False`` keeps every POSITION's
    shingle (one per token-window), for span-level operators that
    count repeated positions rather than set membership.

    Built by ``zip_with``-ing the token array against shifted slices of
    itself (one slice per extra gram word), then truncating the
    null-padded tail. Deliberately NOT ``transform(sequence(...),
    i -> element_at(toks, i+j))``: higher-order lambdas run interpreted
    (no whole-stage codegen, no subexpression elimination), so a lambda
    body referencing the tokenization tree re-splits the text once per
    array element — ~1000x slower on real documents.

    ``toks`` is referenced several times; pass an attribute (a column
    materialized by a prior projection), not a large expression tree.
    Guarded: fewer than ``n`` tokens -> empty array.
    """
    grams = toks
    for j in range(1, n):
        shifted = F.slice(toks, j + 1, F.greatest(F.size(toks) - j, F.lit(0)))
        # zip_with pads the shorter (shifted) side with NULL; concat_ws
        # skips NULLs, leaving partial grams in the tail — truncated below.
        grams = F.zip_with(grams, shifted, lambda x, y: F.concat_ws(" ", x, y))
    k = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    sliced = F.slice(grams, F.lit(1), k)
    return F.array_distinct(sliced) if distinct else sliced


def word_shingles(col: Column | str, n: int = 2) -> Column:
    """Distinct n-word shingles of a text column (tokenize + shingle)."""
    return shingles_from_tokens(tokens(col), n)


def _spread(df: DataFrame, key_col: str | None) -> DataFrame:
    """Repartition by ``key_col`` iff the input parallelism is below the
    session's — i.e. only when the scan produced too few splits (one
    small/unsplittable file) to feed every core of the CPU-heavy
    tokenize/shingle stages that follow. ``key_col=None`` spreads
    round-robin — for callers whose natural key is a low-cardinality
    dimension (a handful of sources would occupy a handful of
    partitions) and whose downstream shuffle keys differ anyway.

    At scale this is a no-op: a 100 TB corpus scans as thousands of
    splits, and shuffling full document text would be the single most
    expensive thing an operator could do. When it does fire, the
    shuffle moves the small pre-explode rows, and because the key is
    the downstream aggregation key the (much larger) exploded rows
    never shuffle again.
    """
    if df.isStreaming:
        # Streaming frames expose no .rdd (AnalysisException) and the
        # micro-batch source already sets its own split count — the
        # under-split-scan condition this guards against is a batch
        # phenomenon. No-op keeps every _spread-using operator
        # stream-safe without changing batch plans.
        return df
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= min(target, 8):
        return df
    num = int(spark.conf.get("spark.sql.shuffle.partitions", str(target)))
    return df.repartition(num) if key_col is None else df.repartition(num, key_col)


def normalized_text(col: Column | str) -> Column:
    """Casefold + collapse whitespace — canonical form for fingerprints."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.trim(F.lower(c)), r"\s+", " ")


# --- exact dedup --------------------------------------------------------------


def exact_dedup(df: DataFrame, key: Column | str, order_col: Column | str) -> DataFrame:
    """Keep the first row (by ``order_col``) per dedup ``key``.

    Deterministic keep-first via a row_number window — NOT
    ``dropDuplicates`` (which keeps an arbitrary row per key).
    Scale: one shuffle on ``key``; skewed keys are handled by AQE
    skew-split since the window partitions by the same key.
    """
    key_col = F.col(key) if isinstance(key, str) else key
    w = Window.partitionBy(key_col).orderBy(order_col)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# --- exact n-gram Jaccard pairs -----------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    max_df: int = 20,
    min_jaccard: float = 0.0,
) -> DataFrame:
    """Exact Jaccard similarity over n-word shingle sets.

    Returns ``(id_a, id_b, jaccard)`` for all pairs sharing at least
    one shingle whose document frequency is <= ``max_df``. The Jaccard
    numerator/denominator are computed over the SAME df-pruned shingle
    universe, so results are a deterministic function of the inputs.

    Scale posture: the inverted-index self-join is O(sum df^2) —
    ``max_df`` bounds the blowup (a shingle in f docs contributes
    f*(f-1)/2 candidate pairs). For 100 TB corpora use
    :func:`minhash_lsh_candidates` instead; this operator is the exact
    oracle for moderate candidate sets.

    Pin lifecycle: the df-pruned shingle list is pinned lazily (three
    consumers read it; see inline comment) and its blocks live until
    the returned DataFrame is dropped and GC'd — a long-lived session
    invoking this repeatedly while RETAINING every result accumulates
    storage until those results are released (ADVICE r10). Where
    the pins live (executor-local or reliable storage) is the
    session's choice: see :mod:`~skoltexter_by_ai_spark.operators.pinning`.
    """
    from skoltexter_by_ai_spark.operators.pinning import pin
    # The per-doc distinct-shingle ARRAY is pinned (lazily) before the
    # explode: the df-prune count below and the pruning join both
    # explode this frame, and unpinned each one re-ran the tokenize +
    # zip_with + array_distinct tower over the whole corpus — the same
    # shared-tokenize fix the shingle diagnostics got (r12).
    # Corpus-linear blocks, released with the returned frame.
    arr = pin(
        _spread(df, id_col)
        .select(F.col(id_col).alias("__id"), tokens(text_col).alias("__toks"))
        .select(
            "__id", shingles_from_tokens(F.col("__toks"), n).alias("__sharr")
        ),
        eager=False,
    )
    sh = arr.select("__id", F.explode("__sharr").alias("__s"))
    # df-prune: drop ubiquitous shingles BEFORE the self-join.
    rare = sh.groupBy("__s").agg(F.count("*").alias("__df")).filter(F.col("__df") <= max_df)
    # Pin the pruned shingle list (lazily — the builder stays a pure
    # plan): it feeds THREE consumers (sizes, both self-join sides),
    # and without the checkpoint each one re-runs the tokenize +
    # explode + df-prune over the whole corpus — the dominant cost of
    # the operator (measured ~2x wall on x20/x90 at sf0.1). Size is
    # bounded: df-pruning caps every shingle at max_df rows.
    shr = pin(sh.join(rare.select("__s"), "__s"), eager=False)
    # Pin the per-doc size table too (lazily): it feeds BOTH sides of
    # the final sa/sb join, and unpinned each side re-aggregated the
    # pinned shingle list — a full pass + vocabulary shuffle each
    # (r11: one fewer HashAggregate tower over shr per query). Bounded:
    # one (id, count) row per surviving document. The pinned frame
    # loses the aggregation's hash partitioning, so each join side
    # re-exchanges it — but the frame is doc-count-sized keys-only,
    # orders of magnitude lighter than re-scanning shr.
    sizes = pin(shr.groupBy("__id").agg(F.count("*").alias("__sz")), eager=False)

    a = shr.select(F.col("__s"), F.col("__id").alias("id_a"))
    b = shr.select(F.col("__s"), F.col("__id").alias("id_b"))
    pairs = (
        a.join(b, "__s")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("__common"))
    )
    sa = sizes.select(F.col("__id").alias("id_a"), F.col("__sz").alias("__sa"))
    sb = sizes.select(F.col("__id").alias("id_b"), F.col("__sz").alias("__sb"))
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("__common").cast("double")
                / (F.col("__sa") + F.col("__sb") - F.col("__common")).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )


# --- MinHash + LSH ------------------------------------------------------------


def _exact_jaccard(a: str, b: str) -> Column:
    """Exact set Jaccard of two shingle-array columns. Guarded: ANSI
    mode makes /0 an error, and two shingle-less docs would otherwise
    divide 0 by 0. ONE definition for every verify stage — the LSH
    candidate paths (minhash_near_dups, incremental_near_dups) must
    rank by the same number."""
    return (
        F.when(
            F.size(F.array_union(a, b)) > 0,
            F.size(F.array_intersect(a, b)).cast("double")
            / F.size(F.array_union(a, b)).cast("double"),
        )
        .otherwise(F.lit(0.0))
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    num_hashes: int = 32,
    seed: int = 42,
) -> DataFrame:
    """MinHash signatures: ``(id, h0..h{num_hashes-1} bigint)``.

    Hash family: ``xxhash64(seed + j, shingle)`` — seeding through an
    extra hashed column avoids 64-bit multiply overflow (Spark 4 ANSI
    mode makes wrap-around arithmetic an error). Entirely JVM-side.

    Shape: explode shingles once, then ``num_hashes`` ``min`` aggregates
    over the exploded rows — partial aggregation runs map-side, so the
    only shuffle carries one pre-minimized row per (doc, partition).
    Deliberately NOT ``array_min(transform(...))`` per hash over a
    repeated shingle expression: besides re-evaluating the shingling
    per hash function, duplicated nested-lambda trees mis-resolve under
    Catalyst and collapse every hash to the same value (regression
    test: tests/test_dedup.py hash-independence case).

    Docs with no shingles (empty/short text) are absent from the output.
    """
    sh = (
        _spread(df, id_col)
        .select(F.col(id_col).alias("__id"), tokens(text_col).alias("__toks"))
        .select("__id", F.explode(shingles_from_tokens(F.col("__toks"), n)).alias("__s"))
    )
    # Single-parse SQL expressions (identical operators to the Column
    # form; the INT seed literal keeps the xxhash64 input type — and
    # therefore every hash value — unchanged). Saves ~100 py4j round
    # trips per call at plan-build time.
    aggs = [
        F.expr(f"min(xxhash64({seed + j}, __s))").alias(f"h{j}")
        for j in range(num_hashes)
    ]
    return sh.groupBy("__id").agg(*aggs).withColumnRenamed("__id", id_col)


def band_buckets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    num_hashes: int = 32,
    bands: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Banded LSH bucket keys: ``(__id, __band, __bucket)`` — each
    document's MinHash signature folded into ``bands`` xxhash64 band
    keys. The shared index representation behind
    :func:`minhash_lsh_candidates` (self-join form) and
    :func:`incremental_near_dups` (index-vs-batch form); a production
    pipeline PERSISTS this frame as the corpus's dedup index and feeds
    it back instead of recomputing (pure function of (text, n,
    num_hashes, bands, seed), so stored and fresh rows agree).

    Docs with no shingles (empty/short text) can never be near-dups;
    minhash_signatures drops them (no exploded rows -> no group).
    """
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(
        df, id_col, text_col, n=n, num_hashes=num_hashes, seed=seed
    ).withColumnRenamed(id_col, "__id")
    band_cols = F.expr(
        "array("
        + ", ".join(
            "struct({b} AS band, xxhash64({hs}) AS bucket)".format(
                b=b,
                hs=", ".join(f"h{b * rows_per_band + r}" for r in range(rows_per_band)),
            )
            for b in range(bands)
        )
        + ")"
    )
    return sig.select("__id", F.explode(band_cols).alias("__b")).select(
        "__id", F.col("__b.band").alias("__band"), F.col("__b.bucket").alias("__bucket")
    )


def _cap_buckets(buckets: DataFrame, keys: list[str], max_bucket: int) -> DataFrame:
    """Drop LSH buckets larger than ``max_bucket`` members — the
    standard mega-bucket guard for discriminative dedup. A bucket that
    big means its key is shared boilerplate-level structure, not a
    discriminative fingerprint: the pair expansion it would feed is
    quadratic in bucket size, and (measured, SCALING.md round 9) a
    Zipf-token corpus degenerates into buckets whose ALL-PAIRS answer
    is the whole corpus squared. Recall contract: only pairs whose
    EVERY shared band is a mega-bucket are lost — i.e. members of a
    >max_bucket near-dup cluster; when those clusters are what you
    want, use the components path (dedup_clusters →
    cluster_representatives) instead of pairwise output. The sizing
    agg shares the join's shuffle key, so the guard co-partitions with
    the self-join it protects.
    """
    if max_bucket < 1:
        raise ValueError(f"max_bucket must be >= 1: {max_bucket}")
    sizes = buckets.groupBy(*keys).agg(F.count("*").alias("__bsz"))
    return buckets.join(
        sizes.filter(F.col("__bsz") <= max_bucket), keys
    ).drop("__bsz")


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    num_hashes: int = 32,
    bands: int = 8,
    seed: int = 42,
    max_bucket: int | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash-LSH.

    ``num_hashes`` must divide into ``bands`` equal rows. Two docs
    become a candidate pair iff at least one band of their signatures
    hashes identically. Returns distinct ``(id_a, id_b)`` with
    ``id_a < id_b``.

    Scale posture: signatures are computed in one narrow pass (no
    shuffle), candidates come from a single shuffle keyed by
    (band_id, band_hash). The LSH guarantee keeps bucket sizes small
    only while near-dup clusters are small relative to the corpus;
    AQE splits a hot bucket's JOIN TASKS but cannot shrink its
    quadratic pair OUTPUT. On corpora where repeated boilerplate
    makes whole swathes of documents mutually similar (measured on
    the Zipf-token fixture: candidate count grows ~quadratically,
    SCALING.md round 9), pass ``max_bucket`` to drop non-discriminative
    mega-buckets — see :func:`_cap_buckets` for the exact recall
    contract — or switch to the components path when clusters, not
    pairs, are the goal.
    """
    # Pin the narrow (id, band, bucket) frame (lazily): it feeds both
    # sides of the candidate self-join — and the mega-bucket sizing
    # aggregate when enabled — and unpinned every reference re-ran the
    # whole tokenize + MinHash + band-fold pipeline (the operator's
    # dominant cost). Same linear, narrow state class as the pinned
    # SimHash signature table.
    from skoltexter_by_ai_spark.operators.pinning import pin

    buckets = pin(
        band_buckets(
            df, id_col, text_col, n=n, num_hashes=num_hashes, bands=bands, seed=seed
        ),
        eager=False,
    )
    if max_bucket is not None:
        buckets = _cap_buckets(buckets, ["__band", "__bucket"], max_bucket)
    left = buckets.select("__band", "__bucket", F.col("__id").alias("id_a"))
    right = buckets.select("__band", "__bucket", F.col("__id").alias("id_b"))
    return (
        left.join(right, ["__band", "__bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_near_dups(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    num_hashes: int = 32,
    bands: int = 8,
    seed: int = 42,
    min_jaccard: float = 0.5,
    max_bucket: int | None = None,
) -> DataFrame:
    """LSH candidates re-ranked by exact Jaccard (verify step).

    The candidate set is tiny relative to the corpus, so the exact
    verification join touches only candidate rows. ``max_bucket``
    passes through to the candidate stage (mega-bucket guard for
    boilerplate-degenerate corpora; see
    :func:`minhash_lsh_candidates`).
    """
    from skoltexter_by_ai_spark.operators.pinning import pin

    # Pinned (lazily): cands feeds the candidate-id prune AND the
    # verify join below.
    cands = pin(
        minhash_lsh_candidates(
            df, id_col, text_col, n=n, num_hashes=num_hashes, bands=bands, seed=seed,
            max_bucket=max_bucket,
        ),
        eager=False,
    )
    # Prune the corpus to candidate ids BEFORE shingling (the ADVICE r8
    # fix applied to incremental_near_dups, same reasoning here): the
    # candidate set is tiny by the LSH contract, so only candidate
    # documents are ever re-tokenized for exact verification instead of
    # shingling the whole corpus on both join sides.
    cand_ids = (
        cands.select(F.col("id_a").alias("__cid"))
        .unionByName(cands.select(F.col("id_b").alias("__cid")))
        .distinct()
    )
    sh = (
        df.select(F.col(id_col).alias("__id"), F.col(text_col))
        .join(F.broadcast(cand_ids), F.col("__id") == F.col("__cid"), "left_semi")
        .select("__id", word_shingles(text_col, n).alias("__sh"))
    )
    a = sh.select(F.col("__id").alias("id_a"), F.col("__sh").alias("__sha"))
    b = sh.select(F.col("__id").alias("id_b"), F.col("__sh").alias("__shb"))
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            _exact_jaccard("__sha", "__shb").alias("jaccard"),
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )


def incremental_near_dups(
    existing: DataFrame,
    incoming: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    num_hashes: int = 32,
    bands: int = 8,
    seed: int = 42,
    min_jaccard: float = 0.5,
) -> DataFrame:
    """Incremental near-dup screen: which INCOMING documents are
    near-duplicates of the EXISTING corpus — the production shape of
    MinHash dedup, where a new crawl/batch is checked against the
    already-curated index WITHOUT re-clustering the corpus
    (:func:`minhash_lsh_candidates` is the from-scratch self-join
    form; this is the index-vs-batch form).

    Candidates are band-bucket collisions between the two sides'
    :func:`band_buckets` frames, then verified by exact shingle
    Jaccard (same verify step as :func:`minhash_near_dups`). Output:
    ``(new_id, existing_id, jaccard)`` for verified pairs at or above
    ``min_jaccard``; an id present on both sides never pairs with
    itself.

    Scale posture: the batch is small relative to the corpus by
    contract, so the batch's band buckets BROADCAST — the 100 TB
    index streams through one broadcast join and never shuffles (and
    in production the index side is a PERSISTED band_buckets table, so
    nothing recomputes signatures over old text). The verify step
    reads the distinct candidate pairs ONCE: they broadcast into a
    join with the corpus on ``existing_id``, which both prunes the
    corpus to candidate documents and brings in their text, so only
    the (tiny) candidate subset of the 100 TB corpus is ever
    re-tokenized; the rest contributes nothing past its persisted band
    buckets (ADVICE r8: a post-join filter still shingled every
    existing doc). With one read there is nothing to cache: the
    builder pins nothing and leaves no session state behind.
    """
    ex_b = band_buckets(
        existing, id_col, text_col, n=n, num_hashes=num_hashes, bands=bands, seed=seed
    ).select(
        F.col("__band"), F.col("__bucket"), F.col("__id").alias("existing_id")
    )
    in_b = band_buckets(
        incoming, id_col, text_col, n=n, num_hashes=num_hashes, bands=bands, seed=seed
    ).select(F.col("__band"), F.col("__bucket"), F.col("__id").alias("new_id"))
    cands = (
        ex_b.join(F.broadcast(in_b), ["__band", "__bucket"])
        .filter(F.col("new_id") != F.col("existing_id"))
        .select("new_id", "existing_id")
        .distinct()
    )
    # Join the corpus to the candidates BEFORE tokenizing/shingling:
    # the broadcast candidate set keeps it shuffle-free on the corpus
    # side, and word_shingles then runs over candidate rows, not
    # |corpus| docs.
    ex_sh = (
        existing.select(F.col(id_col).alias("existing_id"), F.col(text_col))
        .join(F.broadcast(cands), "existing_id")
        .select("new_id", "existing_id", word_shingles(text_col, n).alias("__sha"))
    )
    in_sh = incoming.select(
        F.col(id_col).alias("new_id"), word_shingles(text_col, n).alias("__shb")
    )
    return (
        ex_sh.join(in_sh, "new_id")
        .select(
            "new_id",
            "existing_id",
            _exact_jaccard("__sha", "__shb").alias("jaccard"),
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )


# --- cluster assignment -------------------------------------------------------


def dedup_clusters(
    ids: DataFrame,
    pairs: DataFrame,
    id_col: str = "id",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over near-dup ``pairs``: every node gets
    ``cluster`` = min id reachable from it (the canonical survivor).

    Min-label propagation PLUS pointer jumping per round: the
    symmetric edge list is augmented with a self-loop per node
    (carries the node's previous label out of the aggregation for the
    convergence probe) and, per round, with label edges
    ``(cluster(x) -> x)`` that deliver ``label(label(x))`` — so label
    distance compounds geometrically and rounds ≈ log2(diameter), at
    one aggregation per round. Driver-side convergence probe; each
    round's label table is pinned so plans stay flat. Near-dup graphs
    are usually near-cliques (1-2 rounds) but CHAINS of borderline
    pairs do occur (the sf0.01 fixture ships a diameter-14 one). For
    general billion-edge graphs swap in large-star/small-star; this
    shape is the right one for dedup.

    Deterministic: min over a total order, independent of partitioning.

    Pair endpoints absent from ``ids`` are unioned into the node set
    (and appear in the output), so transitive bridges through them
    still merge their neighbours — callers may pass ``ids`` as any
    subset or superset of the endpoints (ADVICE r3: the pointer-jump
    rewrite's inner joins silently required endpoints ⊆ ids).

    The edge list and the augmented edge table are scoped caches
    (lineage kept, so recoverable in either pinning mode); only the
    per-round label tables go through
    :func:`~skoltexter_by_ai_spark.operators.pinning.pin`. With the
    session's reliable mode on, each round's label table is written
    to checkpoint files — an executor lost at round 12 of 15 then
    re-reads them rather than failing a multi-hour run (VERDICT r10
    item 2) — at the price of an eager pin per round: one extra job
    plus the checkpoint write, before the round's convergence count.
    """
    from skoltexter_by_ai_spark.operators.pinning import cached, pin

    e = pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    sym = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()
    if max_iter < 1:
        # Zero propagation rounds: the identity labeling (every node
        # its own cluster) — the pre-r11 contract; the r11 fused loop
        # left `labels` as None here and raised AttributeError
        # (ADVICE r11). Derived straight from the unpinned edge list:
        # this path runs no loop, so there is nothing to pin for.
        return (
            ids.select(F.col(id_col))
            .unionByName(sym.select(F.col("a").alias(id_col)))
            .distinct()
            .select(F.col(id_col), F.col(id_col).alias("cluster"))
        )
    spark = ids.sparkSession
    # Defaulted + guarded read: the conf is non-numeric on some
    # platforms (e.g. "auto" under auto-optimized shuffle) — fall back
    # to defaultParallelism rather than crash (ADVICE r11), mirroring
    # the defensive pattern in _spread above.
    try:
        nparts = int(
            spark.conf.get(
                "spark.sql.shuffle.partitions",
                str(spark.sparkContext.defaultParallelism),
            )
        )
    except ValueError:
        nparts = spark.sparkContext.defaultParallelism
    # Cache the edge list BEFORE anything reads it: `pairs` is
    # typically the whole near-dup candidate pipeline, and uncached
    # every iteration's join + convergence probe would recompute it
    # from the source (measured 5x wall on x20 once bench timed
    # builders). A scoped cache, not a checkpoint: under AQE a
    # localCheckpoint — even a lazy one — synchronously EXECUTES the
    # whole candidate pipeline at build time as its own barrier;
    # persist defers, so round 1's count-probe materializes the edge
    # pipeline, the cache and the round in ONE cascade. Both cache
    # entries are released when the loop exits, however it exits
    # (nothing leaks into the CacheManager across bench runs); the
    # returned labels are pinned and never reference them.
    with cached(sym) as edges:
        # Extra endpoints come from the CACHED symmetric edge list —
        # `edges` contains every endpoint in its `a` column, and
        # deriving them from `e` would evaluate the candidate pipeline
        # a second time (ADVICE r4).
        nodes = (
            ids.select(F.col(id_col).alias("id"))
            .unionByName(edges.select(F.col("a").alias("id")))
            .distinct()
        )
        # Self-loops (id, id) let min(cluster) over a node's join rows
        # cover the node itself, and the self-loop row (a == b) carries
        # the node's own previous label out of the aggregation as
        # __old — no union leg, no join-back.
        #
        # PARTITION-ALIGNED edge table (r11): aug is hash-partitioned
        # on its join key ONCE and cached. A persist keeps the plan's
        # output partitioning (a checkpoint degrades to Scan
        # ExistingRDD / UnknownPartitioning, which forced a re-exchange
        # of the full edge table EVERY round), so the round join
        # aug(a) ⨝ labels(id) never exchanges the aug side again — the
        # biggest frame in the loop stops crossing the network
        # log2(diameter) times. Only aug gets the cache treatment: its
        # plan is SHALLOW (the cached edge leaf + self-loops), while
        # per-round label tables must keep truncating lineage via pin
        # — a persist chain there nests every previous round's cached
        # plan ~3x per round and the plan STRING alone (event-log
        # explain) grows exponentially, OOMing a vanilla-session
        # driver on a diameter-14 chain.
        aug = edges.unionByName(
            nodes.select(F.col("id").alias("a"), F.col("id").alias("b"))
        ).repartition(nparts, "a")
        with cached(aug) as aug:
            labels = None
            for _ in range(max_iter):
                if labels is None:
                    # ROUND 1 (r11): against the identity labeling the
                    # join is a no-op — label(x) = min({x} ∪
                    # neighbors(x)) is ONE aggregation straight over
                    # aug, and the previous label carried by the
                    # self-loop row is x itself. Its job also
                    # materializes the aug cache later rounds read.
                    rows = aug.select(
                        "b",
                        F.col("a").alias("cluster"),
                        (F.col("a") == F.col("b")).alias("__self"),
                    )
                else:
                    # Every id appears EXACTLY once in `labels` (loop
                    # invariant — nodes is distinct and each round
                    # groups by the target endpoint), so the self-loop
                    # row is unique per node and min(when(a == b, ...))
                    # recovers the previous label exactly.
                    #
                    # Two joins feed the min-aggregation: aug rows
                    # (propagation) and LABEL EDGES (cluster(x) -> x),
                    # whose row against a = cluster(x) delivers
                    # label(label(x)) — the pointer jump. Kept as two
                    # joins rather than one union-join so the aug leg
                    # keeps its partitioning; the shuffle_hash hint
                    # builds the hash table on the node-sized label
                    # side, avoiding SMJ's per-round sort of the edge
                    # table.
                    #
                    # Fixpoint: labels are always ids of component
                    # members, each round takes a min over a superset
                    # of {own label, neighbor labels}, and changed == 0
                    # certifies label constancy across every edge — so
                    # the terminal labels are the component-minimum ids
                    # (equality pinned by the oracle tests).
                    lbl = labels.alias("__lbl")
                    j1 = aug.join(
                        lbl.hint("shuffle_hash"), aug["a"] == F.col("__lbl.id")
                    ).select(
                        aug["b"].alias("b"),
                        F.col("__lbl.cluster").alias("cluster"),
                        (aug["a"] == aug["b"]).alias("__self"),
                    )
                    le = labels.select(
                        F.col("cluster").alias("a"), F.col("id").alias("b")
                    ).alias("__le")
                    j2 = le.join(
                        lbl.hint("shuffle_hash"), F.col("__le.a") == F.col("__lbl.id")
                    ).select(
                        F.col("__le.b").alias("b"),
                        F.col("__lbl.cluster").alias("cluster"),
                        (F.col("__le.a") == F.col("__le.b")).alias("__self"),
                    )
                    rows = j1.unionByName(j2)
                # LAZY pin + count-probe fusion: the changed-label count
                # is the round's ONE action and (in local mode)
                # materializes the pin as it computes.
                new_full = pin(
                    rows.groupBy("b")
                    .agg(
                        F.min("cluster").alias("cluster"),
                        F.min(F.when(F.col("__self"), F.col("cluster"))).alias("__old"),
                    )
                    .select(F.col("b").alias("id"), "cluster", "__old"),
                    eager=False,
                )
                changed = new_full.filter(F.col("cluster") != F.col("__old")).count()
                labels = new_full.select("id", "cluster")
                if changed == 0:
                    break
    return labels.withColumnRenamed("id", id_col)


# --- SimHash ------------------------------------------------------------------


# SWAR lane mask: bit j of every 16-bit lane of a long.
_SIMHASH_LANE_MASK = 0x0001000100010001
# A 16-bit lane can count at most 65535 token votes without overflowing
# into the neighbouring lane.
SIMHASH_MAX_TOKENS = 0xFFFF


def simhash64(
    df: DataFrame, id_col: str, text_col: str, max_tokens: int = SIMHASH_MAX_TOKENS
) -> DataFrame:
    """64-bit SimHash per document -> ``(id_col, simhash bigint)``.

    Each token votes ±1 on each of 64 bit positions of its xxhash64;
    the sign of the per-bit sum becomes the fingerprint bit. Computed
    as a narrow, shuffle-free projection: a higher-order ``aggregate``
    folds the per-token hash array into 16 SWAR accumulators (four
    16-bit lanes per long, bit ``j`` of each lane counting set bits at
    positions ``j``, ``j+16``, ``j+32``, ``j+48``), so a row never
    leaves its input partition and the whole fingerprint stays inside
    whole-stage codegen. With votes-for = ``cnt`` out of ``n`` tokens,
    the signed vote sum is ``2*cnt - n``, so bit ``b`` is set iff
    ``2*cnt > n`` (ties clear the bit, matching the classic
    formulation).

    ``max_tokens`` caps the fingerprint to the first N tokens — the
    16-bit lanes count up to 65535 votes, so the default cap is the
    exact overflow boundary (~400 KB of text). Documents with no
    tokens produce no row (an all-zero fingerprint would make every
    empty document a Hamming-0 pair of every other).
    """
    if not 0 < max_tokens <= SIMHASH_MAX_TOKENS:
        raise ValueError(f"max_tokens must be in [1, {SIMHASH_MAX_TOKENS}]")
    toks = F.slice(tokens(text_col), 1, max_tokens)
    # Materialize the per-token hash array as its own projection so the
    # 16 lane aggregates below fold over a bound attribute instead of
    # each inlining (and re-evaluating) the tokenize+hash tree.
    base = (
        _spread(df, id_col)
        .select(
            F.col(id_col), F.transform(toks, lambda t: F.xxhash64(t)).alias("__h")
        )
        .filter(F.size("__h") > 0)
    )
    # TWO projections, not one: each 16-bit-lane fold below is
    # referenced by FOUR bit expressions (k = 0..3), and inlining the
    # folds into the fingerprint projection copies every fold subtree
    # four times — a 64-copy expression tree whose analysis dominated
    # the operator's plan-build time (x04 census, r11). Materializing
    # the folds as bound attributes first keeps the fingerprint
    # projection a flat tree over 17 columns; CollapseProject leaves
    # the split alone precisely because the references are non-cheap
    # and multiply-used.
    #
    # Both projections are built as single SQL strings parsed JVM-side
    # by F.expr: the Column-API form (16 F.aggregate lambdas + a
    # 64-term when/shiftleft/bitwiseOR chain) issued several hundred
    # py4j round-trips PER CALL — ~1.2 s of pure driver-side plan
    # construction at any scale (r11 census). The parsed expressions
    # are operator-for-operator the ones the Column API built, so the
    # analyzed plan and results are unchanged (pinned by the golden
    # fingerprint tests in tests/test_dedup.py).
    lanes = base.select(
        F.col(id_col),
        F.expr("size(__h)").alias("__n"),
        *[
            F.expr(
                f"aggregate(__h, CAST(0 AS BIGINT), (acc, h) -> "
                f"acc + (shiftrightunsigned(h, {j}) & {_SIMHASH_LANE_MASK}L))"
            ).alias(f"__l{j}")
            for j in range(16)
        ],
    )
    bit_terms = []
    for b in range(64):
        j, k = b % 16, b // 16
        bit_terms.append(
            f"(CASE WHEN (shiftrightunsigned(__l{j}, {16 * k}) & 65535L) * 2 > __n "
            f"THEN shiftleft(CAST(1 AS BIGINT), {b}) ELSE CAST(0 AS BIGINT) END)"
        )
    fingerprint = F.expr(" | ".join(bit_terms))
    return lanes.select(F.col(id_col), fingerprint.alias("simhash"))


def simhash_near_dups(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    max_bucket: int | None = None,
) -> DataFrame:
    """Pairs with SimHash Hamming distance <= ``max_hamming``.

    Fault-tolerance tradeoff: the (id, fingerprint) signature table is
    pinned with a LAZY ``localCheckpoint(eager=False)`` so both sides
    of the bucket self-join share one materialization without running
    a job at plan-build time. ``localCheckpoint`` blocks live on
    executors with TRUNCATED lineage — on a real cluster, losing an
    executor mid-join makes the block unrecoverable and fails the
    query (acceptable for a rerunnable batch dedup; the operator is
    deterministic, so a retry of the whole query is safe). Sessions
    running long 100 TB jobs switch every pin to a fault-tolerant
    reliable checkpoint instead: see
    :mod:`~skoltexter_by_ai_spark.operators.pinning`.

    Block lifecycle: the checkpointed signature blocks stay referenced
    by the returned DataFrame's plan; once the caller drops the
    result, Spark's ContextCleaner reclaims them on GC.

    Banded lookup with a recall guarantee that tracks the radius while
    KEEPING 16-bit bucket keys (narrow keys are the scale trap: a
    9-bit band over 50k docs puts ~100 docs in every bucket and the
    quadratic pair expansion explodes):

    - radius <= 3: 4 blocks x 16 bits, key = one block. Pigeonhole: at
      most 3 flipped bits leave >= 1 block untouched.
    - radius 4-6: 8 blocks x 8 bits, key = an ORDERED PAIR of blocks
      (C(8,2) = 28 combined 16-bit keys). At most 6 flipped bits touch
      at most 6 blocks, leaving >= 2 clean blocks — some clean pair
      matches exactly.

    Candidates are exact-verified via ``bit_count(a XOR b)``. Work per
    bucket is quadratic in bucket size, so a corpus of near-identical
    boilerplate concentrates on hot buckets; run ``exact_dedup`` first
    to remove the identical-fingerprint mass. Radii above 6 are
    rejected: the next pigeonhole tier needs combination counts that
    replicate each row hundreds of times — at that point SimHash is
    the wrong tool (use MinHash-LSH with more bands).
    """
    if not 0 <= max_hamming <= 6:
        raise ValueError(
            f"max_hamming={max_hamming} outside [0, 6]: wider radii need "
            "combination-banding blowup; use minhash_lsh_candidates for "
            "looser similarity"
        )
    # The signature table is (id, 8-byte fingerprint) — linear and tiny —
    # so it checkpoints once (lazily, on first action: the operator
    # stays a pure plan until executed) and the bucket self-join below
    # never re-runs the tokenize/hash pipeline on either branch.
    from skoltexter_by_ai_spark.operators.pinning import pin

    sig = pin(simhash64(df, id_col, text_col), eager=False)
    return simhash_pairs_from_signatures(sig, id_col, max_hamming, max_bucket=max_bucket)


def simhash_pairs_from_signatures(
    sig: DataFrame, id_col: str, max_hamming: int = 3, max_bucket: int | None = None
) -> DataFrame:
    """Banded Hamming-radius pairs over a PRECOMPUTED signature table
    ``(id_col, simhash bigint)`` — the second half of
    :func:`simhash_near_dups`, exposed for pipelines that persist
    signatures and re-query at different radii without re-hashing the
    corpus (and so the pigeonhole banding is directly testable with
    crafted fingerprints). Same banding guarantee: radius <= 3 uses 4
    x 16-bit blocks (one clean block survives), radius 4-6 uses
    ordered 8-bit block pairs (two clean blocks survive).
    """
    if not 0 <= max_hamming <= 6:
        raise ValueError(f"max_hamming={max_hamming} outside [0, 6]")
    import itertools

    # One SQL string instead of per-band Column construction: the
    # 28-struct radius-4..6 band array cost ~0.3 s of py4j round-trips
    # per call (r11 census); the parsed expression is identical.
    def _block(off: int, width: int) -> str:
        return f"(shiftrightunsigned(simhash, {off}) & {(1 << width) - 1}L)"

    if max_hamming <= 3:
        key_exprs = [_block(16 * b, 16) for b in range(4)]
    else:
        key_exprs = [
            f"(shiftleft({_block(8 * i, 8)}, 8) | {_block(8 * j, 8)})"
            for i, j in itertools.combinations(range(8), 2)
        ]
    bands = F.expr(
        "array("
        + ", ".join(
            f"struct({b} AS band, {expr} AS chunk)"
            for b, expr in enumerate(key_exprs)
        )
        + ")"
    )
    buckets = sig.select(F.col(id_col).alias("__id"), F.col("simhash"), F.explode(bands).alias("__b")).select(
        "__id", "simhash", F.col("__b.band").alias("__band"), F.col("__b.chunk").alias("__chunk")
    )
    # Intra-bucket candidates come from a self-equi-join on the band key:
    # ONE shuffle of the (id, simhash) bucket rows — the exchange is
    # identical on both sides, so Spark reuses it — with the Hamming
    # verification compiled into the join's whole-stage-codegen filter
    # (measured 1.35x faster than generating pairs with interpreted
    # higher-order functions over per-bucket collect_list arrays, and a
    # hot bucket streams through the join instead of materializing one
    # giant member array in a single aggregation buffer). On a
    # bias-concentrated corpus the candidate mass is ~100x the true pair
    # mass (2.0M candidates -> 15.6k pairs at sf0.1); a rejected
    # candidate costs one xor+bit_count and never leaves the join task.
    if max_bucket is not None:
        buckets = _cap_buckets(buckets, ["__band", "__chunk"], max_bucket)
    a, b = buckets.alias("a"), buckets.alias("b")
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    # distinct() collapses the per-band re-emissions of each true pair
    # (a pair at distance h matches >= 1 of the bands, identical pairs
    # match all of them) — by this point the frame holds only verified
    # pairs, so the shuffle is output-sized, not candidate-sized.
    return (
        a.join(b, ["__band", "__chunk"])
        .filter(F.col("a.__id") < F.col("b.__id"))
        .filter(hamming <= max_hamming)
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            hamming.alias("hamming"),
        )
        .distinct()
    )
