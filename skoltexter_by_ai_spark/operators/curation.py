"""Corpus-curation operators for training-data pipelines: deterministic
stratified sampling, benchmark-contamination detection, and per-source
token-budget selection.

The reference has no corpus tooling (its dataset is 44 school rows);
these are SURVEY §2.4 "100 TB posture" extensions — the selection jobs
that run in front of every large pretraining mix. All three are pure
DataFrame compositions (no UDFs):

- :func:`stratified_sample` — per-stratum keep fractions via an
  md5-derived uniform draw. Narrow filter, ZERO shuffle, reproducible
  across engines, re-runs and repartitioning (the same property x26's
  ``hash_split`` relies on).
- :func:`ngram_contamination` — which training documents contain a
  benchmark document's n-grams (train/test leakage scan). Shingle
  inverted-index join, eval side broadcast.
- :func:`token_budget_sample` — deterministic-random document
  selection per source until a token budget fills: the corpus-mixing
  primitive (each source contributes a capped token mass, chosen
  stably).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from skoltexter_by_ai_spark.operators.dedup import tokens, word_shingles

HEX_SPACE = 16**8  # the md5-prefix draw resolves to 32 bits


def sample_key(*cols: Column | str) -> Column:
    """First 8 hex chars of ``md5(col1:col2:...)`` — a uniform [0, 1)
    draw keyed on content. Lowercase-hex string comparison is
    order-preserving, and md5 is identical in every engine, so the
    same row draws the same value in Spark, DuckDB, or a re-run on a
    different cluster. Never uses ``rand()``: nondeterministic sampling
    is unreproducible AND recomputes differently on task retry.
    """
    parts = [F.col(c).cast("string") if isinstance(c, str) else c.cast("string") for c in cols]
    return F.substring(F.md5(F.concat_ws(":", *parts)), 1, 8)


def fraction_threshold(fraction: float) -> str:
    """Hex threshold t such that P[sample_key < t] == fraction.

    >>> fraction_threshold(0.5)
    '80000000'
    >>> fraction_threshold(0.1)
    '19999999'
    >>> fraction_threshold(0.0)
    '00000000'
    """
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction {fraction} outside [0, 1]")
    return format(min(int(fraction * HEX_SPACE), HEX_SPACE - 1), "08x")


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float] | float,
    id_col: str,
    default_fraction: float = 0.0,
) -> DataFrame:
    """Keep each row with its stratum's probability, deterministically.

    ``fractions`` is a per-stratum dict (unlisted strata fall back to
    ``default_fraction``) or a single float for uniform sampling. The
    draw is keyed on (stratum, id) so membership is a pure function of
    the row — stable under re-runs, repartitioning and incremental
    appends (a re-ingested row keeps its fate).

    Scale: a narrow filter over the scan — no shuffle, no state, no
    driver participation; Catalyst pushes surrounding predicates as
    usual. This is THE way to cut a 100 TB corpus to a mix recipe.
    """
    key = sample_key(strata_col, id_col)
    if isinstance(fractions, dict):
        thr: Column | None = None
        for stratum, frac in fractions.items():
            cond = F.col(strata_col) == stratum
            t = F.lit(fraction_threshold(frac))
            thr = F.when(cond, t) if thr is None else thr.when(cond, t)
        thr_col = (
            thr.otherwise(F.lit(fraction_threshold(default_fraction)))
            if thr is not None
            else F.lit(fraction_threshold(default_fraction))
        )
    else:
        thr_col = F.lit(fraction_threshold(fractions))
    return df.filter(key < thr_col)


def group_cap(
    df: DataFrame,
    group_col: str,
    id_col: str,
    cap: int,
) -> DataFrame:
    """Keep at most ``cap`` rows per group — the C4/RefinedWeb-style
    "cap documents per domain" curation step that stops a handful of
    mega-domains from dominating a training mix.

    Selection is the ``cap`` smallest :func:`sample_key` draws per
    group (deterministic hash order, tie-broken by ``id_col``): an
    unbiased fixed-size sample of each over-cap group, reproducible
    across engines, re-runs and repartitioning. Unlike a fraction
    (:func:`stratified_sample`), a CAP depends on the group's row
    set, so appends can displace previously-kept rows — inherent to
    cap semantics; use fractions when append-stability matters. A
    NULL ``group_col`` is one group and is capped like any other.

    Scale: one shuffle on ``group_col`` (window row_number ≤ cap).
    The window partition is the whole group, so a single pathological
    mega-domain serializes onto one task — a known limit (SCALING.md,
    per-source cap).
    """
    if cap < 0:
        raise ValueError(f"cap must be >= 0, got {cap}")
    key = sample_key(group_col, id_col)
    w = Window.partitionBy(group_col).orderBy(key, F.col(id_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= cap)
        .drop("__rn")
    )


def temperature_resample(
    df: DataFrame,
    source_col: str,
    id_col: str,
    alpha: float = 0.5,
) -> DataFrame:
    """Temperature-based source rebalancing: keep each row of source
    ``s`` with probability ``(n_s / n_min)^(alpha−1)`` — the
    multilingual/multi-source mixing rule (XLM-R / mT5 style) that
    flattens a size-skewed corpus toward uniform as ``alpha → 0``
    while leaving it untouched at ``alpha = 1``. The smallest source
    keeps everything; a source 100× larger keeps ``100^(alpha−1)`` of
    its rows.

    Deterministic: membership is a pure function of (source, id) via
    the md5 draw (:func:`sample_key`), reproducible across engines and
    re-runs; the keep rate is rounded to 6 places in BOTH engines so a
    libm ``pow`` ulp difference cannot flip a draw at the boundary.

    Output: input columns + ``n_source`` (source row count) +
    ``keep_rate``. Scale: one tiny source-count aggregation broadcast
    back onto a narrow filter over the scan — no data shuffle.
    """
    if alpha <= 0.0 or alpha > 1.0:
        raise ValueError(f"alpha must be in (0, 1]: {alpha}")
    counts = df.groupBy(source_col).agg(F.count("*").cast("bigint").alias("n_source"))
    nmin = counts.agg(F.min("n_source").alias("__nmin"))
    rates = counts.crossJoin(F.broadcast(nmin)).select(
        source_col,
        "n_source",
        F.round(
            F.pow(F.col("n_source").cast("double") / F.col("__nmin"), alpha - 1.0), 6
        ).alias("keep_rate"),
    )
    u = F.conv(sample_key(source_col, id_col), 16, 10).cast("double") / float(HEX_SPACE)
    return df.join(F.broadcast(rates), source_col).filter(u < F.col("keep_rate"))


def weighted_sample(
    df: DataFrame,
    strata_col: str,
    id_col: str,
    weight_col: str,
    k: int,
) -> DataFrame:
    """Deterministic weighted top-k sample per stratum
    (Efraimidis–Spirakis A-ES): each row draws a reproducible uniform
    u from md5(stratum, id) and is ranked by priority ``-ln(u)/w`` —
    the k smallest per stratum form an exact weighted sample without
    replacement (selection probability proportional to ``weight_col``).

    The draw divides by 2^32 (a power of two), so u is bit-identical
    in any engine; the ln/division result is rounded to 6 places with
    an id tie-break, so the selection is stable even across libm ulp
    differences. Rows with non-positive weight are excluded (they have
    zero selection probability; also guards the division).

    Output: input columns + ``priority``. Scale: one shuffle on the
    stratum + a per-stratum window — the same shape as
    :func:`token_budget_sample`.
    """
    u = (F.conv(sample_key(strata_col, id_col), 16, 10).cast("double") + 1) / F.lit(
        float(HEX_SPACE)
    )
    pr = F.round(-F.log(u) / F.col(weight_col).cast("double"), 6) + F.lit(0.0)
    w = Window.partitionBy(strata_col).orderBy("priority", id_col)
    return (
        df.filter(F.col(weight_col) > 0)
        .withColumn("priority", pr)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def ngram_contamination(
    train: DataFrame,
    evals: DataFrame,
    n: int = 3,
    min_overlap: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Train/benchmark leakage scan: for every (train doc, eval doc)
    pair, the fraction of the eval doc's distinct word n-grams that
    also appear in the train doc. Pairs at or above ``min_overlap``
    are reported — the docs to drop (or the evals to disqualify)
    before training.

    Output: (train_id, eval_id, shared_ngrams, eval_ngrams,
    overlap_frac), overlap_frac rounded to 6 places.

    Scale posture: benchmark sets are small (thousands of docs), so
    the exploded eval shingles BROADCAST; the 100 TB train side
    streams through scan → shingle → explode → broadcast-join with a
    map-side partial count — the only shuffle is the final per-pair
    aggregation, keyed on (train_id, eval_id), whose cardinality is
    bounded by actual contamination, not corpus size. The join key is
    the exact shingle string, which the DuckDB oracle reproduces.
    """
    t_sh = train.select(
        F.col(id_col).alias("train_id"),
        F.explode(word_shingles(text_col, n)).alias("__sh"),
    )
    e_base = evals.select(
        F.col(id_col).alias("eval_id"), word_shingles(text_col, n).alias("__shs")
    )
    e_tot = e_base.select(
        "eval_id", F.size("__shs").cast("bigint").alias("eval_ngrams")
    ).filter(F.col("eval_ngrams") > 0)
    e_sh = e_base.select("eval_id", F.explode("__shs").alias("__sh"))
    shared = (
        t_sh.join(F.broadcast(e_sh), "__sh")
        # word_shingles is distinct per doc on BOTH sides, so each
        # (train, eval, shingle) triple occurs exactly once — a plain
        # count is the distinct-shingle count, with map-side partials
        # (countDistinct would re-shuffle per-shingle rows to dedup).
        .groupBy("train_id", "eval_id")
        .agg(F.count("*").alias("shared_ngrams"))
    )
    return (
        shared.join(F.broadcast(e_tot), "eval_id")
        .withColumn(
            "overlap_frac",
            F.round(F.col("shared_ngrams") / F.col("eval_ngrams"), 6),
        )
        .filter(F.col("overlap_frac") >= min_overlap)
        .select("train_id", "eval_id", "shared_ngrams", "eval_ngrams", "overlap_frac")
    )


def decontaminate(
    train: DataFrame,
    evals: DataFrame,
    n: int = 3,
    min_overlap: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    exclude_self: bool = True,
) -> DataFrame:
    """Benchmark decontamination FILTER — the removal counterpart of
    the :func:`ngram_contamination` scan: return the train rows that
    do NOT overlap any benchmark document at or above ``min_overlap``
    (fraction of the eval doc's distinct word n-grams present in the
    train doc). The scan tells you who leaks; this drops them from the
    corpus in the same pipeline, the standard pre-training hygiene
    step (GPT-3 appendix C / PaLM-style n-gram decontamination).

    ``exclude_self=True`` ignores pairs where the two ids are equal —
    for the common harness setup where the eval set is carved out of
    the corpus itself and a document must not disqualify itself.

    Output: the surviving ``train`` rows, all original columns.

    Scale posture: inherits the scan's shape — eval shingles broadcast
    (benchmark sets are small by contract), the 100 TB train side
    streams through one broadcast join + one bounded per-pair agg —
    and the contaminated-id set (bounded by actual leakage, not corpus
    size) comes back as a LEFT ANTI join on ``id_col`` with no forced
    broadcast (AQE broadcasts it when genuinely small).
    """
    pairs = ngram_contamination(
        train,
        evals,
        n=n,
        min_overlap=min_overlap,
        id_col=id_col,
        text_col=text_col,
    )
    if exclude_self:
        pairs = pairs.filter(F.col("train_id") != F.col("eval_id"))
    bad = pairs.select(F.col("train_id").alias(id_col))
    return train.join(bad, id_col, "left_anti")


def winsorize(
    df: DataFrame,
    value_col: str,
    group_col: str | None = None,
    lower: float = 0.05,
    upper: float = 0.95,
    scale: int | None = 100,
    approx_accuracy: int | None = None,
) -> DataFrame:
    """Clip ``value_col`` to its [lower, upper] quantiles (per group
    when ``group_col`` is given) — outlier capping for feature
    pipelines. Adds ``{value_col}_w`` plus the clip bounds.

    The quantile thresholds are interpolated doubles rounded to 6
    places (the cross-engine-stable form proven by the percentile
    suite), broadcast back onto a narrow clip projection — never a
    per-row subquery.

    With ``scale`` set (default: cents), the thresholds come from
    :func:`~skoltexter_by_ai_spark.operators.quantiles.grouped_exact_quantiles`
    — fixed-pass radix bisection over the scaled-integer grid, whose
    per-task state is a bounded bucket-count array. ``scale=None``
    falls back to Spark's ``percentile`` aggregate, whose value→count
    map state grows with DISTINCT values per group — exact and fine
    for low-cardinality columns, an executor OOM on a 100 TB
    high-cardinality one (VERDICT r2), so the bounded path is the
    default.

    ``approx_accuracy`` selects the fastest bounded option instead:
    ONE pass of Spark's ``approx_percentile`` (Greenwald-Khanna,
    state ≈ accuracy·log n regardless of cardinality), with bound
    error ≤ 1/accuracy quantile rank. Right when clip bounds need not
    be exact — which for outlier capping they usually need not.
    """
    if approx_accuracy is not None:
        lo = F.round(
            F.approx_percentile(value_col, F.lit(lower), F.lit(approx_accuracy)), 6
        ).alias("__lo")
        hi = F.round(
            F.approx_percentile(value_col, F.lit(upper), F.lit(approx_accuracy)), 6
        ).alias("__hi")
        if group_col is None:
            bounds = df.agg(lo, hi)
        else:
            bounds = df.groupBy(group_col).agg(lo, hi)
    elif scale is None:
        lo = F.round(F.percentile(value_col, F.lit(lower)), 6).alias("__lo")
        hi = F.round(F.percentile(value_col, F.lit(upper)), 6).alias("__hi")
        if group_col is None:
            bounds = df.agg(lo, hi)
        else:
            bounds = df.groupBy(group_col).agg(lo, hi)
    else:
        from skoltexter_by_ai_spark.operators.pinning import pin
        from skoltexter_by_ai_spark.operators.quantiles import exact_quantile_bounds

        groups = [] if group_col is None else [group_col]
        bounds = exact_quantile_bounds(
            df, value_col, groups, [lower, upper], scale=scale
        ).withColumnsRenamed({"__q0": "__lo", "__q1": "__hi"})
        # Pin the groups-sized bounds table: the broadcast build below
        # otherwise re-executes the whole interpolation tail (the
        # per-rank/value joins over the bisection's pinned frames —
        # ~8 tiny AQE stage jobs) at every consumption of the returned
        # plan; one bounded materialization serves them all.
        bounds = pin(bounds, eager=False)
    if group_col is None:
        joined = df.crossJoin(F.broadcast(bounds))
    else:
        # LEFT: a group whose values are all NULL has no bounds row in
        # the bisection path; keep its rows with NULL bounds/clip, the
        # same shape the percentile fallback produces.
        joined = df.join(F.broadcast(bounds), group_col, "left")
    clipped = F.least(F.greatest(F.col(value_col), F.col("__lo")), F.col("__hi"))
    return joined.withColumn(f"{value_col}_w", clipped).withColumnsRenamed(
        {"__lo": f"{value_col}_lo", "__hi": f"{value_col}_hi"}
    )


def robust_zscore(
    df: DataFrame,
    value_col: str,
    group_col: str,
    scale: int = 100,
    round_to: int = 6,
    fused: bool = True,
) -> DataFrame:
    """Per-group robust standardization ``(v − median) / MAD`` with
    ``MAD = median(|v − median|)`` — the outlier-insensitive sibling
    of mean/stddev scaling. Adds ``grp_median``, ``grp_mad``,
    ``robust_z`` (all rounded to ``round_to``).

    Both medians run through the bounded-state bisection
    (:mod:`~skoltexter_by_ai_spark.operators.quantiles`) rather than
    Spark's ``median`` aggregate, whose per-group value map is
    unbounded on high-cardinality columns (VERDICT r2). The MAD pass
    needs exact |v − median| order statistics: with v on the
    ``1/scale`` grid, the p=0.5 median lands on the half-grid, so the
    deltas are EXACT integers in ``1/(2·scale)`` units — no double
    subtraction enters the ranking at all.

    ``fused=True`` (default) first tries
    :func:`~skoltexter_by_ai_spark.operators.quantiles.grouped_median_mad`
    — the single-data-pass design where one windowed width-1 histogram
    serves BOTH order statistics (VERDICT r4 item 4). A sketch miss or
    an over-budget window is DETECTED (never silent) and falls back to
    the generic two-round bisection below; results are identical
    either way (equality property-tested, sabotage-tested).
    """
    from skoltexter_by_ai_spark.operators.pinning import cached

    if 10**round_to % (2 * scale) != 0:
        raise ValueError(f"2*scale {2 * scale} must divide 10^{round_to}")

    v = F.col(value_col).cast("double")
    v_long = F.round(v * scale).cast("long")
    # ONE narrow (group, cents) projection serves BOTH rounds: the
    # median round's stats + histogram passes read it, and the MAD
    # round's histogram derives its deltas from the same cached cents
    # (joined with the pinned per-group median) instead of re-scanning
    # and re-joining the raw table — one source scan total for the
    # whole two-round selection machinery (VERDICT r4 item 4). Both
    # paths are eager and leave gstats pinned, so the cache can go
    # when the block exits — a guard failure included.
    narrow = df.select(
        F.col(group_col),
        v_long.alias("__vc"),
        (F.abs(v * scale - v_long) < 0.01).alias("__ok"),
    )
    with cached(narrow) as narrow:
        gstats = None
        if fused:
            from skoltexter_by_ai_spark.operators.quantiles import grouped_median_mad

            res = grouped_median_mad(narrow, group_col, F.col("__vc"), guard=F.col("__ok"))
            if res is not None and res[1]:
                gstats = res[0].select(
                    group_col,
                    F.round(F.col("__m2") / (2 * scale), round_to).alias("grp_median"),
                    F.round(
                        ((F.col("__d1") + F.col("__d2")) / F.lit(2.0)) / (2 * scale),
                        round_to,
                    ).alias("grp_mad"),
                )
            # Sketch miss or over-budget windows: fall through to the
            # generic two-round bisection (identical results, more passes).
        if gstats is None:
            gstats = _two_round_median_mad(narrow, group_col, scale, round_to)
    # LEFT: a group whose values are all NULL never reaches the
    # bisection (non-NULL filter), so it has no stats row — keep its
    # rows with NULL median/MAD/z, the same shape the percentile
    # composition this replaced produced (ADVICE r3).
    return df.join(F.broadcast(gstats), group_col, "left").withColumn(
        "robust_z",
        # try_divide: a zero-MAD group (constant values) yields NULL
        # robust_z — DuckDB's x/0.0 semantics and the documented
        # contract (ADVICE r3/r4); a plain `/` is an ANSI
        # DIVIDE_BY_ZERO error.
        F.round(F.try_divide(v - F.col("grp_median"), F.col("grp_mad")), round_to)
        + F.lit(0.0),
    )


def _two_round_median_mad(
    narrow: DataFrame, group_col: str, scale: int, round_to: int
) -> DataFrame:
    """robust_zscore's generic path over the cached ``(group, __vc,
    __ok)`` projection: an exact-median bisection round, then a MAD
    round over the deltas. Returns the pinned per-group
    ``(group_col, grp_median, grp_mad)`` table."""
    from skoltexter_by_ai_spark.operators.pinning import pin
    from skoltexter_by_ai_spark.operators.quantiles import grouped_exact_quantiles

    # Only the MEDIAN rank is closed exactly (2 ranks instead of 6):
    # the quartiles were only ever SEEDS for the MAD round's bracket,
    # so Greenwald-Khanna surrogates from the same stats-pass sketch
    # are enough — conservative inner/outer quartile estimates at
    # ± 3/accuracy rank error, for free (shared sketch state), with
    # 3x less histogram row amplification in the median pass. A seed
    # miss still only costs an overflow-bucket pass, never correctness.
    _acc = 1_000
    _d3 = 3.0 / _acc
    medq, vstats = grouped_exact_quantiles(
        narrow,
        [group_col],
        F.col("__vc"),
        [0.5],
        guard=F.col("__ok"),
        return_stats=True,
        seed_accuracy=_acc,
        # __gk tail layout (after the 2 median brackets):
        # [q1_in, q3_in, q1_out, q3_out] — inner estimates err toward
        # the median (rank +/-3d3 margin), outer away from it.
        extra_sketch_probs=[0.25 + _d3, 0.75 - _d3, 0.25 - _d3, 0.75 + _d3],
    )
    # One row per group: the exact median in the LONG's units (cents).
    # Pinned eagerly: the interpolation-join chain behind medq spawns
    # several broadcast jobs per EVALUATION, and med/dstats/the final
    # output would each re-run it — one tiny checkpoint collapses
    # ~10 scheduling round-trips into 1 (group-count rows only).
    qstats = pin(
        medq.groupBy(group_col).agg(
            F.max(F.when(F.col("__p") == 0.5, F.col("__q"))).alias("__medc")
        )
    )
    med = qstats.select(
        group_col, F.round(F.col("__medc") / scale, round_to).alias("grp_median")
    )

    # The p=0.5 interpolation fraction is 0 or 0.5, so the median sits
    # on the HALF-grid of the value scale — deltas |v − med| are exact
    # integers at 2×scale (guarded below), keeping the bisection range
    # ~scale-sized instead of 10^round_to-sized.
    m2 = F.round(F.col("grp_median") * (2 * scale)).cast("long")
    # The MAD round reuses the median round's per-group stats: same
    # non-NULL count, and [0, max one-sided spread] is a superset of
    # the delta range — so no second counting scan is needed. Folding
    # the half-grid assert into __max keeps it from being pruned.
    # The quartile surrogates bracket the MAD: [m−r, m+r] with
    # r = min(m−q1, q3−m) sits inside [q1, q3] (≲ half the mass, so
    # MAD ≥ r), and with r = max(m−q1, q3−m) it covers [q1, q3]
    # (≳ half the mass, so MAD ≤ r). The INNER estimates (q1_in/q3_in,
    # biased toward the median) keep `near` a valid lower bracket and
    # the OUTER ones keep `far` a valid upper bracket even at the
    # sketch's worst rank error; ±2 half-grid units absorb
    # interpolation wobble; a miss (duplicate-heavy boundaries) only
    # costs an overflow-bucket pass, never correctness.
    on_half_grid = F.abs(F.col("grp_median") * (2 * scale) - m2) < 0.01
    q1_in = F.col("__gk")[2].cast("double")
    q3_in = F.col("__gk")[3].cast("double")
    q1_out = F.col("__gk")[4].cast("double")
    q3_out = F.col("__gk")[5].cast("double")
    near = F.least(F.col("__medc") - q1_in, q3_in - F.col("__medc"))
    far = F.greatest(F.col("__medc") - q1_out, q3_out - F.col("__medc"))
    dstats = vstats.join(
        F.broadcast(
            qstats.withColumn("grp_median", F.round(F.col("__medc") / scale, round_to))
        ),
        group_col,
    ).select(
        group_col,
        "__n",
        F.lit(0).cast("long").alias("__min"),
        (
            F.greatest(F.col("__max") * 2 - m2, m2 - F.col("__min") * 2)
            + F.coalesce(
                F.assert_true(
                    on_half_grid, "robust_zscore: median is off the half-grid"
                ).cast("long"),
                F.lit(0),
            )
        ).alias("__max"),
        F.greatest(F.lit(0).cast("long"), F.floor(near * 2).cast("long") - 2).alias("__slo"),
        (F.ceil(far * 2).cast("long") + 2).alias("__shi"),
    )
    # The MAD round's histogram reads the CACHED narrow cents + a
    # broadcast median join — no second source scan, no wide re-join.
    madq = grouped_exact_quantiles(
        narrow.join(F.broadcast(med), group_col, "left"),
        [group_col],
        F.abs(F.col("__vc") * 2 - m2),
        [0.5],
        stats=dstats,
    )
    mad = madq.select(
        group_col,
        F.round(F.col("__q") / (2 * scale), round_to).alias("grp_mad"),
    )
    # ONE pinned broadcast of the fused (median, MAD) per-group table
    # onto the output scan — without the checkpoint the final plan
    # re-evaluates BOTH rounds' interpolation chains (~16 jobs for a
    # group-count-sized frame).
    return pin(med.join(mad, group_col, "left"))


def token_budget_sample(
    df: DataFrame,
    source_col: str,
    id_col: str,
    text_col: str,
    budget_tokens: int,
) -> DataFrame:
    """Per-source deterministic-random selection until the token budget
    fills: order each source's documents by their md5 draw (a stable
    shuffle), take documents while the running token total BEFORE the
    document is under ``budget_tokens``. Every source therefore
    contributes ≤ budget + one document of tokens, and the selection
    is a pure function of the corpus — the mixing step of a
    pretraining data recipe.

    Output: (id, source, n_tokens, cum_before), natural-join ready.

    Scale: one shuffle on the source key + a per-source ordered window
    over (id, n_tokens) pairs — document text never moves. Heavily
    skewed sources (one giant crawl) are the window's partition; cap
    parallelism by splitting such sources upstream into sub-shards if
    a single reducer's row stream becomes the straggler.
    """
    base = df.select(
        F.col(id_col),
        F.col(source_col),
        F.size(tokens(text_col)).cast("bigint").alias("n_tokens"),
        sample_key(source_col, id_col).alias("__draw"),
    )
    w = (
        Window.partitionBy(source_col)
        .orderBy("__draw", id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        base.withColumn(
            "cum_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0).cast("bigint"))
        )
        .filter(F.col("cum_before") < budget_tokens)
        .drop("__draw")
    )


def majority_vote(
    df: DataFrame,
    key_cols: list[str],
    label_col: str,
    out_col: str = "label",
) -> DataFrame:
    """Label consolidation: per key, the most frequent label wins; ties
    break to the lexicographically smallest label so the result is
    deterministic in every engine (``F.mode``'s tie choice is not).

    The multi-annotator → gold-label reduction every labeled-data
    pipeline runs. One count aggregation + one per-key window over the
    (key, label) count table — at 100 TB the window input is
    |keys × distinct labels|, already reduced by the partial-agg count,
    never the raw annotation volume.

    Output: key columns + ``out_col`` + ``n_votes`` (winner's count)
    + ``n_total`` (all votes for the key).
    """
    counts = df.groupBy(*key_cols, label_col).agg(F.count("*").alias("n_votes"))
    w = Window.partitionBy(*key_cols).orderBy(
        F.col("n_votes").desc(), F.col(label_col).asc()
    )
    totals = Window.partitionBy(*key_cols)
    return (
        counts.withColumn("__rn", F.row_number().over(w))
        .withColumn("n_total", F.sum("n_votes").over(totals))
        .filter(F.col("__rn") == 1)
        .select(
            *key_cols,
            F.col(label_col).alias(out_col),
            "n_votes",
            "n_total",
        )
    )


def validate_expectations(
    df: DataFrame,
    rules: list[tuple[str, Column]],
) -> DataFrame:
    """Data-quality gate: evaluate named boolean expectations in ONE
    pass and return a per-rule violation report.

    ``rules`` is ``[(rule_name, predicate_column), ...]`` where the
    predicate is True for conforming rows; NULL counts as a violation
    (an expectation that cannot be evaluated did not pass). Output:
    ``(rule, n_violations, n_rows)``, one row per rule.

    Scale: all rules compile into a single aggregation over one scan —
    adding a rule costs one accumulator, not one pass. The report is
    rule-count sized; gate the pipeline on ``n_violations == 0`` or a
    tolerated fraction of ``n_rows``.
    """
    if not rules:
        raise ValueError("validate_expectations requires at least one rule")
    for name, _ in rules:
        # Rule names are interpolated into the stack() selectExpr below;
        # restrict to identifier characters so a quote/backtick cannot
        # produce broken (or worse, surprising) SQL (ADVICE r2).
        if not re.fullmatch(r"[A-Za-z0-9_]+", name):
            raise ValueError(f"rule name must match [A-Za-z0-9_]+: {name!r}")
    aggs = [
        F.sum(F.when(col.isNull() | ~col, 1).otherwise(0)).cast("bigint").alias(name)
        for name, col in rules
    ]
    wide = df.agg(*aggs, F.count("*").cast("bigint").alias("__n_rows"))
    names = [name for name, _ in rules]
    stack_expr = ", ".join(f"'{n}', `{n}`" for n in names)
    return wide.selectExpr(
        f"stack({len(names)}, {stack_expr}) as (rule, n_violations)", "__n_rows"
    ).select("rule", "n_violations", F.col("__n_rows").alias("n_rows"))


def epoch_shards(
    df: DataFrame,
    id_col: str,
    n_shards: int,
    epoch: int = 0,
) -> DataFrame:
    """Deterministic epoch shuffling + shard assignment: every row
    draws ``md5(epoch:id)`` and lands in shard ``draw32 % n_shards``
    — the data-ordering primitive behind reproducible training runs
    (same epoch → identical order and shard layout on ANY cluster
    size or retry; next epoch → a fresh, equally uniform permutation).
    Adds ``__draw`` (the 8-hex draw, the within-shard sort key) and
    ``shard``.

    Scale posture: a pure narrow projection — no shuffle at all here.
    The writer then does ONE repartition on ``shard`` (+ optional
    in-partition sort by ``__draw``), which is the minimum any global
    permutation costs. Never uses ``rand()``: task retries would
    re-deal the epoch.
    """
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    draw = sample_key(F.lit(int(epoch)).cast("string"), id_col)
    d32 = F.conv(draw, 16, 10).cast("long")
    return df.withColumn("__draw", draw).withColumn(
        "shard", (d32 % n_shards).cast("bigint")
    )


def column_profile(df: DataFrame, cols: list[str]) -> DataFrame:
    """Per-column dataset profile in ONE scan: row count, NULL count
    and exact distinct count for each named column — the standard
    pre-training data-quality snapshot next to
    :func:`validate_expectations` (which checks rules; this measures
    shape).

    Output: ``(col_name, n_rows, n_null, n_distinct)``, one row per
    profiled column. ``n_distinct`` excludes NULLs (SQL
    ``COUNT(DISTINCT ...)`` semantics in both engines).

    Scale posture: a single aggregation pass — Spark plans the N
    distinct aggregates with one Expand (each input row is replicated
    once per distinct column, then partially aggregated map-side), so
    cost is linear in rows × profiled columns with one shuffle whose
    state is bounded by the columns' value cardinalities. The
    cols-row report then unpivots via ``stack`` — driver never sees
    data, only the report.
    """
    if not cols:
        raise ValueError("cols must be non-empty")
    if len(set(cols)) != len(cols):
        raise ValueError(f"duplicate columns in profile list: {cols}")
    aggs = []
    for i, c in enumerate(cols):
        aggs.append(F.count(F.col(c)).alias(f"__p{i}"))
        aggs.append(F.countDistinct(F.col(c)).alias(f"__d{i}"))
    row = df.agg(F.count("*").alias("__n"), *aggs)
    # Unpivot with Column-API struct+inline (the same Expand/Generate
    # shape stack() plans to) — names go through F.lit, never string-
    # interpolated SQL, so quotes/backslashes in column names are safe.
    report_rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("col_name"),
                F.col(f"__p{i}").alias("__present"),
                F.col(f"__d{i}").alias("n_distinct"),
            )
            for i, c in enumerate(cols)
        ]
    )
    return (
        row.select("__n", F.inline(report_rows))
        .select(
            "col_name",
            F.col("__n").cast("bigint").alias("n_rows"),
            (F.col("__n") - F.col("__present")).cast("bigint").alias("n_null"),
            F.col("n_distinct").cast("bigint").alias("n_distinct"),
        )
    )


# PII scrubbing patterns: (kind, regex, replacement token). ASCII-only
# constructs (character classes, {m,n}, \b) that mean the same thing
# in Java regex (Spark) and RE2 (DuckDB), so the oracle can mirror the
# scrub exactly. Conservative by design: high-precision patterns a
# production pipeline would extend, not a claim of PII completeness.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\+\d{7,15}", "<PHONE>"),
)


def scrub_pii(
    df: DataFrame,
    id_col: str,
    text_col: str,
    patterns: tuple[tuple[str, str, str], ...] = PII_PATTERNS,
) -> DataFrame:
    """Regex PII redaction — the pre-release hygiene pass every
    training-corpus pipeline runs (emails, IPv4 addresses,
    international phone numbers by default; pass your own
    ``(kind, regex, token)`` triples to extend).

    Patterns apply SEQUENTIALLY, and each kind's count is taken on the
    text as it stands when that pattern runs (so an email containing a
    ``+digits`` local part is counted once, as an email — the
    replacement token contains no digits, so later patterns cannot
    re-match inside it). Output:
    ``(id_col, clean_text, n_<kind>..., n_redactions)``.

    NULL text passes through as NULL with zero counts (no PII
    identity), matching the engine's other text-gate operators.

    Scale posture: pure column expressions (``regexp_count`` +
    ``regexp_replace``, JVM regex inside codegen) — a narrow map-only
    pass with ZERO shuffles, trivially streaming-safe, and composable
    into any curation funnel projection for free.
    """
    if not patterns:
        raise ValueError("patterns must contain at least one (kind, regex, token) triple")
    cur = F.col(text_col)
    counts: list[Column] = []
    names: list[str] = []
    for kind, pat, token in patterns:
        if "$" in token or "\\" in token:
            # Java regexp_replace treats $ and \ in the REPLACEMENT as
            # group references/escapes — an unescaped user token would
            # fail at runtime (or silently substitute a capture).
            raise ValueError(
                f"replacement token {token!r} for {kind!r} must not contain "
                "'$' or '\\' (Java group-reference syntax in regexp_replace)"
            )
        c = F.coalesce(F.regexp_count(cur, F.lit(pat)), F.lit(0)).cast("bigint")
        counts.append(c)
        names.append(f"n_{kind}")
        cur = F.regexp_replace(cur, pat, token)
    total = counts[0]
    for c in counts[1:]:
        total = total + c
    return df.select(
        F.col(id_col),
        cur.alias("clean_text"),
        *[c.alias(n) for c, n in zip(counts, names)],
        total.alias("n_redactions"),
    )
