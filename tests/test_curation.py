"""Unit tests for the corpus-curation operators (exact semantics,
determinism, budget invariants)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from skoltexter_by_ai_spark.operators import curation


def test_fraction_threshold_bounds():
    assert curation.fraction_threshold(0.0) == "00000000"
    assert curation.fraction_threshold(1.0) == "ffffffff"
    assert curation.fraction_threshold(0.5) == "80000000"
    with pytest.raises(ValueError):
        curation.fraction_threshold(1.5)


def test_stratified_sample_deterministic_and_stratum_aware(spark):
    rows = [(i, "a" if i % 2 == 0 else "b") for i in range(400)]
    df = spark.createDataFrame(rows, ["id", "stratum"])
    out1 = curation.stratified_sample(df, "stratum", {"a": 1.0, "b": 0.0}, "id")
    got = [r.stratum for r in out1.collect()]
    assert len(got) == 200 and set(got) == {"a"}  # fractions are exact at 0/1
    # Mid fractions: deterministic across runs and ballpark-accurate.
    half = curation.stratified_sample(df, "stratum", 0.5, "id")
    n1, n2 = half.count(), half.count()
    assert n1 == n2
    assert 120 <= n1 <= 280  # ~200 expected, generous bound
    # Unlisted strata use the default fraction.
    dflt = curation.stratified_sample(df, "stratum", {"a": 0.0}, "id", default_fraction=1.0)
    assert set(r.stratum for r in dflt.collect()) == {"b"}


def test_stratified_sample_membership_stable_under_repartition(spark):
    df = spark.createDataFrame([(i, "s") for i in range(300)], ["id", "stratum"])
    a = sorted(r.id for r in curation.stratified_sample(df, "stratum", 0.3, "id").collect())
    b = sorted(
        r.id
        for r in curation.stratified_sample(
            df.repartition(7), "stratum", 0.3, "id"
        ).collect()
    )
    assert a == b


def test_ngram_contamination_exact_fractions(spark):
    train = spark.createDataFrame(
        [
            (1, "the cat sat on the mat today"),  # shares eval's grams
            (2, "completely different words entirely here now"),
        ],
        ["doc_id", "text"],
    )
    evals = spark.createDataFrame(
        [(100, "the cat sat on the mat")],  # 4 distinct trigrams
        ["doc_id", "text"],
    )
    out = {
        (r.train_id, r.eval_id): r
        for r in curation.ngram_contamination(train, evals, n=3, min_overlap=0.5).collect()
    }
    assert set(out) == {(1, 100)}  # doc 2 shares nothing
    row = out[(1, 100)]
    assert row.eval_ngrams == 4
    assert row.shared_ngrams == 4  # all eval trigrams appear in doc 1
    assert row.overlap_frac == 1.0


def test_ngram_contamination_threshold_filters(spark):
    train = spark.createDataFrame([(1, "a b c x y z")], ["doc_id", "text"])
    evals = spark.createDataFrame([(9, "a b c q r s")], ["doc_id", "text"])
    # Shared trigrams: only "a b c" of eval's 4 -> 0.25 < 0.5 threshold.
    assert curation.ngram_contamination(train, evals, n=3, min_overlap=0.5).count() == 0
    low = curation.ngram_contamination(train, evals, n=3, min_overlap=0.2).collect()
    assert len(low) == 1 and low[0].overlap_frac == 0.25


def test_token_budget_sample_invariants(spark):
    rows = [(i, f"src{i % 3}", "tok " * (5 + i % 7)) for i in range(120)]
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    budget = 50
    out = curation.token_budget_sample(df, "source", "doc_id", "text", budget).collect()
    assert out, "budget selection must keep at least one doc per source"
    by_src: dict[str, list] = {}
    for r in out:
        assert r.cum_before < budget  # the defining keep condition
        by_src.setdefault(r.source, []).append(r)
    for src, docs in by_src.items():
        docs.sort(key=lambda r: r.cum_before)
        # cum_before is exactly the running sum of the kept prefix.
        run = 0
        for r in docs:
            assert r.cum_before == run
            run += r.n_tokens
        # Total never exceeds budget + the last doc's tokens.
        assert run < budget + max(r.n_tokens for r in docs) + 1


def test_token_budget_sample_deterministic(spark):
    rows = [(i, "s", "w " * 10) for i in range(50)]
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    a = sorted(r.doc_id for r in curation.token_budget_sample(df, "source", "doc_id", "text", 100).collect())
    b = sorted(
        r.doc_id
        for r in curation.token_budget_sample(
            df.repartition(5), "source", "doc_id", "text", 100
        ).collect()
    )
    assert a == b and len(a) == 10  # 100 tokens / 10 per doc


def test_weighted_sample_prefers_heavy_rows(spark):
    """Across many strata, a row with 50x the weight of its peers must
    be selected far more often than uniform chance would allow."""
    rows = []
    for s in range(200):
        for i in range(10):
            rows.append((s * 100 + i, f"s{s}", 50 if i == 0 else 1))
    df = spark.createDataFrame(rows, ["id", "stratum", "w"])
    out = curation.weighted_sample(df, "stratum", "id", "w", k=1).collect()
    assert len(out) == 200  # one winner per stratum
    heavy_wins = sum(1 for r in out if r.id % 100 == 0)
    # P(heavy wins) = 50/59 ≈ 0.85; uniform would be 0.1. Require a
    # margin that fails decisively if weights are ignored.
    assert heavy_wins >= 120, heavy_wins


def test_weighted_sample_deterministic_and_guards_zero_weight(spark):
    df = spark.createDataFrame(
        [(1, "s", 5), (2, "s", 0), (3, "s", -2), (4, "s", 1)], ["id", "stratum", "w"]
    )
    out1 = sorted(r.id for r in curation.weighted_sample(df, "stratum", "id", "w", 10).collect())
    out2 = sorted(
        r.id
        for r in curation.weighted_sample(df.repartition(3), "stratum", "id", "w", 10).collect()
    )
    assert out1 == out2 == [1, 4]  # zero/negative weights excluded


# --- property-based invariants (pure-Python models, no session) --------------


def test_fraction_threshold_monotone_property():
    hypothesis = pytest.importorskip("hypothesis")
    from hypothesis import given, strategies as st

    @given(st.floats(min_value=0.0, max_value=1.0), st.floats(min_value=0.0, max_value=1.0))
    def check(a, b):
        ta, tb = curation.fraction_threshold(a), curation.fraction_threshold(b)
        # Monotone: larger fraction -> lexicographically >= threshold
        # (hex strings of equal width compare like the integers).
        if a <= b:
            assert ta <= tb
        assert len(ta) == 8 and ta == ta.lower()

    check()


def test_budget_selection_is_prefix_closed_property(spark):
    """For ANY corpus, the kept set per source must be a prefix of the
    (draw, id) order — never a gap: if doc X is kept, every doc
    ordered before X is kept too."""
    hypothesis = pytest.importorskip("hypothesis")
    from hypothesis import HealthCheck, given, settings, strategies as st

    @given(
        st.lists(
            st.tuples(st.integers(0, 999), st.sampled_from(["a", "b"]), st.integers(1, 30)),
            min_size=1,
            max_size=25,
            unique_by=lambda t: t[0],
        ),
        st.integers(5, 100),
    )
    @settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
    def check(rows, budget):
        df = spark.createDataFrame(
            [(i, s, "w " * n) for i, s, n in rows], ["doc_id", "source", "text"]
        )
        kept = curation.token_budget_sample(df, "source", "doc_id", "text", budget).collect()
        kept_ids = {r.doc_id for r in kept}
        # Reconstruct the deterministic order driver-side and assert
        # prefix closure + the budget boundary.
        import hashlib

        def draw(s, i):
            return hashlib.md5(f"{s}:{i}".encode()).hexdigest()[:8]

        by_src: dict[str, list] = {}
        for i, s, n in rows:
            by_src.setdefault(s, []).append((draw(s, i), i, n))
        for s, docs in by_src.items():
            docs.sort()
            run = 0
            for d, i, n in docs:
                if run < budget:
                    assert i in kept_ids, (s, i, run, budget)
                else:
                    assert i not in kept_ids, (s, i, run, budget)
                run += n

    check()


def test_winsorize_clips_to_group_quantiles(spark):
    rows = [(i, "g", float(i)) for i in range(1, 101)]  # 1..100
    df = spark.createDataFrame(rows, ["id", "g", "v"])
    out = {r.id: r for r in curation.winsorize(df, "v", group_col="g", lower=0.1, upper=0.9).collect()}
    assert len(out) == 100
    lo, hi = out[1].v_lo, out[1].v_hi
    assert lo == pytest.approx(10.9) and hi == pytest.approx(90.1)
    assert out[1].v_w == lo and out[100].v_w == hi  # tails clipped
    assert out[50].v_w == 50.0  # interior untouched


def test_majority_vote_tiebreak_is_lexicographic(spark):
    from skoltexter_by_ai_spark.operators.curation import majority_vote

    df = spark.createDataFrame(
        [(1, "b"), (1, "b"), (1, "a"), (1, "a"), (1, "c"), (2, "z")],
        "k long, lab string",
    )
    rows = {r.k: r for r in majority_vote(df, ["k"], "lab").collect()}
    # a and b tie at 2 votes -> 'a' wins deterministically.
    assert (rows[1].label, rows[1].n_votes, rows[1].n_total) == ("a", 2, 5)
    assert (rows[2].label, rows[2].n_votes, rows[2].n_total) == ("z", 1, 1)


def test_validate_expectations_null_is_violation(spark):
    from skoltexter_by_ai_spark.operators.curation import validate_expectations

    df = spark.createDataFrame(
        [(1, 5.0), (2, None), (3, -1.0), (4, 100.0)], "id long, v double"
    )
    rules = [
        ("v_present", F.col("v").isNotNull()),
        ("v_positive", F.col("v") > 0),
        ("v_small", F.col("v") < 50),
    ]
    got = {r.rule: (r.n_violations, r.n_rows) for r in validate_expectations(df, rules).collect()}
    # NULL fails every rule it appears in (cannot evaluate != passed).
    assert got == {"v_present": (1, 4), "v_positive": (2, 4), "v_small": (2, 4)}


def test_validate_expectations_rejects_bad_rule_names_and_empty(spark):
    from skoltexter_by_ai_spark.operators.curation import validate_expectations

    df = spark.range(3)
    with pytest.raises(ValueError, match="at least one rule"):
        validate_expectations(df, [])
    for bad in ("has space", "quote'", "back`tick", ""):
        with pytest.raises(ValueError, match="rule name"):
            validate_expectations(df, [(bad, F.col("id") >= 0)])


def test_group_cap_keeps_at_most_cap_per_group(spark):
    from skoltexter_by_ai_spark.operators.curation import group_cap

    df = spark.createDataFrame(
        [(i, f"src{i % 3}") for i in range(30)], "doc_id long, source string"
    )
    out = group_cap(df, "source", "doc_id", cap=4)
    counts = {r.source: r.n for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert counts == {"src0": 4, "src1": 4, "src2": 4}
    # A NULL group key is one group, capped like any other.
    nulls = spark.createDataFrame(
        [(100, None), (101, None), (102, None)], "doc_id long, source string"
    )
    out = group_cap(df.unionByName(nulls), "source", "doc_id", cap=2)
    counts = {r.source: r.n for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert counts == {"src0": 2, "src1": 2, "src2": 2, None: 2}
    # Under-cap groups pass through whole.
    small = spark.createDataFrame([(1, "a"), (2, "a"), (3, "b")], "doc_id long, source string")
    assert group_cap(small, "source", "doc_id", cap=10).count() == 3
    # cap=0 empties; negative rejected.
    assert group_cap(small, "source", "doc_id", cap=0).count() == 0
    import pytest as _pytest

    with _pytest.raises(ValueError):
        group_cap(small, "source", "doc_id", cap=-1)


def test_group_cap_selection_is_deterministic_and_membership_stable(spark):
    from skoltexter_by_ai_spark.operators.curation import group_cap

    df = spark.createDataFrame(
        [(i, "s") for i in range(100)], "doc_id long, source string"
    )
    a = sorted(r.doc_id for r in group_cap(df, "source", "doc_id", cap=10).collect())
    b = sorted(
        r.doc_id
        for r in group_cap(df.repartition(7), "source", "doc_id", cap=10).collect()
    )
    assert a == b  # partitioning-independent
    # The kept set is the cap smallest hash draws: raising the cap
    # only ADDS rows (prefix property of hash order).
    c = sorted(r.doc_id for r in group_cap(df, "source", "doc_id", cap=20).collect())
    assert set(a).issubset(set(c))


def test_temperature_resample_rates_and_determinism(spark):
    """Smallest source keeps everything (rate 1.0); a k-times larger
    source keeps ~k^(alpha-1); alpha=1 keeps every row; membership is
    a pure function of (source, id) so re-runs agree row-for-row."""
    from skoltexter_by_ai_spark.operators.curation import temperature_resample

    rows = [(i, "big") for i in range(400)] + [(1000 + i, "small") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = temperature_resample(df, "source", "doc_id", alpha=0.5)
    rates = {r.source: r.keep_rate for r in out.select("source", "keep_rate").distinct().collect()}
    assert rates["small"] == 1.0
    assert rates["big"] == 0.5  # (400/100)^(-0.5)
    n_big = out.filter(F.col("source") == "big").count()
    assert 150 <= n_big <= 250  # ~200 expected at rate 0.5
    # n_source rides along.
    assert {r.n_source for r in out.filter(F.col("source") == "big").select("n_source").distinct().collect()} == {400}
    # alpha=1: identity mix.
    assert temperature_resample(df, "source", "doc_id", alpha=1.0).count() == 500
    # Deterministic: same ids on a re-run.
    a = sorted(r.doc_id for r in out.select("doc_id").collect())
    b = sorted(r.doc_id for r in temperature_resample(df, "source", "doc_id", alpha=0.5).select("doc_id").collect())
    assert a == b
    import pytest as _pytest

    with _pytest.raises(ValueError, match="alpha"):
        temperature_resample(df, "source", "doc_id", alpha=0.0)


def test_stratified_sample_threshold_boundary_is_exclusive(spark):
    """Mutation pin for the keep predicate: a row whose md5 draw equals
    the threshold EXACTLY must be excluded (strict <) — P[key < t] ==
    fraction only holds with the exclusive compare."""
    import hashlib

    key = hashlib.md5(b"s:7").hexdigest()[:8]
    frac = int(key, 16) / curation.HEX_SPACE  # threshold == this row's key
    assert curation.fraction_threshold(frac) == key
    df = spark.createDataFrame([(7, "s")], ["id", "stratum"])
    assert curation.stratified_sample(df, "stratum", frac, "id").count() == 0
    # One notch above the key, the row is kept.
    frac_up = (int(key, 16) + 1) / curation.HEX_SPACE
    assert curation.stratified_sample(df, "stratum", frac_up, "id").count() == 1


def test_contamination_overlap_frac_rounds_to_six(spark):
    """Mutation pin for the overlap rounding: a 1-of-3 shingle overlap
    must surface as round(1/3, 6) exactly."""
    train = spark.createDataFrame([(1, "a b c x y")], ["doc_id", "text"])
    evals = spark.createDataFrame([(9, "a b c d e")], ["doc_id", "text"])
    rows = curation.ngram_contamination(train, evals, n=3, min_overlap=0.3).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.shared_ngrams, r.eval_ngrams) == (1, 3)
    assert r.overlap_frac == round(1 / 3, 6)


def test_winsorize_bounds_round_to_six_on_both_paths(spark):
    """Mutation pin for the bound rounding in the percentile and
    approx_percentile fallbacks: sevenths interpolate/land on
    non-terminating decimals, so a mis-rounded bound differs at the
    7th digit."""
    df = spark.createDataFrame([(float(i) / 7,) for i in range(10)], "v double")
    for kwargs in ({"scale": None}, {"approx_accuracy": 100}):
        r = curation.winsorize(df, "v", lower=0.05, upper=0.95, **kwargs).collect()[0]
        assert r["v_lo"] == round(r["v_lo"], 6), kwargs
        assert r["v_hi"] == round(r["v_hi"], 6), kwargs
    # Percentile path interpolates 0.45 * (1/7) — pin the exact 6-digit cut.
    exact = curation.winsorize(df, "v", lower=0.05, upper=0.95, scale=None).collect()[0]
    assert exact["v_lo"] == round(0.45 * (1 / 7), 6) == 0.064286


def test_epoch_shards_deterministic_and_epoch_sensitive(spark):
    df = spark.createDataFrame([(i,) for i in range(200)], ["id"])
    a1 = {r.id: (r.shard, r["__draw"]) for r in curation.epoch_shards(df, "id", 4, epoch=0).collect()}
    a2 = {r.id: (r.shard, r["__draw"]) for r in curation.epoch_shards(df, "id", 4, epoch=0).collect()}
    b = {r.id: (r.shard, r["__draw"]) for r in curation.epoch_shards(df, "id", 4, epoch=1).collect()}
    assert a1 == a2  # same epoch: identical deal on re-run
    assert a1 != b  # next epoch: a different permutation
    # Every shard id is in range and populated at n >> shards.
    shards = {s for s, _ in a1.values()}
    assert shards == {0, 1, 2, 3}
    with pytest.raises(ValueError, match="n_shards"):
        curation.epoch_shards(df, "id", 0)


def test_column_profile_exact_counts(spark):
    from skoltexter_by_ai_spark.operators.curation import column_profile

    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "a", None), (3, None, 1.5), (3, "b", 2.5)],
        "id long, s string, v double",
    )
    rows = {r.col_name: r for r in column_profile(df, ["id", "s", "v"]).collect()}
    assert (rows["id"].n_rows, rows["id"].n_null, rows["id"].n_distinct) == (4, 0, 3)
    assert (rows["s"].n_null, rows["s"].n_distinct) == (1, 2)
    assert (rows["v"].n_null, rows["v"].n_distinct) == (1, 2)

    import pytest

    with pytest.raises(ValueError, match="non-empty"):
        column_profile(df, [])
    with pytest.raises(ValueError, match="duplicate"):
        column_profile(df, ["id", "id"])


def test_column_profile_handles_quoted_column_names(spark):
    """Column names containing quotes/backslashes must profile
    correctly — the unpivot goes through F.lit, never interpolated
    SQL (ADVICE r5: selectExpr stack() broke on a single quote)."""
    from skoltexter_by_ai_spark.operators.curation import column_profile

    df = spark.createDataFrame([(1, "a"), (2, None)], ["id", "x"])
    weird = "it's a \\ 'col'"
    df = df.withColumnRenamed("x", weird)
    rows = {r.col_name: r for r in column_profile(df, ["id", weird]).collect()}
    assert set(rows) == {"id", weird}
    assert (rows[weird].n_rows, rows[weird].n_null, rows[weird].n_distinct) == (2, 1, 1)


def test_decontaminate_hand_values(spark):
    """Train doc 2 shares exactly 2 of eval doc 1's four 2-grams
    (= 0.5, at the threshold -> dropped); self-pairs are excluded so
    the carved-out eval docs themselves survive."""
    from pyspark.sql import functions as F

    from skoltexter_by_ai_spark.operators.curation import decontaminate

    train = spark.createDataFrame(
        [
            (1, "a b c d e"),
            (2, "a b c x y"),
            (3, "p q r s t"),
            (4, "u v w"),
        ],
        "doc_id long, text string",
    )
    evals = train.filter(F.col("doc_id").isin(1, 3))
    kept = sorted(
        r.doc_id
        for r in decontaminate(train, evals, n=2, min_overlap=0.5).collect()
    )
    assert kept == [1, 3, 4]

    # Below-threshold overlap survives (1 of 4 shared 2-grams = 0.25).
    kept2 = sorted(
        r.doc_id
        for r in decontaminate(train, evals, n=2, min_overlap=0.6).collect()
    )
    assert kept2 == [1, 2, 3, 4]

    # exclude_self=False: an eval doc disqualifies its own train copy.
    kept3 = sorted(
        r.doc_id
        for r in decontaminate(
            train, evals, n=2, min_overlap=0.5, exclude_self=False
        ).collect()
    )
    assert kept3 == [4]

    # Survivors keep ALL original columns.
    assert decontaminate(train, evals).columns == train.columns


def test_decontaminate_agrees_with_scan(spark):
    """Cross-operator consistency: the filter's dropped ids must be
    exactly the scan's flagged train ids (self-pairs excluded), for a
    corpus with overlaps on both sides of the threshold."""
    import random

    from pyspark.sql import functions as F

    from skoltexter_by_ai_spark.operators.curation import (
        decontaminate,
        ngram_contamination,
    )

    rng = random.Random(123)
    vocab = ["u", "v", "w", "x", "y", "z"]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(2, 8))))
        for i in range(40)
    ]
    train = spark.createDataFrame(rows, "doc_id long, text string")
    evals = train.filter(F.col("doc_id") % 7 == 0)

    pairs = ngram_contamination(train, evals, n=2, min_overlap=0.4).collect()
    flagged = {r.train_id for r in pairs if r.train_id != r.eval_id}
    assert flagged, "fixture must flag at least one non-self pair"
    kept = {r.doc_id for r in decontaminate(train, evals, n=2, min_overlap=0.4).collect()}
    assert kept == {i for i, _ in rows} - flagged


def test_epoch_shards_single_shard_is_legal(spark):
    """n_shards=1 is the degenerate-but-legal boundary (one global
    shard, every doc in it); 0 raises."""
    import pytest

    from skoltexter_by_ai_spark.operators.curation import epoch_shards

    df = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    rows = epoch_shards(df, "doc_id", n_shards=1, epoch=3).collect()
    assert len(rows) == 6
    assert {r.shard for r in rows} == {0}
    with pytest.raises(ValueError, match="n_shards"):
        epoch_shards(df, "doc_id", n_shards=0, epoch=3)


def test_scrub_pii_hand_values(spark):
    """Crafted PII rows: per-kind counts, replace-ALL semantics,
    sequential ordering (an email with a +digits local part is counted
    once as an email — the token masks the digits before the phone
    pattern runs), NULL pass-through, and no false hits on plain
    prose or on decimals that are not IPv4-shaped."""
    from skoltexter_by_ai_spark.operators.curation import scrub_pii

    rows = [
        (1, "mail a@b.io and c.d+1234567@e-f.org twice"),
        (2, "call +4915112345678 or +123456789012345 now"),
        (3, "from 10.0.0.1 to 255.255.255.255"),
        (4, "no pii here, just 3.14 and version 1.2"),
        (5, None),
        (6, "mix x@y.de at 192.168.0.7 via +1234567"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in scrub_pii(df, "doc_id", "text").collect()}

    assert got[1].n_email == 2 and got[1].n_redactions == 2
    assert got[1].clean_text == "mail <EMAIL> and <EMAIL> twice"
    assert got[2].n_phone == 2
    assert got[2].clean_text == "call <PHONE> or <PHONE> now"
    assert got[3].n_ipv4 == 2
    assert got[3].clean_text == "from <IP> to <IP>"
    # "3.14" / "1.2" are not 4-octet shapes; nothing fires
    assert got[4].n_redactions == 0 and got[4].clean_text == rows[3][1]
    assert got[5].clean_text is None and got[5].n_redactions == 0
    assert (got[6].n_email, got[6].n_ipv4, got[6].n_phone) == (1, 1, 1)
    assert got[6].clean_text == "mix <EMAIL> at <IP> via <PHONE>"

    # ordering: the +1234567 inside the email local part must NOT be
    # double-counted as a phone (masked by <EMAIL> first)
    one = scrub_pii(
        spark.createDataFrame([(9, "ping c+1234567@x.org ok")], "doc_id long, text string"),
        "doc_id",
        "text",
    ).collect()[0]
    assert (one.n_email, one.n_phone, one.clean_text) == (1, 0, "ping <EMAIL> ok")

    # custom pattern set extends the gate
    custom = scrub_pii(
        spark.createDataFrame([(1, "id ABC-12-34 x")], "doc_id long, text string"),
        "doc_id",
        "text",
        patterns=(("badge", r"\b[A-Z]{3}-\d{2}-\d{2}\b", "<BADGE>"),),
    ).collect()[0]
    assert (custom.n_badge, custom.clean_text) == (1, "id <BADGE> x")


def test_scrub_pii_rejects_degenerate_inputs(spark):
    """Empty pattern set and group-reference tokens fail fast with a
    named ValueError instead of an IndexError / a runtime Java
    IllegalArgumentException inside regexp_replace."""
    from skoltexter_by_ai_spark.operators.curation import scrub_pii

    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError, match="at least one"):
        scrub_pii(df, "doc_id", "text", patterns=())
    with pytest.raises(ValueError, match="group-reference"):
        scrub_pii(df, "doc_id", "text", patterns=(("c", r"\d+", "$REDACTED"),))
    with pytest.raises(ValueError, match="group-reference"):
        scrub_pii(df, "doc_id", "text", patterns=(("c", r"\d+", "\\1"),))
