"""Unit tests for the scalar text functions, using the reference's own
doctest examples as the spec (SURVEY §5 'doctests as spec')."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from skoltexter_by_ai_spark.functions import text
from skoltexter_by_ai_spark.functions.template import compile_template, extract_placeholders


def _eval(spark, col, value):
    df = spark.createDataFrame([(value,)], ["v"])
    return df.select(col.alias("out")).collect()[0].out


@pytest.mark.parametrize(
    ("value", "expected"),
    [
        ("  123  ", "123"),
        ("N/A", None),
        ("n/a", None),
        ("", None),
        ("   ", None),
        ("ok", "ok"),
    ],
)
def test_sanitize(spark, value, expected):
    assert _eval(spark, F.expr(text.sanitize_sql("v")), value) == expected


@pytest.mark.parametrize(
    ("value", "expected"),
    [
        ("10.0", "10"),
        ("-5.0", "-5"),
        ("32.5", "32.5"),
        ("10.00", "10.00"),
        ("abc", "abc"),
        ("[Data Saknas]", "[Data Saknas]"),
    ],
)
def test_number_fmt(spark, value, expected):
    assert _eval(spark, F.expr(text.number_fmt_sql("v")), value) == expected


QUOTING_CASES = [
    "",
    "it's",
    "''",
    "back\\slash",
    "\\'",
    "\\",
    "line\nbreak\r\ttab",
    "$1 and \\1",
    "${env:HOME} ${spark.app.name} $${x}",
    "{SchoolName} }{",
    "\\u0041 \\n \\%",
    "åäö Ünïcødé 日本語 😀",
]


def _sql_strings(spark, values):
    row = spark.range(1).select(
        *[F.expr(text.sql_string(v)).alias(f"c{i}") for i, v in enumerate(values)]
    ).collect()[0]
    return list(row)


def test_sql_string_round_trips_through_expr(spark):
    assert _sql_strings(spark, QUOTING_CASES) == QUOTING_CASES


def test_sql_string_round_trips_arbitrary_text_property(spark):
    pytest.importorskip("hypothesis")
    from hypothesis import given, settings, strategies as st

    pieces = st.sampled_from(["'", "\\", "\n", "$1", "${", "{", "}", "`", "ü", "日"])
    values = st.lists(
        st.one_of(st.text(max_size=12), st.lists(pieces, max_size=8).map("".join)),
        min_size=1,
        max_size=10,
    )

    @settings(max_examples=15, deadline=None)
    @given(values)
    def check(vs):
        assert _sql_strings(spark, vs) == vs

    check()


def test_sql_ident_round_trips_column_names(spark):
    pytest.importorskip("hypothesis")
    from hypothesis import given, settings, strategies as st

    fixed = ["School/Code", "two words", "back`tick", "``", "a.b", " lead", "Ö/ä `x`"]
    names = st.lists(
        st.text(alphabet="ab01_/ .`-åÖ", min_size=1, max_size=10),
        max_size=6,
    )

    @settings(max_examples=15, deadline=None)
    @given(names)
    def check(drawn):
        # Spark resolves names case-insensitively: keep one per casing.
        cols = list({c.lower(): c for c in fixed + drawn}.values())
        df = spark.createDataFrame(
            [tuple(f"v{i}" for i in range(len(cols)))],
            ", ".join(f"{text.sql_ident(c)} string" for c in cols),
        )
        out = df.select(*[F.expr(text.sql_ident(c)) for c in cols])
        assert out.columns == cols
        assert list(out.collect()[0]) == [f"v{i}" for i in range(len(cols))]

    check()


def test_sql_ident_refuses_variable_syntax():
    with pytest.raises(ValueError, match="substitute"):
        text.sql_ident("${env:HOME}")


def test_clean_html_reference_doctest(spark):
    # program3_generate_website.py doctest :124-136
    raw = "<p>Title</p><p>  </p><p><br/></p><div>Content</div><br><br>"
    assert (
        _eval(spark, text.clean_html(F.col("v")), raw)
        == "<p>Title</p><div>Content</div><br>"
    )


def test_extract_placeholders_matches_reference_doctest():
    tpl = "Hello {SchoolName}! Code: {SchoolCode}. {SurveyAnswerCategory_Math}"
    assert extract_placeholders(tpl) == [
        "SchoolCode",
        "SchoolName",
        "SurveyAnswerCategory_Math",
    ]


def test_compile_template_reference_doctest_semantics(spark):
    # render_template doctest :271-279: missing placeholder -> sentinel,
    # '10.0' -> '10'.
    df = spark.createDataFrame(
        [("Alpha", "A-01", "10.0")], ["SchoolName", "SchoolCode", "Score"]
    )
    tpl = "Name: {SchoolName}, Code: {SchoolCode}, Score: {Score}, X: {Missing}"
    out = df.select(compile_template(tpl, df.columns).alias("doc")).collect()[0].doc
    assert out == "Name: Alpha, Code: A-01, Score: 10, X: [Data Saknas]"


def test_compile_template_survey_coalesce_and_year(spark):
    # get_survey_answer_value doctest :246-251 + survey-year resolution.
    df = spark.createDataFrame(
        [("", "72", "x")],
        ["SurveyAnswerCategory_Read_2023/2024", "SurveyAnswerCategory_Read_2022/2023", "ignore"],
    )
    tpl = "Year {SurveySchoolYear}: {SurveyAnswerCategory_Read}"
    out = df.select(compile_template(tpl, df.columns).alias("doc")).collect()[0].doc
    assert out == "Year 2022/2023: 72"


def test_compile_template_year_prefers_latest(spark):
    df = spark.createDataFrame(
        [("85", "80")],
        ["SurveyAnswerCategory_Math_2023/2024", "SurveyAnswerCategory_Math_2022/2023"],
    )
    tpl = "{SurveySchoolYear}/{SurveyAnswerCategory_Math}"
    out = df.select(compile_template(tpl, df.columns).alias("doc")).collect()[0].doc
    assert out == "2023/2024/85"


def test_compile_template_no_survey_data_sentinel(spark):
    df = spark.createDataFrame(
        [("", "")],
        ["SurveyAnswerCategory_Math_2023/2024", "SurveyAnswerCategory_Math_2022/2023"],
    )
    tpl = "{SurveySchoolYear}"
    out = df.select(compile_template(tpl, df.columns).alias("doc")).collect()[0].doc
    assert out == "[Data Saknas]"


# --- sequence packing ---------------------------------------------------------


def test_pack_sequences_chunks_and_offsets(spark):
    from skoltexter_by_ai_spark.operators.packing import pack_sequences

    # Tokens per doc: 3, 4, 2, 5 -> cumulative-before 0, 3, 7, 9.
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c d"), (3, "a b"), (4, "a b c d e")],
        ["doc_id", "text"],
    )
    rows = {
        r.doc_id: r
        for r in pack_sequences(df, "doc_id", "text", context_len=4).collect()
    }
    assert (rows[1].chunk_id, rows[1].chunk_offset) == (0, 0)
    assert (rows[2].chunk_id, rows[2].chunk_offset) == (0, 3)
    assert (rows[3].chunk_id, rows[3].chunk_offset) == (1, 3)
    assert (rows[4].chunk_id, rows[4].chunk_offset) == (2, 1)
    assert [rows[i].n_tokens for i in (1, 2, 3, 4)] == [3, 4, 2, 5]


def test_pack_sequences_shards_pack_independently(spark):
    from skoltexter_by_ai_spark.operators.packing import pack_sequences

    df = spark.createDataFrame(
        [(1, "a b c", "s1"), (2, "d e", "s2"), (3, "f g", "s1"), (4, "h", "s2")],
        ["doc_id", "text", "source"],
    )
    rows = {
        r.doc_id: r
        for r in pack_sequences(
            df, "doc_id", "text", context_len=3, shard_col="source"
        ).collect()
    }
    # s1: doc1 (3 tokens) fills chunk 0; doc3 starts chunk 1 at offset 0.
    assert (rows[1].chunk_id, rows[1].chunk_offset) == (0, 0)
    assert (rows[3].chunk_id, rows[3].chunk_offset) == (1, 0)
    # s2 packs from zero independently of s1.
    assert (rows[2].chunk_id, rows[2].chunk_offset) == (0, 0)
    assert (rows[4].chunk_id, rows[4].chunk_offset) == (0, 2)


def test_pack_sequences_empty_doc_consumes_nothing(spark):
    from skoltexter_by_ai_spark.operators.packing import pack_sequences

    df = spark.createDataFrame(
        [(1, "a b"), (2, "   "), (3, "c d")], ["doc_id", "text"]
    )
    rows = {
        r.doc_id: r
        for r in pack_sequences(df, "doc_id", "text", context_len=8).collect()
    }
    assert rows[2].n_tokens == 0
    assert (rows[2].chunk_id, rows[2].chunk_offset) == (0, 2)
    assert (rows[3].chunk_id, rows[3].chunk_offset) == (0, 2)


# --- repetition stats ---------------------------------------------------------


def test_repetition_stats_values(spark):
    from skoltexter_by_ai_spark.operators.text_analysis import (
        distinct_token_ratio,
        top_token_share,
    )

    df = spark.createDataFrame([("a a a b",), ("",), ("x y z",)], ["text"])
    rows = df.select(
        distinct_token_ratio("text").alias("dr"), top_token_share("text").alias("ts")
    ).collect()
    assert (rows[0].dr, rows[0].ts) == (0.5, 0.75)
    assert (rows[1].dr, rows[1].ts) == (0.0, 0.0)
    assert (rows[2].dr, rows[2].ts) == (1.0, 1.0 / 3)


def test_pack_sequences_invariants_random(spark):
    """Property sweep: offsets stay inside the window, chunk ids match
    the running total, and packing is dense (no skipped space)."""
    import random

    rng = random.Random(7)
    words = ["tok"] * 1  # content irrelevant; only counts matter
    rows = [
        (i, " ".join(words * rng.randint(0, 9)) if rng.random() > 0.1 else "",
         f"s{rng.randint(0, 2)}")
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    from skoltexter_by_ai_spark.operators.packing import pack_sequences

    ctx = 7
    out = sorted(
        pack_sequences(df, "doc_id", "text", ctx, shard_col="source").collect(),
        key=lambda r: (r.source, r.doc_id),
    )
    by_shard: dict[str, int] = {}
    for r in out:
        assert 0 <= r.chunk_offset < ctx
        cum = by_shard.get(r.source, 0)
        assert r.chunk_id == cum // ctx
        assert r.chunk_offset == cum % ctx
        by_shard[r.source] = cum + r.n_tokens


def test_simhash_max_tokens_cap(spark):
    from skoltexter_by_ai_spark.operators.dedup import simhash64

    long_text = " ".join(f"w{i}" for i in range(300))
    df = spark.createDataFrame(
        [(1, long_text), (2, " ".join(long_text.split()[:100]))],
        ["doc_id", "text"],
    )
    capped = {r.doc_id: r.simhash for r in simhash64(df, "doc_id", "text", max_tokens=100).collect()}
    # Doc 1 capped to its first 100 tokens == doc 2's full text.
    assert capped[1] == capped[2]
    full = {r.doc_id: r.simhash for r in simhash64(df, "doc_id", "text").collect()}
    assert full[1] != capped[1]  # the cap actually changed the input set


def test_simhash_max_tokens_validation(spark):
    import pytest

    from skoltexter_by_ai_spark.operators.dedup import SIMHASH_MAX_TOKENS, simhash64

    df = spark.createDataFrame([(1, "a b")], ["doc_id", "text"])
    with pytest.raises(ValueError):
        simhash64(df, "doc_id", "text", max_tokens=0)
    with pytest.raises(ValueError):
        simhash64(df, "doc_id", "text", max_tokens=SIMHASH_MAX_TOKENS + 1)


def test_chunk_documents_invariants(spark):
    from skoltexter_by_ai_spark.operators.text_analysis import chunk_documents

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"t{i}" for i in range(70))),  # 70 tokens -> 3 chunks
            (2, "a b c"),                               # shorter than one window
            (3, " ".join(f"w{i}" for i in range(32))),  # exactly one window
        ],
        "doc_id long, text string",
    )
    out = chunk_documents(docs, chunk_tokens=32, stride=24)
    rows = sorted(
        [(r.doc_id, r.chunk_id, r.n_chunk_tokens, r.chunk_text) for r in out.collect()]
    )
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r[0], []).append(r)
    # 70 tokens, window 32, stride 24 -> chunks at 0/24/48 (last is 22 long).
    assert [r[1] for r in by_doc[1]] == [0, 1, 2]
    assert [r[2] for r in by_doc[1]] == [32, 32, 22]
    assert by_doc[2] == [(2, 0, 3, "a b c")]
    assert [r[2] for r in by_doc[3]] == [32]
    # Coverage: concatenating chunks at stride offsets reconstructs the
    # token stream (every token is in at least one chunk).
    toks = [f"t{i}" for i in range(70)]
    for doc_id, chunk_id, n, text in by_doc[1]:
        assert text.split() == toks[chunk_id * 24 : chunk_id * 24 + 32]


def test_cluster_aware_split_never_splits_a_cluster(spark, sf_dir):
    from skoltexter_by_ai_spark.plans.registry import all_queries

    out = all_queries()["x89_cluster_aware_split"].builder(spark, sf_dir)
    from pyspark.sql import functions as F

    leaky = (
        out.groupBy("cluster")
        .agg(F.countDistinct("split").alias("n_splits"))
        .filter(F.col("n_splits") > 1)
    )
    assert leaky.count() == 0
    # And the split is non-degenerate: more than one split value used.
    assert out.select("split").distinct().count() >= 2


def test_token_vocabulary_counts_rank_and_coverage(spark):
    from skoltexter_by_ai_spark.operators.text_analysis import token_vocabulary

    df = spark.createDataFrame(
        [(1, "a a b"), (2, "a c"), (3, "  ")],
        "doc_id long, text string",
    )
    rows = {r.token: r for r in token_vocabulary(df, "doc_id", "text").collect()}
    assert rows["a"].tf == 3 and rows["a"].df == 2 and rows["a"].rank == 1
    assert rows["b"].tf == 1 and rows["b"].df == 1
    assert rows["c"].tf == 1 and rows["c"].df == 1
    # b/c tie on tf -> token tie-break: b rank 2, c rank 3.
    assert rows["b"].rank == 2 and rows["c"].rank == 3
    assert rows["a"].cum_share == 0.6
    assert rows["c"].cum_share == 1.0
    # The all-whitespace doc contributes no tokens at all.
    assert sum(r.tf for r in rows.values()) == 5


def test_token_vocabulary_min_tf_cut_keeps_full_denominator(spark):
    from skoltexter_by_ai_spark.operators.text_analysis import token_vocabulary

    df = spark.createDataFrame(
        [(1, "a a b"), (2, "a c")],
        "doc_id long, text string",
    )
    rows = {
        r.token: r
        for r in token_vocabulary(df, "doc_id", "text", min_tf=2).collect()
    }
    # Only 'a' (tf=3) survives the cut; b/c (tf=1) are dropped.
    assert set(rows) == {"a"}
    assert rows["a"].rank == 1
    # cum_share keeps the FULL corpus denominator (5 tokens), so the
    # curve still reads "rank-1 vocabulary covers 60% of the corpus".
    assert rows["a"].cum_share == 0.6
    import pytest

    with pytest.raises(ValueError, match="min_tf"):
        token_vocabulary(df, "doc_id", "text", min_tf=0)


def test_token_vocabulary_multi_range_partitions_match_single(spark):
    """The two-phase rank/prefix-sum must be partitioning-invariant:
    many range partitions produce exactly the single-partition result
    (offsets credited to the right ranges)."""
    from skoltexter_by_ai_spark.operators.text_analysis import token_vocabulary

    data = [(i, f"tok{i % 7} tok{i % 3} common") for i in range(200)]
    df = spark.createDataFrame(data, "doc_id long, text string")
    one = sorted(
        token_vocabulary(df, "doc_id", "text", num_ranges=1).collect(),
        key=lambda r: r.rank,
    )
    many = sorted(
        token_vocabulary(df, "doc_id", "text", num_ranges=8).collect(),
        key=lambda r: r.rank,
    )
    assert [tuple(r) for r in one] == [tuple(r) for r in many]
    # Ranks are a contiguous 1..n sequence and cum_share ends at 1.0.
    assert [r.rank for r in many] == list(range(1, len(many) + 1))
    assert many[-1].cum_share == 1.0


def test_bigram_pmi_exact_value(spark):
    import math

    from skoltexter_by_ai_spark.operators.text_analysis import bigram_pmi

    # Corpus: "a b" x3 and "a c" x1 -> bigrams: (a,b) x3, (a,c) x1.
    df = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "a b"), (4, "a c")],
        "doc_id long, text string",
    )
    out = {(r.tok_a, r.tok_b): r for r in bigram_pmi(df, "doc_id", "text", min_count=1).collect()}
    assert set(out) == {("a", "b"), ("a", "c")}
    r = out[("a", "b")]
    assert r.pair_count == 3
    # N_bigrams=4, N_tokens=8, c_a=4, c_b=3:
    # pmi = ln((3/4) / ((4/8)*(3/8))) = ln(4)
    assert r.pmi == round(math.log(4.0), 6)
    assert out[("a", "c")].pmi == round(math.log((1 / 4) / ((4 / 8) * (1 / 8))), 6)


def test_boilerplate_share_exact_values(spark):
    from skoltexter_by_ai_spark.operators.text_analysis import boilerplate_share

    # n=2 shingles: doc1 {a b, b c}, doc2 {a b, b d}, doc3 {x y},
    # doc4 has one token -> no shingles. Only "a b" occurs in >= 2
    # docs, so doc1 and doc2 each have share 1/2.
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b d"), (3, "x y"), (4, "solo")],
        "doc_id long, text string",
    )
    rows = {
        r.doc_id: r
        for r in boilerplate_share(df, "doc_id", "text", n=2, min_df=2).collect()
    }
    assert rows[1].n_shingles == 2 and rows[1].boilerplate_share == 0.5
    assert rows[2].n_shingles == 2 and rows[2].boilerplate_share == 0.5
    assert rows[3].n_shingles == 1 and rows[3].boilerplate_share == 0.0
    # Shingle-less doc survives with zero share, not a dropped row.
    assert rows[4].n_shingles == 0 and rows[4].boilerplate_share == 0.0

    import pytest

    with pytest.raises(ValueError, match="min_df"):
        boilerplate_share(df, "doc_id", "text", min_df=0)


def test_source_shingle_overlap_exact(spark):
    from skoltexter_by_ai_spark.operators.text_analysis import source_shingle_overlap

    # s1 {a b, b c}; s2 {a b, b d}; s3 {z z} (disjoint from both).
    df = spark.createDataFrame(
        [
            (1, "s1", "a b c"),
            (2, "s2", "a b d"),
            (3, "s2", "a b"),
            (4, "s3", "z z z"),
        ],
        "doc_id long, source string, text string",
    )
    rows = {
        (r.source_a, r.source_b): r
        for r in source_shingle_overlap(df, "source", "text", n=2).collect()
    }
    # Only the sharing pair appears; s3 shares nothing.
    assert set(rows) == {("s1", "s2")}
    r = rows[("s1", "s2")]
    assert r.n_common == 1 and r.n_a == 2 and r.n_b == 2
    assert r.jaccard == round(1 / 3, 6)


def test_source_token_divergence_exact(spark):
    import math

    from skoltexter_by_ai_spark.operators.text_analysis import source_token_divergence

    # s1: tokens {a:2, b:1} (n=3); s2: {b:2} (n=2).
    # Corpus: {a:2, b:3}, N=5 -> q_a=0.4, q_b=0.6.
    df = spark.createDataFrame(
        [(1, "s1", "a a b"), (2, "s2", "b b")],
        "doc_id long, source string, text string",
    )
    rows = {
        r.source: r for r in source_token_divergence(df, "source", "text").collect()
    }
    r1, r2 = rows["s1"], rows["s2"]
    assert r1.n_tokens == 3 and r1.vocab_size == 2
    assert r2.n_tokens == 2 and r2.vocab_size == 1
    e1 = -(2 / 3 * math.log(2 / 3) + 1 / 3 * math.log(1 / 3))
    kl1 = 2 / 3 * math.log((2 / 3) / 0.4) + 1 / 3 * math.log((1 / 3) / 0.6)
    assert r1.entropy == round(e1, 6) and r1.kl_corpus == round(kl1, 6)
    # A single-token source has zero entropy; its KL is ln(1/q_b).
    assert r2.entropy == -0.0 or r2.entropy == 0.0
    assert r2.kl_corpus == round(math.log(1 / 0.6), 6)


def test_curation_funnel_exact(spark):
    from skoltexter_by_ai_spark.operators.text_analysis import curation_funnel

    # d1: 12 en tokens with stopwords -> survives every gate.
    # d2: too short (3 tokens) -> dies at the length gate.
    # d3: right length but lang=de -> dies at the language gate.
    good = "the cat and the dog ran to the park for a while"
    df = spark.createDataFrame(
        [
            (1, "s1", "en", good),
            (2, "s1", "en", "too short here"),
            (3, "s1", "de", good),
        ],
        "doc_id long, source string, lang string, text string",
    )
    r = curation_funnel(df, "source", "text", lang_col="lang").collect()[0]
    assert r.n_docs == 3
    assert r.n_len_ok == 2  # d1 + d3 pass the length band
    assert r.n_lang_ok == 1  # d3 dies on lang
    assert r.n_kept == 1  # d1's quality: len 1.0, stopwords saturate
    assert r.tokens_in == 12 + 3 + 12
    assert r.tokens_kept == 12
    assert r.keep_rate == round(1 / 3, 6)


def test_curation_funnel_no_lang_gate(spark):
    from skoltexter_by_ai_spark.operators.text_analysis import curation_funnel

    good = "the cat and the dog ran to the park for a while"
    df = spark.createDataFrame(
        [(1, "s1", "de", good)], "doc_id long, source string, lang string, text string"
    )
    r = curation_funnel(df, "source", "text").collect()[0]
    assert r.n_lang_ok == 1 and r.n_kept == 1  # lang gate skipped


def _ref_bpe(word_counts, n_merges, end="</w>"):
    """Pure-Python classic BPE (the exact algorithm, driver-side)."""
    words = {tuple(list(w) + [end]): c for w, c in word_counts.items()}
    merges = []
    for _ in range(n_merges):
        pc = {}
        for sym, c in words.items():
            for a, b in zip(sym, sym[1:]):
                pc[(a, b)] = pc.get((a, b), 0) + c
        if not pc:
            break
        (l, r), cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        merges.append((l, r, cnt))
        new = {}
        for sym, c in words.items():
            out = []
            for s in sym:
                if out and out[-1] == l and s == r:
                    out[-1] = l + r
                else:
                    out.append(s)
            t = tuple(out)
            new[t] = new.get(t, 0) + c
        words = new
    return merges


def test_learn_bpe_merges_matches_reference_exactly(spark):
    from skoltexter_by_ai_spark.operators.text_analysis import learn_bpe_merges

    df = spark.createDataFrame(
        [(1, "low low low lower lower lowest"), (2, "new newer newest new new")],
        "doc_id long, text string",
    )
    counts = {}
    for _, t in df.collect():
        for w in t.split():
            counts[w] = counts.get(w, 0) + 1
    expect = _ref_bpe(counts, 8)
    got = learn_bpe_merges(df, "text", 8)
    assert got == expect


def test_learn_bpe_merges_matches_reference_on_fixture(spark):
    from skoltexter_by_ai_spark.operators.text_analysis import learn_bpe_merges
    from skoltexter_by_ai_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    counts = {}
    for r in docs.select("text").collect():
        for w in r.text.split():
            counts[w] = counts.get(w, 0) + 1
    expect = _ref_bpe(counts, 6)
    got = learn_bpe_merges(docs, "text", 6)
    assert len(got) == 6 and got == expect


def test_intra_doc_repetition_exact_hand_values(spark):
    """Gopher-rule duplicate-bigram fraction, positional semantics:
    'a b a b a' has 4 bigram positions over 2 distinct bigrams."""
    from skoltexter_by_ai_spark.operators.text_analysis import intra_doc_repetition

    df = spark.createDataFrame(
        [(1, "a b a b a"), (2, "x"), (3, "c c c"), (4, "p q r s")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in intra_doc_repetition(df, "doc_id", "text").collect()}
    assert (rows[1].n_ngrams, rows[1].n_distinct, rows[1].dup_share) == (4, 2, 0.5)
    assert (rows[2].n_ngrams, rows[2].n_distinct, rows[2].dup_share) == (0, 0, 0.0)
    assert (rows[3].n_ngrams, rows[3].n_distinct, rows[3].dup_share) == (2, 1, 0.5)
    assert (rows[4].n_ngrams, rows[4].n_distinct, rows[4].dup_share) == (3, 3, 0.0)
    # Trigram mode: 'a b a b a' -> ['a b a','b a b','a b a'] = 3/2.
    tri = {r.doc_id: r for r in intra_doc_repetition(df, "doc_id", "text", n=3).collect()}
    assert (tri[1].n_ngrams, tri[1].n_distinct) == (3, 2)
    assert tri[1].dup_share == round(1 / 3, 6)
    import pytest

    with pytest.raises(ValueError, match="n must be"):
        intra_doc_repetition(df, "doc_id", "text", n=0)


def test_quality_score_exact_hand_values(spark):
    """Pin the three-band arithmetic exactly (mutation gate r7: the
    punct term's sign survived the scoped suite — the oracle sees x08
    but this module's tests must kill it too)."""
    from skoltexter_by_ai_spark.operators.text_analysis import (
        punct_ratio,
        quality_score,
        stopword_ratio,
        token_count,
    )

    # 10 tokens (band 1.0), 4 stopwords of 10 (ratio .4 -> band 1.0),
    # no punctuation (band 1.0) -> exactly 1.0.
    text10 = "the cat is a mat and words more here now"
    assert len(text10.split()) == 10
    got = _eval(spark, quality_score(F.col("v")), text10)
    assert got == round(0.4 * 1.0 + 0.3 * 1.0 + 0.3 * 1.0, 6) == 1.0

    # 3 tokens (band 0.5), 1 stopword of 3, 1 of 11 chars is punct.
    t = "the quick, fox"
    sb = min((1 / 3) * 5.0, 1.0)
    pb = 1.0 - min((1 / len(t)) * 5.0, 1.0)
    assert _eval(spark, quality_score(F.col("v")), t) == round(
        0.4 * 0.5 + 0.3 * sb + 0.3 * pb, 6
    )
    # Empty text: every band zero except punct (1 - 0 = 1).
    assert _eval(spark, quality_score(F.col("v")), "") == round(0.3 * 1.0, 6)
    # Component sanity: ratios themselves are exact.
    assert _eval(spark, stopword_ratio(F.col("v")), t) == 1 / 3
    assert _eval(spark, punct_ratio(F.col("v")), t) == 1 / len(t)
    assert _eval(spark, token_count(F.col("v")), t) == 3


def test_learn_bpe_zero_merges_returns_empty(spark):
    """n_merges=0 is legal (the validation guard is strict <0) and
    returns an empty merge table without running a counting round."""
    from skoltexter_by_ai_spark.operators.text_analysis import learn_bpe_merges

    df = spark.createDataFrame([(1, "ab ab")], "doc_id long, text string")
    so: dict = {}
    assert learn_bpe_merges(df, "text", 0, stats_out=so) == []
    assert so["rounds"] == 0


def test_learn_bpe_batched_equals_classic_and_cuts_rounds(spark):
    """VERDICT r6 item 2: batch_k > 1 must fold several merges per
    counting round — rounds strictly below n_merges on the fixture —
    while producing the BITWISE-identical merge table to classic BPE
    (the batch guard only admits merges provably the argmax of their
    own turn)."""
    from skoltexter_by_ai_spark.operators.text_analysis import learn_bpe_merges
    from skoltexter_by_ai_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    counts = {}
    for r in docs.select("text").collect():
        for w in r.text.split():
            counts[w] = counts.get(w, 0) + 1
    n = 12
    expect = _ref_bpe(counts, n)
    so: dict = {}
    got = learn_bpe_merges(docs, "text", n, batch_k=8, stats_out=so)
    assert got == expect
    assert so["rounds"] < n, f"batching never engaged: {so['rounds']} rounds"


def test_learn_bpe_batched_exact_on_adversarial_corpora(spark):
    """Random corpora over a 3-letter alphabet maximize exactly the
    hazards the batch guard exists for — shared symbols, join-string
    collisions ('ab' merged while 'ab' already exists), and created
    pairs that outrank the round's second candidate. Any unsound
    batching shortcut diverges from classic BPE here."""
    import random

    from skoltexter_by_ai_spark.operators.text_analysis import learn_bpe_merges

    for seed in (1, 2, 3):
        rng = random.Random(seed)
        words = [
            "".join(rng.choice("aab") for _ in range(rng.randint(1, 5)))
            for _ in range(30)
        ]
        text = " ".join(words)
        df = spark.createDataFrame([(1, text)], "doc_id long, text string")
        counts: dict = {}
        for w in text.split():
            counts[w] = counts.get(w, 0) + 1
        expect = _ref_bpe(counts, 10)
        got = learn_bpe_merges(df, "text", 10, batch_k=8)
        assert got == expect, f"seed {seed}: {got} != {expect}"


def test_lang_id_min_hits_boundary_inclusive(spark):
    """A best score EXACTLY at min_hits must classify (>=, not >):
    the one-stopword doc is the common short-text case."""
    from skoltexter_by_ai_spark.operators.text_analysis import lang_id

    # Exactly one English stopword hit, nothing else scores.
    assert _eval(spark, lang_id(F.col("v"), min_hits=1), "the zzz qqq") == "en"
    # Below the floor -> und.
    assert _eval(spark, lang_id(F.col("v"), min_hits=2), "the zzz qqq") == "und"


def test_bpe_select_batch_guard_branches_directly():
    """_bpe_select_batch is pure — pin every guard branch without
    Spark (the corner configurations are hard to reach from a corpus
    but each one protects classic-BPE exactness):
    prefix rule, symbol conflicts, join collisions both directions,
    alias stop, dominance bound from both sides, and the cap."""
    from skoltexter_by_ai_spark.operators.text_analysis import _bpe_select_batch

    def sel(cands, max_end=None, max_start=None, k=8):
        return _bpe_select_batch(cands, max_end or {}, max_start or {}, k)

    # Happy path: disjoint + dominant -> all three fold.
    cands = [("a", "b", 100), ("e", "f", 90), ("i", "j", 80)]
    assert sel(cands) == cands
    # Cap: batch_k=2 stops at exactly two.
    assert sel(cands, k=2) == cands[:2]
    # Prefix rule: a conflicting second candidate ends the batch even
    # though the third would qualify — no skipping.
    assert sel([("a", "b", 100), ("b", "c", 90), ("e", "f", 80)]) == [("a", "b", 100)]
    assert sel([("a", "b", 100), ("c", "a", 90)]) == [("a", "b", 100)]
    # Join collisions, both directions: a later candidate whose SYMBOL
    # equals an earlier join, and a later candidate whose JOIN equals
    # an earlier symbol.
    assert sel([("a", "b", 100), ("ab", "c", 90)]) == [("a", "b", 100)]
    assert sel([("ab", "c", 100), ("a", "b", 90)]) == [("ab", "c", 100)]
    # Identical joins from different splits ("a"+"bc" vs "ab"+"c").
    assert sel([("a", "bc", 100), ("ab", "c", 90)]) == [("a", "bc", 100)]
    # Alias stop: m1's join already exists in the pair alphabet.
    assert sel([("a", "b", 100), ("e", "f", 90)], max_start={"ab": 5}) == [
        ("a", "b", 100)
    ]
    assert sel([("a", "b", 100), ("e", "f", 90)], max_end={"ab": 5}) == [
        ("a", "b", 100)
    ]
    # Dominance bound, each side and strictness: a pair created by m1
    # is bounded by max_end[l1] / max_start[r1]; the next member must
    # STRICTLY beat it.
    assert sel([("a", "b", 100), ("e", "f", 90)], max_end={"a": 95}) == [
        ("a", "b", 100)
    ]
    assert sel([("a", "b", 100), ("e", "f", 90)], max_start={"b": 95}) == [
        ("a", "b", 100)
    ]
    assert sel([("a", "b", 100), ("e", "f", 90)], max_end={"a": 90}) == [
        ("a", "b", 100)
    ]  # equal is NOT strictly greater
    two = [("a", "b", 100), ("e", "f", 90)]
    assert sel(two, max_end={"a": 80}, max_start={"b": 85}) == two
    # The bound accumulates across members: m2's adjacency maxima
    # gate m3 too.
    assert sel(
        [("a", "b", 100), ("e", "f", 90), ("i", "j", 80)],
        max_start={"f": 85},
    ) == [("a", "b", 100), ("e", "f", 90)]
    # Absent adjacency maxima mean bound 0, not a silent floor: a
    # count-1 second member is admissible when m1 creates nothing
    # (no pair ends at l1 or starts at r1).
    low = [("a", "b", 2), ("e", "f", 1)]
    assert sel(low) == low
    # The bound keys are (max_end[l1], max_start[r1]) — never the
    # swapped lookup.
    assert sel(
        [("a", "b", 10), ("e", "f", 6)], max_end={"b": 9}, max_start={"a": 9}
    ) == [("a", "b", 10), ("e", "f", 6)]


def test_learn_bpe_batch_stops_at_dominance_bound(spark):
    """The round-start dominance bound must REJECT a second batch
    member whose count does not strictly beat the best pair adjacent
    to m1's symbols: here classic BPE's second merge is (ab, c) — a
    pair CREATED by the first merge — so admitting (e, f) into m1's
    batch would emit the wrong merge table."""
    from skoltexter_by_ai_spark.operators.text_analysis import learn_bpe_merges

    text = " ".join(["abc"] * 6 + ["abd"] * 5 + ["efg"] * 3 + ["efh"] * 3)
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    so: dict = {}
    got = learn_bpe_merges(df, "text", 2, batch_k=2, stats_out=so)
    assert [(l, r, c) for l, r, c in got] == [("a", "b", 11), ("ab", "c", 6)]
    assert so["rounds"] == 2  # the batch correctly refused to fold (e,f)


def test_learn_bpe_batch_cap_and_multi_member_round(spark):
    """Three symbol-disjoint families with steeply separated counts
    force a genuine multi-merge batch: batch_k=3 must learn all three
    in ONE counting round, and batch_k=2 must stop the batch at
    exactly two (the cap is part of the exactness contract — an
    overshoot would return more merges than n_merges)."""
    from skoltexter_by_ai_spark.operators.text_analysis import learn_bpe_merges

    text = " ".join(
        ["abc"] * 10 + ["abd"] * 10 + ["efg"] * 8 + ["efh"] * 8 + ["ijk"] * 7 + ["ijl"] * 7
    )
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    so: dict = {}
    got = learn_bpe_merges(df, "text", 3, batch_k=3, stats_out=so)
    assert [(l, r, c) for l, r, c in got] == [("a", "b", 20), ("e", "f", 16), ("i", "j", 14)]
    assert so["rounds"] == 1
    so = {}
    got2 = learn_bpe_merges(df, "text", 2, batch_k=2, stats_out=so)
    assert len(got2) == 2 and got2 == got[:2]


def test_learn_bpe_merges_validates_and_handles_exhaustion(spark):
    from skoltexter_by_ai_spark.operators.text_analysis import learn_bpe_merges

    df = spark.createDataFrame([(1, "ab")], "doc_id long, text string")
    with pytest.raises(ValueError, match="n_merges"):
        learn_bpe_merges(df, "text", -1)
    with pytest.raises(ValueError, match="batch_k"):
        learn_bpe_merges(df, "text", 2, batch_k=0)
    # "ab</w>" has 2 mergeable pairs; asking for more stops early.
    # batch_k=1 is LEGAL (the classic equality-test mode, strict <1
    # guard) and must run the plain loop, not raise.
    got = learn_bpe_merges(df, "text", 10, batch_k=1)
    assert [m[:2] for m in got] == [("a", "b"), ("ab", "</w>")]


def test_bpe_segment_matches_in_order_application(spark):
    from skoltexter_by_ai_spark.operators.text_analysis import (
        bpe_segment,
        learn_bpe_merges,
    )

    df = spark.createDataFrame(
        [(1, "low low low lower lower lowest"), (2, "new newer newest new low")],
        "doc_id long, text string",
    )
    merges = learn_bpe_merges(df, "text", 8)

    def apply_in_order(text):
        out = []
        for w in text.split():
            sym = list(w) + ["</w>"]
            for l, r, _ in merges:
                i, new = 0, []
                while i < len(sym):
                    if i + 1 < len(sym) and sym[i] == l and sym[i + 1] == r:
                        new.append(l + r)
                        i += 2
                    else:
                        new.append(sym[i])
                        i += 1
                sym = new
            out.extend(sym)
        return out

    got = {r.doc_id: (r.n_pieces, list(r.pieces)) for r in bpe_segment(df, "doc_id", "text", merges).collect()}
    for did, text in df.collect():
        expect = apply_in_order(text)
        assert got[did] == (len(expect), expect), did
    # Learned-vocab accounting really compresses vs characters.
    assert all(n < len(t.replace(" ", "")) for (n, _), (_, t) in zip(got.values(), df.collect()))


def test_bpe_segment_empty_and_unknown_tokens(spark):
    from skoltexter_by_ai_spark.operators.text_analysis import bpe_segment

    df = spark.createDataFrame([(1, ""), (2, "zzz")], "doc_id long, text string")
    rows = {r.doc_id: r for r in bpe_segment(df, "doc_id", "text", [("a", "b", 1)]).collect()}
    assert rows[1].n_pieces == 0 and list(rows[1].pieces) == []
    # No applicable merge: falls back to characters + end marker.
    assert list(rows[2].pieces) == ["z", "z", "z", "</w>"]


def test_duplicate_spans_positional_and_cross_doc_only(spark):
    from skoltexter_by_ai_spark.operators.text_analysis import duplicate_spans

    # Docs 1 and 2 share the 3-gram "a b c" (cross-doc duplicate).
    # Doc 3 repeats its OWN 3-gram "x y z" twice — self-repetition
    # must not count (distinct-doc frequency is 1). Doc 4 is too short
    # for any 3-gram.
    df = spark.createDataFrame(
        [
            (1, "a b c d"),          # spans: "a b c", "b c d"
            (2, "z a b c"),          # spans: "z a b", "a b c"
            (3, "x y z x y z"),      # spans: x y z, y z x, z x y, x y z
            (4, "q w"),              # no 3-gram
        ],
        "doc_id long, text string",
    )
    rows = {
        r.doc_id: r
        for r in duplicate_spans(df, "doc_id", "text", n=3, min_docs=2).collect()
    }
    assert (rows[1].n_spans, rows[1].n_dup_spans) == (2, 1)
    assert rows[1].dup_share == 0.5
    assert (rows[2].n_spans, rows[2].n_dup_spans) == (2, 1)
    assert (rows[3].n_spans, rows[3].n_dup_spans) == (4, 0)
    assert (rows[4].n_spans, rows[4].n_dup_spans, rows[4].dup_share) == (0, 0, 0.0)

    # Positional counting: a doc containing the shared span TWICE
    # counts both positions.
    df2 = spark.createDataFrame(
        [(1, "a b c q a b c"), (2, "a b c")], "doc_id long, text string"
    )
    r1 = {
        r.doc_id: r
        for r in duplicate_spans(df2, "doc_id", "text", n=3, min_docs=2).collect()
    }[1]
    assert (r1.n_spans, r1.n_dup_spans) == (5, 2)

    with pytest.raises(ValueError, match="n must"):
        duplicate_spans(df, "doc_id", "text", n=0)
    with pytest.raises(ValueError, match="min_docs"):
        duplicate_spans(df, "doc_id", "text", min_docs=0)


def test_vocab_weight_classifier_exact_scores(spark):
    import math

    from skoltexter_by_ai_spark.operators.text_analysis import (
        vocab_weight_classifier,
    )

    w = {"good": 2.0, "bad": -1.0}
    df = spark.createDataFrame(
        [
            (1, "good good bad x"),  # raw = 2*2 - 1 = 3, dl 4 -> s 0.75
            (2, "bad bad"),          # raw = -2, dl 2 -> s -1.0
            (3, "x y"),              # no hits -> s 0.0, prob 0.5, label 1
            (4, ""),                 # tokenless -> s = bias
        ],
        "doc_id long, text string",
    )
    rows = {
        r.doc_id: r
        for r in vocab_weight_classifier(df, "doc_id", "text", w).collect()
    }
    assert rows[1].n_tokens == 4 and rows[1].score == 0.75
    assert rows[1].prob == round(1 / (1 + math.exp(-0.75)), 6)
    assert rows[1].label == 1
    assert rows[2].score == -1.0 and rows[2].label == 0
    assert rows[3].score == 0.0 and rows[3].prob == 0.5 and rows[3].label == 1
    assert rows[4].n_tokens == 0 and rows[4].score == 0.0

    # Bias shifts the tokenless / no-hit score.
    r4 = {
        r.doc_id: r
        for r in vocab_weight_classifier(
            df, "doc_id", "text", w, bias=-0.5
        ).collect()
    }
    assert r4[4].score == -0.5 and r4[4].label == 0
    assert r4[1].score == 0.25

    with pytest.raises(ValueError, match="non-empty"):
        vocab_weight_classifier(df, "doc_id", "text", {})


def test_entropy_signals_hand_values(spark):
    """Hand-computed Shannon entropies: 'aa bb aa' has char counts
    {a:4, ' ':2, b:2} over 8 -> H = 1.039721 nats; its tokens
    {aa:2, bb:1} over 3 -> H = 0.636514. A uniform k-token doc is
    ln(k); empty text is exactly 0.0 (both levels)."""
    import math

    from skoltexter_by_ai_spark.operators.text_analysis import entropy_signals

    df = spark.createDataFrame(
        [(0, "aa bb aa"), (1, "a b c d"), (2, ""), (3, "x")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in entropy_signals(df, "doc_id", "text").collect()}
    assert got[0].n_chars == 8
    assert got[0].char_entropy == round(-(0.5 * math.log(0.5) + 2 * 0.25 * math.log(0.25)), 6)
    assert got[0].token_entropy == round(
        -((2 / 3) * math.log(2 / 3) + (1 / 3) * math.log(1 / 3)), 6
    )
    assert got[1].token_entropy == round(math.log(4), 6)
    assert got[2].n_chars == 0 and got[2].char_entropy == 0.0 and got[2].token_entropy == 0.0
    # single-element distributions must be +0.0, never IEEE -0.0
    assert math.copysign(1.0, got[3].char_entropy) == 1.0
    assert math.copysign(1.0, got[3].token_entropy) == 1.0


def test_entropy_signals_impls_agree(spark):
    """The Arrow-batched default and the pure-expression reference
    form must agree EXACTLY (same sorted-distinct left-fold summation,
    same rounding, same -0.0 normalization) on edge inputs: NULL,
    empty, tab/newline whitespace, non-BMP code points (emoji —
    code-point chars, not UTF-16 units), repeated single tokens."""
    from skoltexter_by_ai_spark.operators.text_analysis import entropy_signals

    rows = [
        (0, None),
        (1, ""),
        (2, "   "),
        (3, "\t aé b\n\nc  d\t"),
        (4, "😀😀 héllo 😀"),
        (5, "x " * 200 + "y"),
        (6, "z"),
        # Unicode whitespace is NOT a token separator in Java/RE2 \s:
        # 'a b' is ONE token on both engines; the Arrow twin must
        # agree (its first version used Python's Unicode \s and split it).
        (7, "a b c d"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = {
        r.doc_id: r
        for r in entropy_signals(df, "doc_id", "text", impl="arrow").collect()
    }
    e = {
        r.doc_id: r
        for r in entropy_signals(df, "doc_id", "text", impl="expr").collect()
    }
    assert set(a) == set(e)
    for k in a:
        assert (a[k].n_chars, a[k].char_entropy, a[k].token_entropy) == (
            e[k].n_chars,
            e[k].char_entropy,
            e[k].token_entropy,
        ), k
    # emoji counts as ONE character on both sides (10 code points:
    # two emoji + space + 5-letter word + space + emoji)
    assert a[4].n_chars == 10
    with pytest.raises(ValueError, match="impl"):
        entropy_signals(df, "doc_id", "text", impl="bogus")


def test_pack_context_len_boundaries(spark):
    """context_len=0 must raise; context_len=1 is legal (one token per
    chunk)."""
    import pytest

    from skoltexter_by_ai_spark.operators.packing import pack_sequences

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="positive"):
        pack_sequences(df, "doc_id", "text", context_len=0)
    out = pack_sequences(df, "doc_id", "text", context_len=1).collect()
    assert len(out) == 1


def test_ngram_novelty_hand_values(spark):
    """Every shingle credits exactly its min-id holder: doc1 owns
    'a b' and 'b c'; doc2 only adds 'c d'; doc3 adds nothing new."""
    from skoltexter_by_ai_spark.operators.text_analysis import ngram_novelty

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "b c d"), (3, "a b"), (4, "x")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in ngram_novelty(df, "doc_id", "text", n=2).collect()}
    assert (rows[1].n_shingles, rows[1].n_novel, rows[1].novel_share) == (2, 2, 1.0)
    assert (rows[2].n_shingles, rows[2].n_novel, rows[2].novel_share) == (2, 1, 0.5)
    assert (rows[3].n_shingles, rows[3].n_novel, rows[3].novel_share) == (1, 0, 0.0)
    assert (rows[4].n_shingles, rows[4].n_novel, rows[4].novel_share) == (0, 0, 0.0)
    # Conservation: every corpus shingle credited exactly once.
    assert sum(r.n_novel for r in rows.values()) == 3
    import pytest

    with pytest.raises(ValueError, match="n must be"):
        ngram_novelty(df, "doc_id", "text", n=0)


def test_remove_duplicate_spans_hand_values(spark):
    """'a b' occurs in docs 1 and 2 -> both positional windows vanish
    from both docs; intra-doc repetition alone (doc 4) never triggers
    removal (min_docs counts DISTINCT documents)."""
    import pytest

    from skoltexter_by_ai_spark.operators.text_analysis import (
        remove_duplicate_spans,
    )

    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "x a b y"), (3, "p q"), (4, "m n m n")],
        "doc_id long, text string",
    )
    rows = {
        r.doc_id: r
        for r in remove_duplicate_spans(df, "doc_id", "text", n=2).collect()
    }
    assert (rows[1].n_tokens, rows[1].n_removed, rows[1].clean_text) == (4, 2, "c d")
    assert (rows[2].n_tokens, rows[2].n_removed, rows[2].clean_text) == (4, 2, "x y")
    assert (rows[3].n_tokens, rows[3].n_removed, rows[3].clean_text) == (2, 0, "p q")
    # 'm n' repeats WITHIN doc 4 only: not a cross-document span.
    assert (rows[4].n_removed, rows[4].clean_text) == (0, "m n m n")

    # Deeper threshold: no 2-gram spans 3 distinct docs -> all intact.
    deep = {
        r.doc_id: r
        for r in remove_duplicate_spans(
            df, "doc_id", "text", n=2, min_docs=3
        ).collect()
    }
    assert all(deep[d].n_removed == 0 for d in (1, 2, 3, 4))
    assert deep[1].clean_text == "a b c d"

    # Full removal leaves the empty string, not NULL.
    dup = spark.createDataFrame(
        [(1, "s t u"), (2, "s t u")], "doc_id long, text string"
    )
    out = {
        r.doc_id: r
        for r in remove_duplicate_spans(dup, "doc_id", "text", n=3).collect()
    }
    assert (out[1].n_removed, out[1].clean_text) == (3, "")

    with pytest.raises(ValueError, match="min_docs must be"):
        remove_duplicate_spans(df, "doc_id", "text", n=2, min_docs=1)
    with pytest.raises(ValueError, match="n must be"):
        remove_duplicate_spans(df, "doc_id", "text", n=0)


def test_remove_duplicate_spans_invariants_random_corpora(spark):
    """Structural invariants on seeded random corpora: the kept tokens
    are exactly the original positions not covered by a cross-document
    n-gram window, n_removed counts those positions, and the removal
    agrees position-for-position with a pure-Python replay."""
    import random

    from skoltexter_by_ai_spark.operators.text_analysis import (
        remove_duplicate_spans,
    )

    rng = random.Random(121)
    vocab = ["a", "b", "c", "d", "e"]
    n = 3
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 12))))
        for i in range(24)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r for r in remove_duplicate_spans(df, "doc_id", "text", n=n).collect()
    }

    toks = {i: t.split() for i, t in rows}
    owner: dict[str, set[int]] = {}
    for i, ts in toks.items():
        for p in range(len(ts) - n + 1):
            owner.setdefault(" ".join(ts[p : p + n]), set()).add(i)
    for i, ts in toks.items():
        rm: set[int] = set()
        for p in range(len(ts) - n + 1):
            if len(owner[" ".join(ts[p : p + n])]) >= 2:
                rm.update(range(p, p + n))
        r = got[i]
        assert r.n_tokens == len(ts)
        assert r.n_removed == len(rm)
        assert r.clean_text == " ".join(
            t for j, t in enumerate(ts) if j not in rm
        ), i


def test_ngram_novelty_conservation_random_corpora(spark):
    """Σ n_novel over the corpus equals the distinct shingle
    vocabulary size, shares stay in [0, 1], and per-doc novelty equals
    a pure-Python first-holder replay."""
    import random

    from skoltexter_by_ai_spark.operators.text_analysis import ngram_novelty

    rng = random.Random(122)
    vocab = ["p", "q", "r", "s"]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 9))))
        for i in range(30)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in ngram_novelty(df, "doc_id", "text", n=2).collect()}

    first: dict[str, int] = {}
    per_doc: dict[int, set[str]] = {}
    for i, t in rows:
        ts = t.split()
        shs = {" ".join(ts[p : p + 2]) for p in range(len(ts) - 1)}
        per_doc[i] = shs
        for s in sorted(shs):
            first.setdefault(s, i)
    assert sum(r.n_novel for r in got.values()) == len(first)
    for i, shs in per_doc.items():
        r = got[i]
        assert r.n_shingles == len(shs)
        assert r.n_novel == sum(1 for s in shs if first[s] == i)
        assert 0.0 <= r.novel_share <= 1.0


def test_round8_operators_null_and_empty_text_edges(spark):
    """NULL and whitespace-only text behave as empty token arrays in
    every round-8 operator: diagnostics report zeros, the span
    transform echoes an empty clean_text, and the LM scorer drops
    token-less docs (it scores tokens, so they have no row)."""
    from skoltexter_by_ai_spark.operators.retrieval import perplexity_buckets
    from skoltexter_by_ai_spark.operators.text_analysis import (
        ngram_novelty,
        remove_duplicate_spans,
    )

    df = spark.createDataFrame(
        [(1, None), (2, "   "), (3, "real words here")],
        "doc_id long, text string",
    )
    nv = {r.doc_id: r for r in ngram_novelty(df, "doc_id", "text", n=2).collect()}
    assert (nv[1].n_shingles, nv[1].novel_share) == (0, 0.0)
    assert (nv[2].n_shingles, nv[2].novel_share) == (0, 0.0)
    assert nv[3].n_novel == 2

    rs = {r.doc_id: r for r in remove_duplicate_spans(df, "doc_id", "text", n=2).collect()}
    assert (rs[1].n_tokens, rs[1].n_removed, rs[1].clean_text) == (0, 0, "")
    assert (rs[2].n_tokens, rs[2].clean_text) == (0, "")
    assert rs[3].clean_text == "real words here"

    pb = {r.doc_id: r.bucket for r in perplexity_buckets(df, "doc_id", "text").collect()}
    assert set(pb) == {3}, "token-less docs have no LM score row"


def test_chunk_documents_default_stride_is_24(spark):
    """The unpinned signature default: a 40-token doc chunks into
    [0..32) and [24..40) at the default stride 24 — the second chunk
    must start at token index 24 and carry 16 tokens."""
    from skoltexter_by_ai_spark.operators.text_analysis import chunk_documents

    text = " ".join(f"t{i}" for i in range(40))
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    rows = {r.chunk_id: r for r in chunk_documents(df, "doc_id", "text").collect()}
    assert set(rows) == {0, 1}
    assert rows[0].n_chunk_tokens == 32 and rows[0].chunk_text.startswith("t0 ")
    assert rows[1].n_chunk_tokens == 16
    assert rows[1].chunk_text.split(" ")[0] == "t24"


def test_boilerplate_share_path_selection_contract(spark):
    """Path selection is part of the contract (the r7 token_vocabulary
    precedent): the DEFAULT must take the rare-shingle counting path
    (min/max-id aggregates, NO per-shingle Window — a hot shingle
    would serialize a window partition at scale); min_df=3 is still
    inside the rare path (<= boundary); min_df=4 takes the generic
    join path, whose values are pinned by hand."""
    from skoltexter_by_ai_spark.operators.text_analysis import boilerplate_share

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b d"), (3, "x y")], "doc_id long, text string"
    )

    def plan(**kw):
        return (
            boilerplate_share(df, "doc_id", "text", n=2, **kw)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )

    p_default = plan()
    assert "Window" not in p_default and "min(doc_id" in p_default, p_default
    p3 = plan(min_df=3)
    assert "Window" not in p3 and "min(doc_id" in p3, p3
    p4 = plan(min_df=4)
    assert "min(doc_id" not in p4 and "Window" not in p4, p4
    # Join-path values: "a b" is in 4 documents (counts at min_df=4),
    # "b c" in 3 (one short of the threshold, must not count).
    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c"), (3, "a b c"), (4, "a b"), (5, "x y"), (6, "z")],
        "doc_id long, text string",
    )
    got = sorted(
        (r.doc_id, r.n_shingles, r.boilerplate_share)
        for r in boilerplate_share(docs, "doc_id", "text", n=2, min_df=4).collect()
    )
    assert got == [
        (1, 3, 0.333333),
        (2, 2, 0.5),
        (3, 2, 0.5),
        (4, 1, 1.0),
        (5, 1, 0.0),
        (6, 0, 0.0),
    ]


def test_bpe_segment_merges_down_to_single_symbol(spark):
    """The merge loop must keep going while TWO symbols remain: a word
    whose final rule fuses the last pair into one piece (here
    'a' + '</w>') must come out as ONE token, not stall at two."""
    from skoltexter_by_ai_spark.operators.text_analysis import bpe_segment

    merges = [("a", "</w>", 1), ("a</w>", "", 2)][:1]
    df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    row = bpe_segment(df, "doc_id", "text", merges).collect()[0]
    assert row.pieces == ["a</w>"] and row.n_pieces == 1
