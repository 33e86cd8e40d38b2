"""Unit tests for dedup operators not covered by the DuckDB oracle."""

from __future__ import annotations

import itertools

from pyspark.sql import functions as F

from skoltexter_by_ai_spark.operators import dedup


def _docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),  # near-dup of 1
        (3, "completely different words entirely here now"),
        (4, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (5, ""),  # empty doc must not crash or match
        (6, "one"),  # fewer tokens than shingle width
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup_keeps_first(spark):
    df = _docs(spark).withColumn("key", dedup.normalized_text("text"))
    kept = dedup.exact_dedup(df, "key", "doc_id")
    ids = sorted(r.doc_id for r in kept.collect())
    # doc 4 (dup of 1) must be dropped; first occurrence (1) kept.
    assert ids == [1, 2, 3, 5, 6]


def test_word_shingles_guards_short_and_empty(spark):
    out = (
        _docs(spark)
        .select("doc_id", dedup.word_shingles("text", 2).alias("sh"))
        .orderBy("doc_id")
        .collect()
    )
    by_id = {r.doc_id: r.sh for r in out}
    assert by_id[5] == []  # empty text
    assert by_id[6] == []  # single token, no bigram
    assert "the quick" in by_id[1]


def test_minhash_candidates_find_near_dups(spark):
    cands = dedup.minhash_lsh_candidates(
        _docs(spark), "doc_id", "text", n=2, num_hashes=32, bands=16, seed=42
    ).collect()
    pairs = {(r.id_a, r.id_b) for r in cands}
    # Exact dup pair must always collide in every band.
    assert (1, 4) in pairs
    # Near-dup (8/10 shared bigrams) should collide in some band.
    assert (1, 2) in pairs or (2, 4) in pairs
    # Unrelated doc 3 must not pair with the empty doc 5.
    assert (3, 5) not in pairs


def test_minhash_verify_filters_false_positives(spark):
    out = dedup.minhash_near_dups(
        _docs(spark), "doc_id", "text", n=2, num_hashes=32, bands=16, seed=42, min_jaccard=0.5
    ).collect()
    verified = {(r.id_a, r.id_b): r.jaccard for r in out}
    assert verified[(1, 4)] == 1.0
    for (a, b), j in verified.items():
        assert j >= 0.5


def test_minhash_signature_matches_python_oracle(spark):
    """Signatures must equal per-shingle xxhash64 mins computed independently.

    Regression: a nested-transform formulation (array_min over a
    repeated shingle expression, one transform per hash function)
    mis-resolved under Catalyst and collapsed all hash functions to
    one value, silently gutting LSH recall.
    """
    df = _docs(spark)
    num_hashes, seed = 8, 42
    sig_rows = dedup.minhash_signatures(df, "doc_id", "text", n=2, num_hashes=num_hashes, seed=seed).collect()
    got = {r.doc_id: [r[f"h{j}"] for j in range(num_hashes)] for r in sig_rows}

    # Independent path: flat (doc, shingle) rows -> hash each shingle
    # per seed as a plain column -> min in Python.
    flat = (
        df.select("doc_id", F.explode(dedup.word_shingles("text", 2)).alias("s"))
        .select("doc_id", *[F.xxhash64(F.lit(seed + j), "s").alias(f"x{j}") for j in range(num_hashes)])
        .collect()
    )
    expected: dict[int, list[int]] = {}
    for r in flat:
        mins = expected.setdefault(r.doc_id, [2**63 - 1] * num_hashes)
        for j in range(num_hashes):
            mins[j] = min(mins[j], r[f"x{j}"])
    assert got == expected
    # The hash functions must actually be independent.
    for mins in got.values():
        assert len(set(mins)) > 1


def test_minhash_deterministic_across_runs(spark):
    df = _docs(spark)
    a = sorted(map(tuple, dedup.minhash_lsh_candidates(df, "doc_id", "text", seed=7).collect()))
    b = sorted(map(tuple, dedup.minhash_lsh_candidates(df, "doc_id", "text", seed=7).collect()))
    assert a == b


def test_dedup_clusters_chain_and_isolated(spark):
    ids = spark.createDataFrame([(i,) for i in range(1, 7)], ["doc_id"])
    # 1-2-3 form a chain (transitive closure), 4-5 a pair, 6 isolated.
    pairs = spark.createDataFrame([(1, 2), (2, 3), (4, 5)], ["id_a", "id_b"])
    out = {r.doc_id: r.cluster for r in dedup.dedup_clusters(ids, pairs, "doc_id").collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 6}


def test_dedup_clusters_max_iter_zero_returns_identity(spark):
    # ADVICE r11: max_iter <= 0 must return the identity labeling
    # (every node its own cluster, edge endpoints included), not raise
    # AttributeError from the never-assigned labels frame.
    ids = spark.createDataFrame([(i,) for i in range(1, 4)], ["doc_id"])
    pairs = spark.createDataFrame([(1, 2), (4, 5)], ["id_a", "id_b"])
    out = {
        r.doc_id: r.cluster
        for r in dedup.dedup_clusters(ids, pairs, "doc_id", max_iter=0).collect()
    }
    assert out == {1: 1, 2: 2, 3: 3, 4: 4, 5: 5}


def test_simhash_exact_dups_identical_fingerprint(spark):
    sig = {r.doc_id: r.simhash for r in dedup.simhash64(_docs(spark), "doc_id", "text").collect()}
    assert sig[1] == sig[4]
    assert sig[1] != sig[3]


def test_simhash_near_dups_ranks_by_hamming(spark):
    out = dedup.simhash_near_dups(_docs(spark), "doc_id", "text", max_hamming=6).collect()
    ham = {(r.id_a, r.id_b): r.hamming for r in out}
    assert ham[(1, 4)] == 0  # exact dup
    if (1, 2) in ham and (1, 3) in ham:
        assert ham[(1, 2)] < ham[(1, 3)]


def test_simhash_reliable_checkpoint_same_pairs_and_writes_files(spark, reliable_mode):
    """ADVICE r6: the reliable path must (a) return exactly the pairs
    the default path returns, and (b) actually land checkpoint files —
    the persist()-before-checkpoint combination writes them from cached
    blocks instead of recomputing the signature pipeline."""
    import os

    def run():
        return sorted(
            (r.id_a, r.id_b, r.hamming)
            for r in dedup.simhash_near_dups(
                _docs(spark), "doc_id", "text", max_hamming=6
            ).collect()
        )

    default = run()
    ckpt = reliable_mode()
    reliable = run()
    assert reliable == default and default
    found = [
        name
        for root, _, files in os.walk(ckpt)
        for name in files
        if name.startswith("part-")
    ]
    assert found, "reliable checkpoint produced no files"


def test_ngram_jaccard_exact_values(spark):
    out = dedup.ngram_jaccard_pairs(
        _docs(spark), "doc_id", "text", n=2, max_df=10, min_jaccard=0.3
    ).collect()
    j = {(r.id_a, r.id_b): r.jaccard for r in out}
    assert j[(1, 4)] == 1.0
    # docs 1 and 2 share 7 of 8 distinct bigrams each -> 7/9.
    assert abs(j[(1, 2)] - 7 / 9) < 1e-12


def test_simhash_near_dups_band_scheme_tracks_radius(spark):
    """The banding tier must guarantee recall for the requested radius
    (4x16 single blocks for <=3, C(8,2) block pairs for 4-6); radii
    beyond the pigeonhole tiers raise instead of silently dropping
    pairs."""
    import pytest

    from skoltexter_by_ai_spark.operators.dedup import simhash_near_dups

    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta epsilon")],
        ["doc_id", "text"],
    )
    # Radius 6 (x04's setting) rides the 28-key block-pair tier.
    out = simhash_near_dups(df, "doc_id", "text", max_hamming=6).collect()
    assert all(r.hamming <= 6 for r in out)
    with pytest.raises(ValueError, match="max_hamming"):
        simhash_near_dups(df, "doc_id", "text", max_hamming=7)


def test_simhash_block_pair_banding_full_recall_vs_bruteforce(spark):
    """The 28-key pair banding must find EVERY pair within radius 6 —
    verified against a brute-force popcount over all fingerprints."""
    from itertools import combinations

    from skoltexter_by_ai_spark.operators.dedup import simhash64, simhash_near_dups

    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta"]
    rows = []
    for i in range(24):
        # Overlapping word windows give a spread of hamming distances.
        rows.append((i, " ".join(words[(i + j) % len(words)] for j in range(5))))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    fps = {r.doc_id: r.simhash for r in simhash64(df, "doc_id", "text").collect()}
    mask = (1 << 64) - 1  # fingerprints are signed longs; popcount on 64 bits
    expected = {
        (a, b)
        for a, b in combinations(sorted(fps), 2)
        if bin((fps[a] ^ fps[b]) & mask).count("1") <= 6
    }
    got = {
        (r.id_a, r.id_b)
        for r in simhash_near_dups(df, "doc_id", "text", max_hamming=6).collect()
    }
    assert got == expected


def test_dedup_clusters_bridges_through_missing_endpoints(spark):
    """ADVICE r3: pair endpoints absent from ``ids`` must still bridge
    transitively (and appear in the output), as the pre-pointer-jump
    implementation did."""
    ids = spark.createDataFrame([(1,), (2,), (3,)], ["doc_id"])
    pairs = spark.createDataFrame([(1, 9), (9, 3)], ["id_a", "id_b"])
    out = {r.doc_id: r.cluster for r in dedup.dedup_clusters(ids, pairs, "doc_id").collect()}
    assert out == {1: 1, 2: 2, 3: 1, 9: 1}


# --- round-8 mutation-gate killers (QUALITY.md r8) ----------------------------


def test_spread_is_noop_at_exact_parallelism_floor(spark):
    """_spread repartitions ONLY below min(defaultParallelism, 8)
    input splits; at exactly the floor it must return the input frame
    untouched (>= boundary) — an unconditional repartition would
    shuffle full document text on every well-split corpus."""
    from skoltexter_by_ai_spark.operators.dedup import _spread

    floor = min(spark.sparkContext.defaultParallelism, 8)
    df = spark.range(100).repartition(floor)
    assert _spread(df, None) is df


def test_jaccard_pair_exactly_at_threshold_is_kept(spark):
    """The >= boundary: a pair whose Jaccard equals min_jaccard must
    appear (Gt would silently shave every boundary pair)."""
    from skoltexter_by_ai_spark.operators.dedup import ngram_jaccard_pairs

    # 1-gram shingles: {a b c} vs {a b d} -> |∩|=2, |∪|=4, J = 0.5.
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b d")], "id long, text string"
    )
    out = ngram_jaccard_pairs(df, "id", "text", n=1, min_jaccard=0.5).collect()
    assert [(r.id_a, r.id_b) for r in out] == [(1, 2)]
    assert abs(out[0].jaccard - 0.5) < 1e-12


def test_minhash_defaults_are_the_documented_family(spark):
    """Default (n=2, num_hashes=32, seed=42) must equal the explicit
    call byte-for-byte: persisted signatures from default calls must
    stay joinable with explicitly-parameterized ones, so a silently
    drifted default breaks every incremental dedup pipeline."""
    from skoltexter_by_ai_spark.operators.dedup import minhash_signatures

    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "pack my box with jugs")],
        "id long, text string",
    )
    dflt = minhash_signatures(df, "id", "text").orderBy("id").collect()
    expl = (
        minhash_signatures(df, "id", "text", n=2, num_hashes=32, seed=42)
        .orderBy("id")
        .collect()
    )
    assert dflt == expl
    assert len(dflt[0]) == 1 + 32  # id + num_hashes columns


def test_simhash_single_token_fingerprint_is_the_token_hash(spark):
    """Majority-of-one: a single-token document's SimHash is exactly
    xxhash64(token) — every lane shift, the SWAR mask, and the b%16
    lane decomposition must round-trip each of the 64 bits. Kills any
    mutation of the lane constants (mask, shift counts, lane modulus)."""
    from skoltexter_by_ai_spark.operators.dedup import simhash64

    df = spark.createDataFrame(
        [(i, w) for i, w in enumerate(["alpha", "bravo", "charlie", "Zx9"])],
        "id long, text string",
    )
    got = {r.id: r.simhash for r in simhash64(df, "id", "text").collect()}
    want = {
        r.id: r.h
        for r in df.select("id", F.xxhash64(F.col("text")).alias("h")).collect()
    }
    assert got == want


def test_simhash_max_tokens_one_is_legal(spark):
    """Boundary: max_tokens=1 is inside the documented [1, 65535]
    contract (the fingerprint of the FIRST token only)."""
    from skoltexter_by_ai_spark.operators.dedup import simhash64

    df = spark.createDataFrame([(1, "only first counts")], "id long, text string")
    one = simhash64(df, "id", "text", max_tokens=1).collect()
    first = simhash64(
        spark.createDataFrame([(1, "only")], "id long, text string"), "id", "text"
    ).collect()
    assert one[0].simhash == first[0].simhash


def test_radius4_banding_survives_one_flip_per_16bit_block(spark):
    """Pigeonhole tier boundary: at max_hamming=4 the 4x16-bit banding
    is INSUFFICIENT (4 flips can touch all 4 blocks); the 8-bit
    block-pair tier must engage. Crafted fingerprints differing by
    exactly one bit in each 16-bit block — a radius-4 query that
    stayed on the 16-bit tier would return nothing."""
    from skoltexter_by_ai_spark.operators.dedup import (
        simhash_pairs_from_signatures,
    )

    h = 0x123456789ABCDEF0
    h4 = h ^ (1 | (1 << 16) | (1 << 32) | (1 << 48))
    sig = spark.createDataFrame([(1, h), (2, h4)], "id long, simhash long")
    out = simhash_pairs_from_signatures(sig, "id", max_hamming=4).collect()
    assert [(r.id_a, r.id_b, r.hamming) for r in out] == [(1, 2, 4)]
    # And the 16-bit tier is still correct at its own boundary:
    h3 = h ^ (1 | (1 << 16) | (1 << 32))
    sig3 = spark.createDataFrame([(1, h), (2, h3)], "id long, simhash long")
    out3 = simhash_pairs_from_signatures(sig3, "id", max_hamming=3).collect()
    assert [(r.id_a, r.id_b, r.hamming) for r in out3] == [(1, 2, 3)]


def test_signature_level_radius_bound_is_validated(spark):
    """simhash_pairs_from_signatures enforces the [0, 6] radius bound
    itself — callers with persisted signatures never pass through
    simhash_near_dups' outer check."""
    import pytest

    from skoltexter_by_ai_spark.operators.dedup import simhash_pairs_from_signatures

    sig = spark.createDataFrame([(1, 7)], "id long, simhash long")
    with pytest.raises(ValueError, match="outside"):
        simhash_pairs_from_signatures(sig, "id", max_hamming=7)
    with pytest.raises(ValueError, match="outside"):
        simhash_pairs_from_signatures(sig, "id", max_hamming=-1)


def test_lsh_candidate_and_near_dup_defaults_pinned(spark):
    """minhash_lsh_candidates / minhash_near_dups defaults (n=2,
    num_hashes=32, bands=8, seed=42) must equal the explicit call —
    same persisted-family contract as minhash_signatures."""
    from skoltexter_by_ai_spark.operators.dedup import (
        minhash_lsh_candidates,
        minhash_near_dups,
    )

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "completely unrelated text about spark plans"),
        ],
        "id long, text string",
    )
    cand_d = {(r.id_a, r.id_b) for r in minhash_lsh_candidates(df, "id", "text").collect()}
    cand_e = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_candidates(
            df, "id", "text", n=2, num_hashes=32, bands=8, seed=42
        ).collect()
    }
    assert cand_d == cand_e and cand_d
    nd_d = [tuple(r) for r in minhash_near_dups(df, "id", "text").orderBy("id_a").collect()]
    nd_e = [
        tuple(r)
        for r in minhash_near_dups(
            df, "id", "text", n=2, num_hashes=32, bands=8, seed=42, min_jaccard=0.5
        )
        .orderBy("id_a")
        .collect()
    ]
    assert nd_d == nd_e and nd_d


def test_signature_pairs_default_radius_is_three(spark):
    """Default max_hamming=3: a hamming-4 pair must NOT appear under
    the default (and must under an explicit 4)."""
    from skoltexter_by_ai_spark.operators.dedup import simhash_pairs_from_signatures

    h = 0x0F0F0F0F0F0F0F0F
    h4 = h ^ (0b1111 << 20)  # 4 flips inside one block
    sig = spark.createDataFrame([(1, h), (2, h4)], "id long, simhash long")
    assert simhash_pairs_from_signatures(sig, "id").count() == 0
    assert simhash_pairs_from_signatures(sig, "id", max_hamming=4).count() == 1


def test_radius6_pigeonhole_with_boundary_straddling_flips(spark):
    """Radius-6 stress: six flips placed AT the 8-bit block boundaries
    (bits 7/8, 23/24, 39/40 neighborhoods) dirty the maximum number of
    blocks any block-width drift would — with exact 8-bit blocks two
    clean blocks remain and the pair MUST be found."""
    from skoltexter_by_ai_spark.operators.dedup import simhash_pairs_from_signatures

    h = 0x5A5A5A5A5A5A5A5A
    flips = (1 << 7) | (1 << 8) | (1 << 23) | (1 << 24) | (1 << 39) | (1 << 40)
    sig = spark.createDataFrame([(1, h), (2, h ^ flips)], "id long, simhash long")
    out = simhash_pairs_from_signatures(sig, "id", max_hamming=6).collect()
    assert [(r.id_a, r.id_b, r.hamming) for r in out] == [(1, 2, 6)]


def test_lsh_candidates_default_shingle_width_is_two(spark):
    """Discriminating corpus: 'x y x' and 'y x y' share ALL their
    2-gram shingles (identical signatures -> guaranteed candidate)
    but NO 3-gram shingle — the default n=2 must surface the pair."""
    from skoltexter_by_ai_spark.operators.dedup import minhash_lsh_candidates

    df = spark.createDataFrame([(1, "x y x"), (2, "y x y")], "id long, text string")
    got = [(r.id_a, r.id_b) for r in minhash_lsh_candidates(df, "id", "text").collect()]
    assert got == [(1, 2)]


def test_incremental_near_dups_hand_fixture(spark):
    """Planted: incoming doc 100 is a near-copy of existing doc 1
    (J=2/3 on bigrams with n=2... computed below); incoming doc 200
    matches nothing; an id present on BOTH sides never self-pairs."""
    from skoltexter_by_ai_spark.operators.dedup import (
        incremental_near_dups,
        word_shingles,
    )

    existing = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "one two three four five six seven"),
            (3, "p q r s t u v w"),
        ],
        "doc_id long, text string",
    )
    incoming = spark.createDataFrame(
        [
            (100, "alpha beta gamma delta epsilon eta"),  # near-copy of 1
            (200, "totally different words here now"),
            (3, "p q r s t u v w"),  # same id both sides: must not self-pair
        ],
        "doc_id long, text string",
    )
    got = {
        (r.new_id, r.existing_id): r.jaccard
        for r in incremental_near_dups(
            existing, incoming, "doc_id", "text", min_jaccard=0.3
        ).collect()
    }
    # Exact bigram Jaccard of (100, 1): 4 shared of the 6-shingle union -> 4/6.
    a = {"alpha beta", "beta gamma", "gamma delta", "delta epsilon", "epsilon zeta"}
    b = {"alpha beta", "beta gamma", "gamma delta", "delta epsilon", "epsilon eta"}
    expect_j = len(a & b) / len(a | b)
    assert (100, 1) in got and abs(got[(100, 1)] - expect_j) < 1e-9
    assert all(k[0] != 200 for k in got), got
    assert (3, 3) not in got, "identical id on both sides must not self-pair"


def test_incremental_near_dups_broadcasts_incoming_batch(spark):
    """The candidate join must broadcast the (small) incoming batch's
    band buckets — shuffling the existing index to meet a batch is the
    scale bug the operator exists to avoid."""
    from skoltexter_by_ai_spark.operators.dedup import incremental_near_dups

    existing = spark.createDataFrame(
        [(i, f"w{i} w{i+1} w{i+2} w{i+3}") for i in range(20)],
        "doc_id long, text string",
    )
    incoming = spark.createDataFrame(
        [(100, "w1 w2 w3 w4")], "doc_id long, text string"
    )
    df = incremental_near_dups(existing, incoming, "doc_id", "text")
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re

    m = re.search(r"BroadcastHashJoin \[__band[^\n]*", plan)
    assert m, plan
    # The verify stage must prune the corpus to candidate rows BEFORE
    # shingling (ADVICE r8: re-shingling every existing doc per batch
    # defeats the persisted-index posture): a join on existing_id whose
    # broadcast build side is the candidate set (it holds the band
    # join), whose corpus side tokenizes nothing, and whose ancestors
    # include the __sha shingle projection.
    nodes = [
        (len(prefix), node)
        for prefix, node in (
            re.match(r"([\s:+-]*)(.*)", line).groups() for line in plan.splitlines()
        )
    ]
    j = next(
        i
        for i, (_, node) in enumerate(nodes)
        if re.match(
            r"BroadcastHashJoin \[existing_id#\d+L\], \[existing_id#\d+L\], "
            r"Inner, BuildRight",
            node,
        )
    )
    depth = nodes[j][0]
    below = list(itertools.takewhile(lambda dn: dn[0] > depth, nodes[j + 1 :]))
    starts = [i for i, (d, _) in enumerate(below) if d == below[0][0]]
    assert len(starts) == 2, plan
    streamed, build = below[: starts[1]], below[starts[1] :]
    assert build[0][1].startswith("BroadcastExchange"), plan
    assert any(node.startswith("BroadcastHashJoin [__band") for _, node in build), plan
    assert not any("split(" in node for _, node in streamed), plan
    above, d = [], depth
    for dn in reversed(nodes[:j]):
        if dn[0] < d:
            above.append(dn[1])
            d = dn[0]
    assert any(re.search(r"split\(.* AS __sha#", node) for node in above), plan


def test_simhash64_golden_fingerprints(spark):
    """Fingerprints are PERSISTED artifacts (signature tables are
    stored and re-queried, see simhash_pairs_from_signatures), so the
    exact bit pattern is a compatibility contract — any drift silently
    re-fingerprints stored corpora. These goldens also pin the
    majority-vote TIE convention: in 'alpha beta' every bit where the
    two token hashes disagree is an exact 1-vs-1 tie, which must
    resolve to 0 (strict majority, cnt*2 > n), not 1."""
    from skoltexter_by_ai_spark.operators.dedup import simhash64

    df = spark.createDataFrame(
        [(1, "alpha beta"), (2, "alpha"), (3, "alpha beta gamma")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.simhash for r in simhash64(df, "doc_id", "text").collect()}
    assert got == {
        1: 36031307721027073,
        2: 4751868084086861419,
        3: -8970745664593772831,
    }
    # The tie convention, stated structurally: doc 1's fingerprint can
    # only have bits where BOTH tokens' hashes agree on 1 — i.e. it
    # must be the AND of the two singleton fingerprints' shared bits.
    single = {
        r.doc_id: r.simhash
        for r in simhash64(
            spark.createDataFrame(
                [(10, "alpha"), (11, "beta")], "doc_id long, text string"
            ),
            "doc_id",
            "text",
        ).collect()
    }
    assert got[1] == single[10] & single[11]


def test_simhash_radius_zero_is_exact_fingerprint_match(spark):
    """max_hamming=0 is legal (exact-duplicate screen over a persisted
    signature table) and must return exactly the equal-fingerprint
    pairs."""
    from skoltexter_by_ai_spark.operators.dedup import (
        simhash_pairs_from_signatures,
    )

    sig = spark.createDataFrame(
        [(1, 12345), (2, 12345), (3, 99999)], "doc_id long, simhash long"
    )
    got = {(r.id_a, r.id_b) for r in simhash_pairs_from_signatures(sig, "doc_id", 0).collect()}
    assert got == {(1, 2)}


def test_simhash_block_boundary_pair_at_radius_six(spark):
    """Adversarial pigeonhole case for the 8-bit block-pair banding:
    a pair differing at EXACTLY bits {8,16,24,32,40,48} touches blocks
    1..6, leaving only the (0, 7) block pair clean — any drift in the
    block offsets/widths (e.g. 9-bit blocks overlapping the boundary
    bits) loses the one clean pair and misses the match."""
    from skoltexter_by_ai_spark.operators.dedup import (
        simhash_pairs_from_signatures,
    )

    b = sum(1 << k for k in (8, 16, 24, 32, 40, 48))
    sig = spark.createDataFrame([(1, 0), (2, b)], "doc_id long, simhash long")
    at6 = {(r.id_a, r.id_b) for r in simhash_pairs_from_signatures(sig, "doc_id", 6).collect()}
    assert at6 == {(1, 2)}
    at5 = simhash_pairs_from_signatures(sig, "doc_id", 5).collect()
    assert at5 == []  # Hamming distance is exactly 6


def test_jaccard_pairs_max_df_boundary_is_inclusive(spark):
    """max_df is an INCLUSIVE document-frequency cap on the pruned
    pairing index: a shingle shared by exactly max_df docs still
    pairs; one past the cap is pruned. Pinned at max_df=3 with a
    4-doc/3-doc shared-shingle corpus (the same arithmetic all
    registry callers rely on at max_df=20)."""
    from skoltexter_by_ai_spark.operators.dedup import ngram_jaccard_pairs

    rows = [(i, f"common word tail{i}") for i in range(3)]  # df(common word)=3
    rows += [(10 + i, f"busy term fill{i}") for i in range(4)]  # df(busy term)=4
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(df, "doc_id", "text", n=2, max_df=3).collect()
    }
    assert {(0, 1), (0, 2), (1, 2)} <= got
    assert not any(a >= 10 and b >= 10 for a, b in got), got


def test_simhash_near_dups_radius_zero_end_to_end(spark):
    """max_hamming=0 must be legal on the TEXT-level entry point too
    (simhash_near_dups has its own bounds check, separate from the
    signature-level one): identical texts share a fingerprint and are
    the only pair at radius 0."""
    from skoltexter_by_ai_spark.operators.dedup import simhash_near_dups

    df = spark.createDataFrame(
        [
            (1, "same words repeated here exactly alike"),
            (2, "same words repeated here exactly alike"),
            (3, "completely different content on another topic entirely"),
        ],
        "doc_id long, text string",
    )
    got = {(r.id_a, r.id_b) for r in simhash_near_dups(df, "doc_id", "text", max_hamming=0).collect()}
    assert got == {(1, 2)}


def test_max_bucket_guard_drops_only_mega_buckets(spark):
    """The mega-bucket guard: identical boilerplate docs form one giant
    bucket whose all-pairs output is quadratic — with max_bucket they
    vanish from the pairwise output, while a small genuine near-dup
    pair (distinct bucket) is untouched. Applies to both LSH families."""
    from skoltexter_by_ai_spark.operators.dedup import minhash_lsh_candidates

    boiler = [(i, "the same boilerplate text repeated everywhere") for i in range(12)]
    pair = [(100, "a genuinely unique document about gears"),
            (101, "a genuinely unique document about gear")]
    df = spark.createDataFrame(boiler + pair, "doc_id long, text string")

    uncapped = minhash_lsh_candidates(df, "doc_id", "text").collect()
    capped = minhash_lsh_candidates(df, "doc_id", "text", max_bucket=5).collect()
    # uncapped: 12*11/2 boilerplate pairs + the genuine pair
    assert len(uncapped) == 66 + 1
    assert {(r.id_a, r.id_b) for r in capped} == {(100, 101)}

    # simhash leg with crafted signatures (deterministic distances):
    # 12 identical fingerprints = one mega-bucket in every band; ids
    # 100/101 differ by one bit = a genuine radius-1 pair.
    from skoltexter_by_ai_spark.operators.dedup import simhash_pairs_from_signatures

    sig_rows = [(i, 0xDEADBEEF) for i in range(12)] + [(100, 0x55AA), (101, 0x55AB)]
    sig = spark.createDataFrame(sig_rows, "doc_id long, simhash long")
    s_uncapped = simhash_pairs_from_signatures(sig, "doc_id", max_hamming=3).collect()
    assert len(s_uncapped) == 66 + 1
    s_capped = simhash_pairs_from_signatures(
        sig, "doc_id", max_hamming=3, max_bucket=5
    ).collect()
    assert {(r.id_a, r.id_b) for r in s_capped} == {(100, 101)}

    import pytest

    with pytest.raises(ValueError, match="max_bucket"):
        minhash_lsh_candidates(df, "doc_id", "text", max_bucket=0)


def test_exact_jaccard_two_empty_shingle_sets_is_zero(spark):
    """Two shingle-less docs must score jaccard 0.0, never 0/0 (NULL /
    NaN / ANSI divide error) — the guard's > 0 branch (mutation sweep
    r10: the GtE mutant routed empties into the division)."""
    from pyspark.sql import functions as F

    from skoltexter_by_ai_spark.operators.dedup import _exact_jaccard

    df = spark.createDataFrame(
        [([], []), (["a b"], [])],
        "sa array<string>, sb array<string>",
    )
    got = df.select(_exact_jaccard("sa", "sb").alias("j")).collect()
    assert [r.j for r in got] == [0.0, 0.0]


def test_simhash_radius6_pigeonhole_on_block_boundaries(spark):
    """Adversarial recall pin for the 8x8 banding: a hamming-6 pair
    whose flipped bits sit EXACTLY on the 8-bit block boundaries
    (bits 8,16,24,32,40,48). Any OVERLAPPING re-layout of the blocks
    (e.g. width 9 at stride 8) lets those six flips damage seven of
    the eight blocks, leaving no clean ordered pair — the pigeonhole
    guarantee only holds for disjoint blocks, so this input
    discriminates layout mutants the uniform-random fixtures never
    hit. Also pins: a within-block 6-flip pair (found), a hamming-7
    pair (absent by contract)."""
    from skoltexter_by_ai_spark.operators.dedup import simhash_pairs_from_signatures

    base = 0x0123456789ABCDEF
    boundary = base ^ sum(1 << b for b in (8, 16, 24, 32, 40, 48))
    inblock = base ^ 0x3F  # six flips inside block 0
    seven = base ^ 0x7F  # hamming 7: outside the radius
    sig = spark.createDataFrame(
        [(1, base), (2, boundary), (3, inblock), (4, seven)],
        "doc_id long, simhash long",
    )
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_pairs_from_signatures(sig, "doc_id", max_hamming=6).collect()
    }
    assert got[(1, 2)] == 6
    assert got[(1, 3)] == 6
    assert (1, 4) not in got and (4, 1) not in got


def test_dedup_clusters_plan_stays_bounded_on_deep_chain(spark):
    # r11 regression guard: the local-mode loop pins each round's label
    # table with a lineage-TRUNCATING localCheckpoint. A persist-based
    # pin chain nests every prior round's cached plan ~3x per round,
    # and on a deep chain the explain string alone grows exponentially
    # (measured: OOMs a 1 GB vanilla-session driver at diameter 14).
    # A long chain needs several pointer-jumping rounds; the returned
    # frame's plan text must stay flat regardless.
    n = 17
    ids = spark.createDataFrame([(i,) for i in range(1, n + 1)], ["doc_id"])
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, n)], ["id_a", "id_b"]
    )
    out = dedup.dedup_clusters(ids, pairs, "doc_id")
    plan = out._jdf.queryExecution().toString()
    assert len(plan) < 20_000, f"plan text blew up to {len(plan)} chars"
    labels = {r.doc_id: r.cluster for r in out.collect()}
    assert labels == {i: 1 for i in range(1, n + 1)}
