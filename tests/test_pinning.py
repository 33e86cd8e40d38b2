"""The shared pinning policy (operators/pinning.py): one session setting
switches every pin between the executor-local and the reliable
checkpoint (VERDICT r10 item 2). Every iterative/pinning hot path must
produce IDENTICAL results in both modes and actually write checkpoint
files in reliable mode; no pin or scoped cache may leave a
CacheManager entry behind; and no module outside pinning.py makes a
pinning call of its own."""

from __future__ import annotations

import ast
import gc
import os

import pytest
from pyspark.sql import functions as F

import skoltexter_by_ai_spark
from skoltexter_by_ai_spark.operators import dedup
from skoltexter_by_ai_spark.operators.pinning import cached, pin


def _ckpt_files(root: str) -> list[str]:
    return [
        name
        for r, _, files in os.walk(root)
        for name in files
        if name.startswith("part-")
    ]


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_pin_local_default_matches_input(spark):
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    out = pin(df)
    assert sorted(r.v for r in out.collect()) == sorted(r.v for r in df.collect())


def test_pin_reliable_requires_checkpoint_dir(spark, reliable_mode, monkeypatch):
    # The guard must raise OUR actionable message when no checkpoint
    # dir is configured (a SparkContext cannot unset its dir, so
    # simulate the unset state).
    from pyspark import SparkContext

    reliable_mode()
    monkeypatch.setattr(SparkContext, "getCheckpointDir", lambda self: None)
    with pytest.raises(ValueError, match="setCheckpointDir"):
        pin(spark.range(10))


def test_pin_reliable_writes_files_and_matches(spark, reliable_mode):
    df = spark.range(1000).withColumn("v", F.xxhash64("id"))
    want = sorted(r.v for r in df.collect())
    ckpt = reliable_mode()
    out = pin(df)
    assert sorted(r.v for r in out.collect()) == want
    assert _ckpt_files(ckpt), "reliable pin produced no checkpoint files"


@pytest.mark.parametrize("eager", [True, False])
def test_reliable_pin_leaves_no_cache_entry(spark, reliable_mode, eager):
    """The persist a reliable pin makes so the checkpoint write streams
    from cache must be released by pin itself: left in the
    CacheManager, a later identical plan would silently reuse it."""
    spark.catalog.clearCache()
    ckpt = reliable_mode()
    out = pin(spark.range(1000).withColumn("v", F.xxhash64("id")), eager=eager)
    assert out.count() == 1000
    del out
    gc.collect()
    assert _ckpt_files(ckpt), "reliable pin produced no checkpoint files"
    assert _cache_empty(spark), "reliable pin left a CacheManager entry"


def test_cached_releases_on_error(spark):
    spark.catalog.clearCache()
    df = spark.range(10)
    with pytest.raises(RuntimeError, match="boom"):
        with cached(df) as c:
            assert c.count() == 10
            assert not _cache_empty(spark)
            raise RuntimeError("boom")
    assert _cache_empty(spark)


def _docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "completely different text about spark engines"),
        (4, "the quick brown fox jumps over the lazy dog"),
        (5, "spark engines process completely different text"),
        (6, "a lone document"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_dedup_clusters_reliable_parity(spark, reliable_mode):
    spark.catalog.clearCache()
    # A 12-node path graph next to the small components: its diameter
    # makes the propagation loop run several rounds in both modes.
    path = list(range(101, 113))
    ids = spark.createDataFrame([(i,) for i in [*range(1, 7), *path]], ["doc_id"])
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5), *zip(path, path[1:])], ["id_a", "id_b"]
    )
    want = {r.doc_id: r.cluster for r in dedup.dedup_clusters(ids, pairs, "doc_id").collect()}
    ckpt = reliable_mode()
    got = {r.doc_id: r.cluster for r in dedup.dedup_clusters(ids, pairs, "doc_id").collect()}
    assert got == want == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 6, **{i: 101 for i in path}}
    assert _ckpt_files(ckpt)
    # One reliable checkpoint per propagation round.
    rounds = {r for r, _, files in os.walk(ckpt) if any(f.startswith("part-") for f in files)}
    assert len(rounds) >= 3, rounds
    gc.collect()
    assert _cache_empty(spark), "dedup_clusters left a CacheManager entry"


def test_ngram_jaccard_reliable_parity(spark, reliable_mode):
    def run():
        return sorted(
            (r.id_a, r.id_b, round(r.jaccard, 12))
            for r in dedup.ngram_jaccard_pairs(
                _docs(spark), "doc_id", "text", n=2, max_df=10
            ).collect()
        )

    base = run()
    ckpt = reliable_mode()
    assert run() == base and base
    assert _ckpt_files(ckpt)


def test_robust_zscore_reliable_parity_both_paths(spark, reliable_mode):
    from skoltexter_by_ai_spark.operators.curation import robust_zscore

    rows = [(g, float(v)) for g in ("a", "b") for v in range(1, 30)] + [
        ("a", 1000.0),
        ("c", 5.0),
    ]
    df = spark.createDataFrame(rows, ["g", "v"])
    spark.catalog.clearCache()

    def run(fused):
        return sorted(
            (r.g, r.v, r.grp_median, r.grp_mad, r.robust_z)
            for r in robust_zscore(df, "v", "g", fused=fused).collect()
        )

    want = {fused: run(fused) for fused in (True, False)}
    ckpt = reliable_mode()
    for fused in (True, False):
        assert run(fused) == want[fused] and want[fused]
    assert _ckpt_files(ckpt)
    gc.collect()
    assert _cache_empty(spark), "robust_zscore left a CacheManager entry"


def test_winsorize_reliable_parity(spark, reliable_mode):
    from skoltexter_by_ai_spark.operators.curation import winsorize

    df = spark.createDataFrame(
        [("a", float(v)) for v in range(1, 50)] + [("b", 9.0), ("b", 99.0)], ["g", "v"]
    )

    def run():
        return sorted(
            (r.g, r.v, r.v_w, r.v_lo, r.v_hi) for r in winsorize(df, "v", "g").collect()
        )

    want = run()
    ckpt = reliable_mode()
    assert run() == want and want
    assert _ckpt_files(ckpt)


def test_token_vocabulary_and_divergence_reliable_parity(spark, reliable_mode):
    from skoltexter_by_ai_spark.operators.text_analysis import (
        source_token_divergence,
        token_vocabulary,
    )

    df = _docs(spark).withColumn("src", F.when(F.col("doc_id") <= 3, "x").otherwise("y"))

    def run():
        return (
            sorted(map(tuple, token_vocabulary(df, "doc_id", "text").collect())),
            sorted(map(tuple, source_token_divergence(df, "src", "text").collect())),
        )

    want, dwant = run()
    ckpt = reliable_mode()
    got, dgot = run()
    assert got == want and want
    assert dgot == dwant and dwant
    assert _ckpt_files(ckpt)


def test_learn_bpe_merges_reliable_parity(spark, reliable_mode):
    from skoltexter_by_ai_spark.operators.text_analysis import learn_bpe_merges

    spark.catalog.clearCache()
    df = _docs(spark)
    want = learn_bpe_merges(df, "text", 6, checkpoint_every=2)
    ckpt = reliable_mode()
    got = learn_bpe_merges(df, "text", 6, checkpoint_every=2)
    assert got == want and len(want) == 6
    assert _ckpt_files(ckpt)
    gc.collect()
    assert _cache_empty(spark), "learn_bpe_merges left a CacheManager entry"


def test_distributed_prefix_sum_reliable_parity(spark, reliable_mode):
    from skoltexter_by_ai_spark.operators.skew import distributed_prefix_sum

    df = spark.range(200).select(F.col("id").alias("k"), (F.col("id") % 7).alias("v"))

    def run():
        return sorted(
            (r.k, r.running_total)
            for r in distributed_prefix_sum(df, ["k"], "v").collect()
        )

    want = run()
    ckpt = reliable_mode()
    assert run() == want and want
    assert _ckpt_files(ckpt)


def test_incremental_near_dups_leaves_no_cache_entry(spark):
    """The incremental screen reads its candidate set once, so it caches
    nothing: two runs in one session leave the CacheManager empty (a
    cache surviving the first run would also be silently reused by the
    second)."""
    spark.catalog.clearCache()
    existing = _docs(spark)
    incoming = spark.createDataFrame(
        [(11, "the quick brown fox jumps over the lazy dog")], ["doc_id", "text"]
    )

    def run():
        out = dedup.incremental_near_dups(existing, incoming, "doc_id", "text")
        return sorted(map(tuple, out.collect()))

    first = run()
    assert run() == first and first
    gc.collect()
    assert _cache_empty(spark), "incremental_near_dups left a CacheManager entry"


# --- pin-idiom census ---------------------------------------------------------

_PKG_DIR = os.path.dirname(os.path.abspath(skoltexter_by_ai_spark.__file__))
_PIN_CALLS = {"persist", "unpersist", "localCheckpoint", "checkpoint"}
_PINNING = os.path.join("operators", "pinning.py")


def _pin_call_sites() -> set[tuple[str, str, str]]:
    sites: set[tuple[str, str, str]] = set()
    for root, _, files in os.walk(_PKG_DIR):
        for fname in sorted(files):
            if not fname.endswith(".py"):
                continue
            rel = os.path.relpath(os.path.join(root, fname), _PKG_DIR)
            if rel == _PINNING:
                continue
            with open(os.path.join(root, fname)) as fh:
                tree = ast.parse(fh.read())
            funcs = [
                (n.name, n.lineno, n.end_lineno or n.lineno)
                for n in tree.body
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
            ]
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in _PIN_CALLS
                ):
                    enclosing = next(
                        (f for f, lo, hi in funcs if lo <= node.lineno <= hi),
                        "<module>",
                    )
                    sites.add((rel, enclosing, node.func.attr))
    return sites


def test_pinning_calls_live_only_in_pinning_module():
    sites = _pin_call_sites()
    assert not sites, (
        f"raw persist/unpersist/localCheckpoint/checkpoint calls outside "
        f"operators/pinning.py: {sorted(sites)}. Use pinning.pin (truncate "
        "lineage; honours the session's reliable-checkpoint setting) or "
        "pinning.cached (scoped cache released on every exit)."
    )
