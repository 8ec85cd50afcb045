"""Candidate generation: clique vs anchor modes, singleton pruning,
mega-bucket salting (north_rule skew requirement)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from clann_spark.config import DedupConfig
from clann_spark.operators.candidates import (
    bucket_census,
    candidate_pairs,
    grouped_buckets,
    salted_buckets,
)

CFG = DedupConfig(num_perm=16, bands=4, rows_per_band=4, bucket_cap=10)


def _buckets(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, band_id int, band_hash long")


def test_clique_pairs_within_bucket(spark):
    b = _buckets(spark, [(1, 0, 100), (2, 0, 100), (3, 0, 100), (4, 0, 200)])
    got = {(r["a"], r["b"]) for r in candidate_pairs(b, CFG, "clique").collect()}
    assert got == {(1, 2), (1, 3), (2, 3)}


def test_anchor_pairs_are_spanning(spark):
    b = _buckets(spark, [(1, 0, 100), (2, 0, 100), (3, 0, 100)])
    got = {(r["a"], r["b"]) for r in candidate_pairs(b, CFG, "anchor").collect()}
    assert got == {(1, 2), (1, 3)}  # m-1 edges to the min doc


def test_pairs_deduped_across_bands(spark):
    b = _buckets(spark, [(1, 0, 100), (2, 0, 100), (1, 1, 300), (2, 1, 300)])
    got = candidate_pairs(b, CFG, "clique").collect()
    assert len(got) == 1


def test_singleton_buckets_dropped(spark):
    b = _buckets(spark, [(i, 0, i * 1000) for i in range(10)])
    assert candidate_pairs(b, CFG, "clique").count() == 0
    assert salted_buckets(b, CFG).count() == 0


def test_mega_bucket_salted(spark):
    # 100 docs in ONE bucket, cap=10 -> ~10 salt groups; clique pairs
    # must collapse from C(100,2)=4950 to roughly sum C(|g|,2)
    rows = [(i, 0, 7) for i in range(100)]
    b = _buckets(spark, rows)
    sb = salted_buckets(b, CFG)
    n_groups = sb.select("salt").distinct().count()
    assert n_groups == 10
    sizes = [r["c"] for r in sb.groupBy("salt").agg(F.count("*").alias("c")).collect()]
    assert max(sizes) < 30  # hash-balanced, no group anywhere near 100
    n_pairs = candidate_pairs(b, CFG, "clique").count()
    assert n_pairs < 1500  # vs 4950 unsalted


def test_census(spark):
    # keyed by band_hash alone: the band index is folded into the hash
    # by the signature stage, so a flat key is sufficient (and slimmer)
    b = _buckets(spark, [(1, 0, 100), (2, 0, 100), (3, 1, 200)])
    got = {r["band_hash"]: r["cnt"] for r in bucket_census(b).collect()}
    assert got == {100: 2, 200: 1}


def test_auto_mode_mixes(spark):
    # small bucket (3 docs) -> clique; big bucket (20 docs, thr=5) -> anchor
    rows = [(i, 0, 100) for i in (1, 2, 3)] + [(i, 1, 200) for i in range(10, 30)]
    b = _buckets(spark, rows)
    cfg = DedupConfig(num_perm=16, bands=4, rows_per_band=4, bucket_cap=1000)
    got = {(r["a"], r["b"]) for r in candidate_pairs(b, cfg, "auto", anchor_threshold=5).collect()}
    clique_part = {(1, 2), (1, 3), (2, 3)}
    anchor_part = {(10, i) for i in range(11, 30)}
    assert got == clique_part | anchor_part


def test_doc_twice_in_group_is_one_member(spark):
    # doc 3 lands in bucket 100 from two bands (the embedding-LSH
    # source does not fold the band index into the hash): one member,
    # no (3, 3) self-pair, members sorted by doc_id whatever the order
    rows = [(9, 0, 100, 90), (3, 0, 100, 30), (3, 1, 100, 30), (5, 1, 100, 50), (1, 0, 100, 10)]
    b = spark.createDataFrame(rows, "doc_id long, band_id int, band_hash long, sk long")
    g = grouped_buckets(b, CFG, extra_cols=("sk",)).collect()
    assert len(g) == 1
    assert [(m["doc_id"], m["sk"]) for m in g[0]["ds"]] == [(1, 10), (3, 30), (5, 50), (9, 90)]
    for mode in ("clique", "anchor", "auto"):
        got = {(r["a"], r["b"]) for r in candidate_pairs(b, CFG, mode, anchor_threshold=2).collect()}
        assert all(a < b for a, b in got), (mode, got)
    got = {(r["a"], r["b"]) for r in candidate_pairs(b, CFG, "clique").collect()}
    assert got == {(1, 3), (1, 5), (1, 9), (3, 5), (3, 9), (5, 9)}


def test_auto_mode_mega_bucket_emits_anchor_edges(spark):
    rows = [(i, i % 4, 7) for i in range(1000, 0, -1)]
    cfg = DedupConfig(num_perm=16, bands=4, rows_per_band=4, bucket_cap=2000)
    got = {(r["a"], r["b"]) for r in candidate_pairs(_buckets(spark, rows), cfg, "auto").collect()}
    assert got == {(1, i) for i in range(2, 1001)}


def test_group_collapse_has_no_array_distinct(spark):
    """Struct-array array_distinct compares every element pair
    (O(m^2) per group); the group collapse must stay a hash set."""
    b = spark.createDataFrame(
        [(1, 0, 100, 5), (2, 0, 100, 6)], "doc_id long, band_id int, band_hash long, sk long"
    )
    pairs = candidate_pairs(b, CFG, "auto", sketch_col="sk", hamming_threshold=8)
    plan = pairs._jdf.queryExecution().optimizedPlan().toString()
    assert "collect_set" in plan, plan
    assert "array_distinct" not in plan, plan


def test_run_dedup_auto_mode_releases_all_caches(spark):
    """DedupResult.unpersist() must release every cache the pipeline
    registered — the signatures/candidates/verified stage caches plus
    the verify stage's tracked intermediates (candidate pair list +
    candidate-doc shingle table) — or a long-lived session running many
    pipelines accumulates executor storage per call. Since round 6
    auto-mode pair generation is one fused generator pass, so the
    grouped bucket table is no longer persisted (nothing to leak
    there); the verify intermediates are the wiring under test."""
    from clann_spark.pipeline import run_dedup

    docs = spark.createDataFrame(
        [(i, f"some repeated sentence about topic {i % 7} " * 8) for i in range(60)],
        "doc_id long, text string",
    )
    res = run_dedup(docs, DedupConfig(signature_impl="fast"), pair_mode="auto")
    res.assignments.count()
    # auto mode registers no grouped-table cache anymore (fused pass)
    assert getattr(res.candidates, "_clann_cached", []) == []
    # the verify stage registers its shingle-table intermediate
    tracked = getattr(res.verified, "_clann_cached", [])
    assert tracked, "verify stage should register its intermediates"
    assert any(c.storageLevel.useMemory for c in tracked)
    res.unpersist()
    assert res.verified._clann_cached == []
    for df in (res.signatures, res.candidates, res.verified, *tracked):
        lvl = df.storageLevel
        assert not (lvl.useMemory or lvl.useDisk), df
