"""Checkpoint/lineage/resume (north_rule): kill after stage k, rerun,
committed stages are skipped and the final output is identical."""

from __future__ import annotations

import json
import os

import pytest

from clann_spark.config import DedupConfig
from clann_spark.pipeline import prepare_pages
from clann_spark.sources.pages import make_pages, pages_to_spark
from clann_spark.sources import stages
from clann_spark.sources.stages import run_dedup_checkpointed

CFG = DedupConfig(signature_impl="fast")


@pytest.fixture(scope="module")
def docs(spark):
    pages, _ = pages_to_spark(spark, make_pages(n_base=120, seed=21))
    return prepare_pages(pages).select("doc_id", "text").cache()


def test_full_run_then_resume_skips_everything(spark, docs, tmp_path_factory):
    wd = str(tmp_path_factory.mktemp("ckpt"))
    r1 = run_dedup_checkpointed(spark, docs, CFG, wd)
    assert r1["runner"].executed == [
        "signatures", "buckets", "candidates", "verified", "clusters", "assignments",
    ]
    a1 = {(r["doc_id"], r["cluster_id"]) for r in r1["assignments"].collect()}

    r2 = run_dedup_checkpointed(spark, docs, CFG, wd)
    assert r2["runner"].executed == []
    assert set(r2["runner"].skipped) == set(r1["runner"].executed)
    a2 = {(r["doc_id"], r["cluster_id"]) for r in r2["assignments"].collect()}
    assert a1 == a2


def test_crash_mid_pipeline_resumes_from_checkpoint(
    spark, docs, tmp_path_factory, monkeypatch
):
    wd = str(tmp_path_factory.mktemp("ckpt"))

    # simulate a crash in the real pipeline: the candidates builder
    # dies after signatures and buckets have committed
    import clann_spark.pipeline as pipeline

    def _crash(*args, **kwargs):
        raise RuntimeError("simulated crash")

    with monkeypatch.context() as m:
        m.setattr(pipeline, "candidate_pairs", _crash)
        with pytest.raises(RuntimeError, match="simulated crash"):
            run_dedup_checkpointed(spark, docs, CFG, wd)

    r = run_dedup_checkpointed(spark, docs, CFG, wd)
    assert r["runner"].skipped == ["signatures", "buckets"]
    assert r["runner"].executed == ["candidates", "verified", "clusters", "assignments"]
    assert r["assignments"].count() == docs.count()


def test_config_change_invalidates_checkpoint(
    spark, docs, tmp_path_factory, monkeypatch
):
    wd = str(tmp_path_factory.mktemp("ckpt"))
    run_dedup_checkpointed(spark, docs, CFG, wd)
    r2 = run_dedup_checkpointed(spark, docs, CFG.with_(tau=0.7), wd)
    assert "signatures" in r2["runner"].executed  # fingerprint mismatch -> rebuilt

    # a workdir committed under another stage layout (older code) must
    # rebuild every stage, not resume into the current layout
    wd = str(tmp_path_factory.mktemp("ckpt"))
    with monkeypatch.context() as m:
        m.setattr(stages, "STAGE_LAYOUT_VERSION", stages.STAGE_LAYOUT_VERSION - 1)
        run_dedup_checkpointed(spark, docs, CFG, wd)
    r3 = run_dedup_checkpointed(spark, docs, CFG, wd)
    assert r3["runner"].skipped == []
    assert r3["runner"].executed == [
        "signatures", "buckets", "candidates", "verified", "clusters", "assignments",
    ]


def test_checkpointed_run_matches_run_dedup(spark, docs, tmp_path_factory):
    """Both runs compose the same layer definition: with a prefilter
    tight enough to drop band-collision pairs, the committed
    candidates are the sketch-filtered pairs run_dedup ships, and the
    verify counter compares exactly those."""
    from clann_spark.pipeline import run_dedup

    cfg = CFG.with_(hamming_prefilter=4)
    wd = str(tmp_path_factory.mktemp("ckpt"))
    r = run_dedup_checkpointed(spark, docs, cfg, wd)
    res = run_dedup(docs, cfg, pair_mode="auto")

    def pairs(df):
        return {(row["a"], row["b"]) for row in df.collect()}

    def labels(df):
        return {(row["doc_id"], row["cluster_id"]) for row in df.collect()}

    try:
        assert pairs(r["candidates"]) == pairs(res.candidates)
        assert pairs(r["verified"]) == pairs(res.verified)
        assert labels(r["clusters"]) == labels(res.clusters)
    finally:
        res.unpersist()
    m = {row["stage"]: row for row in r["metrics"].collect()}
    assert m["verified"]["counters"]["comparisons"] == m["candidates"]["rows"]
    # the filter must really bite, or the test proves nothing: the
    # unfiltered pair set is larger
    unfiltered = run_dedup(docs, cfg.with_(hamming_prefilter=None), pair_mode="auto")
    try:
        assert unfiltered.candidates.count() > m["candidates"]["rows"]
    finally:
        unfiltered.unpersist()


def test_lineage_records_per_partition_rows(spark, docs, tmp_path_factory):
    wd = str(tmp_path_factory.mktemp("ckpt"))
    r = run_dedup_checkpointed(spark, docs, CFG, wd)
    with open(os.path.join(wd, "_lineage", "signatures.json")) as f:
        li = json.load(f)
    assert li["rows"] == docs.count()
    assert li["n_files"] == len(li["partitions"]) >= 1
    assert sum(p["rows"] for p in li["partitions"]) == li["rows"]
    m = {row["stage"]: row for row in r["metrics"].collect()}
    assert set(m) == {"signatures", "buckets", "candidates", "verified", "clusters", "assignments"}
    assert all(row["wall_ms"] >= 0 for row in m.values())


def test_metrics_counters_recorded(spark, docs, tmp_path_factory):
    """A7/A8: the verify stage's Observation counters (exact similarity
    comparisons + above-tau pairs) land in lineage and in metrics()."""
    wd = str(tmp_path_factory.mktemp("ckpt"))
    r = run_dedup_checkpointed(spark, docs, CFG, wd)
    m = {row["stage"]: row for row in r["metrics"].collect()}
    c = m["verified"]["counters"]
    n_cands = m["candidates"]["rows"]
    n_verified = m["verified"]["rows"]
    # CFG's prefilter resolves to threshold 25, but it runs inside
    # candidate generation: verify compares every committed candidate
    assert c["comparisons"] == n_cands > 0
    assert c["pairs_verified"] == n_verified > 0
    assert m["signatures"]["counters"] == {}


def test_metrics_csv_sink(spark, docs, tmp_path_factory):
    """S6: the metrics table round-trips through the CSV sink."""
    import glob

    from clann_spark.metrics import write_metrics_csv

    wd = str(tmp_path_factory.mktemp("ckpt"))
    r = run_dedup_checkpointed(spark, docs, CFG, wd)
    out = os.path.join(wd, "metrics_csv")
    write_metrics_csv(r["metrics"].drop("counters"), out)
    files = glob.glob(os.path.join(out, "*.csv"))
    assert len(files) == 1
    back = spark.read.option("header", "true").csv(out)
    assert back.count() == r["metrics"].count()
    assert "stage" in back.columns and "wall_ms" in back.columns


def test_metrics_rollup(spark, docs, tmp_path_factory):
    from clann_spark.metrics import metrics_rollup

    wd = str(tmp_path_factory.mktemp("ckpt"))
    r = run_dedup_checkpointed(spark, docs, CFG, wd)
    row = metrics_rollup(r["metrics"]).collect()[0]
    assert row["n_stages"] == 6
    assert row["comparisons"] > 0 and row["pairs_verified"] > 0
    assert row["total_wall_ms"] > 0


def test_knn_distance_counter(spark, embeddings):
    """A8 accumulator: probe/rescue UDFs count center-distance
    computations."""
    from clann_spark.metrics import CounterSet
    from clann_spark.operators.clustering import fit_partitioner
    from clann_spark.operators.knn import knn_ivf

    emb = embeddings.cache()
    queries = emb.where("vec_id % 50 = 0")
    centers = fit_partitioner(emb, "embedding", id_col="vec_id", k=8)
    counters = CounterSet(spark)
    knn_ivf(queries, emb, centers, k=5, nprobe=2, counters=counters).collect()
    n_q = queries.count()
    # probe pass computes n_q x 8 distances; the rescue pass adds more
    assert counters.totals()["center_dist_computations"] >= n_q * 8


def test_config_file_source(tmp_path_factory):
    """S7: JSON config file -> DedupConfig list."""
    from clann_spark.config import load_configs_from_file

    d = tmp_path_factory.mktemp("cfg")
    p = os.path.join(str(d), "configs.json")
    with open(p, "w") as f:
        json.dump(
            {"configs": [{"tau": 0.7, "signature_impl": "fast"},
                         {"bands": 16, "rows_per_band": 8}]}, f
        )
    cfgs = load_configs_from_file(p)
    assert cfgs[0].tau == 0.7 and cfgs[0].signature_impl == "fast"
    assert cfgs[1].bands == 16 and cfgs[1].num_perm == 128


def test_removed_signature_impls_rejected(tmp_path):
    """Only 'expr' and 'fast' remain; a removed impl name fails at
    config construction, also when it comes from a config file."""
    from clann_spark.config import load_configs_from_file

    for impl in ("pandas", "xxhash"):
        with pytest.raises(ValueError, match="valid: 'expr', 'fast'"):
            DedupConfig(signature_impl=impl)
        p = tmp_path / f"{impl}.json"
        p.write_text(json.dumps({"configs": [{"signature_impl": impl}]}))
        with pytest.raises(ValueError, match=repr(impl)):
            load_configs_from_file(str(p))
    with pytest.raises(ValueError, match="requires signature_impl='fast'"):
        DedupConfig(signature_impl="expr", hash_source="pooled")


def test_different_input_invalidates_checkpoint(spark, docs, tmp_path_factory):
    """Same workdir + same config but a DIFFERENT input table must not
    resume from the previous corpus's committed stages."""
    wd = str(tmp_path_factory.mktemp("ckpt"))
    run_dedup_checkpointed(spark, docs, CFG, wd)
    other_pages, _ = pages_to_spark(spark, make_pages(n_base=80, seed=99))
    other = prepare_pages(other_pages).select("doc_id", "text")
    r2 = run_dedup_checkpointed(spark, other, CFG, wd)
    assert "signatures" in r2["runner"].executed
    assert r2["assignments"].count() == other.count()


def test_upstream_rebuild_cascades_downstream(spark, docs, tmp_path_factory):
    """If an upstream stage's lineage hash changes (a rebuild that
    produced different output), every downstream stage is invalidated."""
    wd = str(tmp_path_factory.mktemp("ckpt"))
    run_dedup_checkpointed(spark, docs, CFG, wd)
    lp = os.path.join(wd, "_lineage", "candidates.json")
    with open(lp) as f:
        li = json.load(f)
    li["lineage_hash"] = "0" * 32  # simulate a divergent upstream rebuild
    with open(lp, "w") as f:
        json.dump(li, f)
    r = run_dedup_checkpointed(spark, docs, CFG, wd)
    assert "signatures" in r["runner"].skipped
    assert "candidates" in r["runner"].skipped  # its own fingerprint still matches
    for downstream in ("verified", "clusters", "assignments"):
        assert downstream in r["runner"].executed, downstream


def test_torn_commit_is_rebuilt(spark, docs, tmp_path_factory):
    """A stage dir without its lineage row (crash between write and
    commit) must be rebuilt, not trusted."""
    wd = str(tmp_path_factory.mktemp("ckpt"))
    run_dedup_checkpointed(spark, docs, CFG, wd)
    os.remove(os.path.join(wd, "_lineage", "candidates.json"))
    r = run_dedup_checkpointed(spark, docs, CFG, wd)
    assert "candidates" in r["runner"].executed
    assert "signatures" in r["runner"].skipped
