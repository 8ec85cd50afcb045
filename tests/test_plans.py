"""Physical-plan audits: the properties that decide 100-TB behavior —
scan column pruning + predicate pushdown, the signature stage staying
narrow (no shuffle), and broadcast vs shuffle join selection — pinned
against .explain() output so a regression is a test failure, not a
production surprise."""

from __future__ import annotations

import pytest

from clann_spark.config import DedupConfig
from clann_spark.operators.signatures import compute_signatures, explode_bands

CFG = DedupConfig(signature_impl="fast")


def _plan(df) -> str:
    # the helper pyspark's own DataFrame.explain() uses
    jvm = df.sparkSession._jvm
    return jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_scan_prunes_columns_and_pushes_filters(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    q = docs.where("doc_id % 2 = 0").where("lang = 'en'").select("doc_id", "text")
    plan = _plan(q)
    # projection reaches the parquet reader: only the needed columns
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "doc_id" in read_schema and "text" in read_schema
    assert "html" not in read_schema and "warc_ts" not in read_schema
    # the literal predicate reaches the scan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln][0]
    assert "lang" in pushed and "IsNotNull" in pushed


def test_signature_stage_is_narrow(spark, sf_dir):
    """On a well-partitioned input (the at-scale case) the signature
    stage must stay shuffle-free. (Pathologically under-split local
    inputs — a single-file parquet scan — get one guard repartition so
    direct callers don't run the whole stage in one task; that exchange
    exists only when input partitions < defaultParallelism.)"""
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .repartition(2 * spark.sparkContext.defaultParallelism)
    )
    sigs = compute_signatures(docs, CFG, include_shingles=False, include_sig=False)
    # the stage adds no Exchange NODE to the input's own (the fixture's
    # repartition); formatted explain prints each node once in the tree
    # and once in the detail section — count tree lines
    n_input = _plan(docs).count("+- Exchange")
    assert n_input == 1
    assert _plan(sigs).count("+- Exchange") == n_input, "signature stage must not shuffle"


def test_candidates_stage_is_one_exchange(spark, sf_dir):
    """Round-5 invariant: census, singleton drop, salting, the group
    collapse AND pair generation all hang off a single
    hashpartitioning(band_hash) exchange — no join of any kind, no
    broadcast, no second shuffle of the bucket table, no driver action
    (candidates.py module docstring). The only other exchange in the
    full candidate plan is the unavoidable cross-band distinct. (The
    round-4 clique SELF-join nominally rode one logical exchange, but
    each join side re-executed it at runtime — AQE stage reuse doesn't
    fire above a cached relation — so the 'one exchange' was written
    2-3x: 720 MB of 790 MB total e2e shuffle at 500k docs.)"""
    from clann_spark.operators.candidates import candidate_pairs, salted_buckets

    def _simple(df) -> str:
        # simple mode keeps each Exchange's partitioning on its own
        # plan line, so node counting works (formatted mode splits the
        # arguments into a detail section)
        jvm = df.sparkSession._jvm
        return jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "simple"
        )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    sigs = compute_signatures(docs, CFG, include_shingles=False, include_sig=False)
    sb = salted_buckets(explode_bands(sigs, CFG), CFG)
    plan = _simple(sb)
    assert "BroadcastExchange" not in plan
    assert plan.count("Exchange hashpartitioning") == 1, plan

    pairs = candidate_pairs(
        explode_bands(sigs, CFG, extra_cols=("simhash",)),
        CFG,
        mode="clique",
        sketch_col="simhash",
        hamming_threshold=CFG.hamming_threshold,
    )
    pplan = _simple(pairs)
    assert "BroadcastExchange" not in pplan
    # pair generation is join-free generators over the grouped arrays
    for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"):
        assert j not in pplan, pplan
    # exactly TWO shuffles exist: the band_hash bucket exchange and the
    # cross-band distinct on (a, b); EnsureRequirements must not insert
    # (band_hash, salt) re-shuffles anywhere
    assert pplan.count("Exchange hashpartitioning") == 2, pplan
    for ln in pplan.splitlines():
        if "Exchange hashpartitioning" in ln and "salt" in ln:
            raise AssertionError(f"redundant salted re-shuffle: {ln}")


def test_candidates_auto_mode_runs_bucket_exchange_once(spark, sf_dir):
    """Runtime pin of the round-5 property: one e2e auto-mode candidate
    materialization writes the bucket-table exchange EXACTLY once, even
    with the signature table cached below it (the configuration where
    AQE stage reuse silently fails and round 4 wrote it 3x). Asserted
    from the Spark status store: total shuffle-WRITE records across the
    query's stages must be ~one bucket-table's worth (docs x bands
    survivor rows + the small distinct), not 2-3x."""
    from clann_spark.operators.candidates import candidate_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    sigs = compute_signatures(
        docs, CFG, include_shingles=False, include_sig=False, drop_text=True
    ).persist()
    sigs.count()
    n_bucket_rows = explode_bands(sigs, CFG).count()

    def _stage_write_records() -> dict[int, int]:
        gw = spark.sparkContext._gateway
        jvm = gw.jvm
        store = spark.sparkContext._jsc.sc().statusStore()
        lst = store.stageList(
            jvm.java.util.ArrayList(),
            False,
            False,
            gw.new_array(jvm.double, 0),
            jvm.java.util.ArrayList(),
        )
        return {
            lst.apply(i).stageId(): int(lst.apply(i).shuffleWriteRecords())
            for i in range(lst.size())
        }

    pre = _stage_write_records()
    cands = candidate_pairs(
        explode_bands(sigs, CFG, extra_cols=("simhash",)),
        CFG,
        mode="auto",
        sketch_col="simhash",
        hamming_threshold=CFG.hamming_threshold,
    )
    n_pairs = cands.count()
    post = _stage_write_records()
    new_writes = sum(v for k, v in post.items() if k not in pre)
    # one bucket-table write (<= n_bucket_rows; singletons still ship,
    # they are dropped after the exchange) + the distinct's pair rows.
    # A second bucket-table write would at least double this.
    assert new_writes <= n_bucket_rows + n_pairs + 1000, (
        f"bucket exchange written more than once: {new_writes} shuffle "
        f"records for {n_bucket_rows} bucket rows / {n_pairs} pairs"
    )
    from clann_spark.session import unpersist_intermediates

    unpersist_intermediates(cands)
    sigs.unpersist()


def test_bruteforce_knn_broadcasts_queries(spark, embeddings):
    from clann_spark.operators.knn import knn_bruteforce

    q = embeddings.where("vec_id % 50 = 0")
    plan = _plan(knn_bruteforce(q, embeddings, k=5))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_shuffle_path_has_no_broadcast_of_pairs(spark):
    """With the gate forced to 0, the verify joins must be shuffle
    joins (SortMergeJoin/ShuffledHashJoin), proving the at-scale plan
    shape exists and is selected."""
    from clann_spark.operators.verify import verify_pairs_from_text

    cfg = CFG.with_(broadcast_limit=0)
    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta number {i} " * 4) for i in range(50)],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame([(1, 2), (3, 4)], "a long, b long")
    plan = _plan(verify_pairs_from_text(pairs, docs, cfg))
    # the pair side must NOT be broadcast (AQE may still broadcast tiny
    # sides at runtime, but the static plan must come from the shuffle
    # family for the gated joins)
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
