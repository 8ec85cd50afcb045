#!/usr/bin/env python
"""Extra measurement harness for the optimization rounds (guide §1).

NOT part of the driver contract — bench.py stays the frozen headline.
This file exists so optimization work can (a) isolate each bench query
with repeats and (b) dump explain("formatted") plans for plans/r06/.
Per-layer attribution of the shipped run_dedup chain is
`python3 perfbench/run.py --trace 1`.

Usage:
  python bench_extra.py --queries [n_reps]       # per-query repeats
  python bench_extra.py --explain OUTDIR SUFFIX  # dump per-query plans
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def _spark():
    from clann_spark.session import get_spark

    return get_spark("bench-extra", master=f"local[{CPUS}]")


def _docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def _bench_query_thunks(spark):
    """The same seven queries bench.py times, with the same actions, as
    (name, setup_fn, timed_fn) tuples. setup_fn runs once untimed."""
    from clann_spark.config import DedupConfig
    from clann_spark.entry_queries import q_knn_cosine_top5
    from clann_spark.operators.candidates import candidate_pairs
    from clann_spark.operators.embedding_lsh import embedding_lsh_pairs
    from clann_spark.operators.signatures import compute_signatures, explode_bands
    from clann_spark.operators.simhash_dedup import simhash_near_pairs
    from clann_spark.operators.verify import verify_pairs
    from clann_spark.planner import plan_hyperplane_banding

    docs = _docs(spark)
    cfg_fast = DedupConfig(signature_impl="fast")
    cfg_oracle = DedupConfig(hamming_prefilter=None)

    def _e2e(cfg):
        from clann_spark.pipeline import dedup_summary, run_dedup

        res = run_dedup(docs, cfg, pair_mode="auto")
        dedup_summary(res).collect()
        res.unpersist()

    # a fresh (non-persisted) signature frame per rep, as bench.py does
    sigs_holder = {}

    def _sigs_setup():
        sigs_holder["df"] = compute_signatures(
            docs, cfg_fast, drop_text=True
        ).persist()

    eplan = plan_hyperplane_banding(0.9, target_recall=0.999, max_bits=1024)
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")

    return [
        ("e2e_dedup", None, lambda: _e2e(cfg_fast)),
        ("e2e_dedup_md5", None, lambda: _e2e(cfg_oracle)),
        ("signatures", None, lambda: compute_signatures(
            docs, cfg_fast, drop_text=True).count()),
        (
            "candidates_verify",
            _sigs_setup,
            lambda: verify_pairs(
                candidate_pairs(
                    explode_bands(sigs_holder["df"], cfg_fast), cfg_fast, "auto"
                ),
                sigs_holder["df"],
                cfg_fast,
            ).count(),
        ),
        ("knn_cosine_top5", None, lambda: q_knn_cosine_top5(spark, SF_DIR).count()),
        (
            "simhash_pairs",
            _sigs_setup,
            lambda: simhash_near_pairs(
                sigs_holder["df"].select("doc_id", "simhash"), max_hamming=4
            ).count(),
        ),
        (
            "embedding_lsh_pairs",
            None,
            lambda: embedding_lsh_pairs(
                emb, tau=0.9, bands=eplan.bands,
                rows_per_band=eplan.rows_per_band, verify_impl="fast",
            ).count(),
        ),
    ]


def run_queries(n_reps: int = 3) -> dict:
    spark = _spark()
    sc = spark.sparkContext
    thunks = _bench_query_thunks(spark)
    # warmup: JIT/Arrow/python-worker init off the first timed rep
    from clann_spark.config import DedupConfig
    from clann_spark.pipeline import dedup_summary, run_dedup

    res = run_dedup(_docs(spark).limit(500), DedupConfig(signature_impl="fast"))
    dedup_summary(res).collect()
    res.unpersist()

    out: dict = {}
    for name, setup, fn in thunks:
        if setup:
            setup()
        walls = []
        for i in range(n_reps):
            spark.catalog.clearCache() if name.startswith("e2e") else None
            sc.setJobDescription(f"{name} rep{i}")
            t0 = time.time()
            fn()
            walls.append(round(time.time() - t0, 3))
        sc.setJobDescription(None)
        walls_sorted = sorted(walls)
        out[name] = {
            "min": walls_sorted[0],
            "med": walls_sorted[len(walls) // 2],
            "all": walls,
        }
        print(json.dumps({name: out[name]}), file=sys.stderr)
    spark.stop()
    return out


def dump_plans(outdir: str, suffix: str) -> None:
    """explain('formatted') for every bench query -> outdir/<q>_<suffix>.txt"""
    from clann_spark.config import DedupConfig
    from clann_spark.entry_queries import q_knn_cosine_top5
    from clann_spark.operators.candidates import candidate_pairs
    from clann_spark.operators.embedding_lsh import embedding_lsh_pairs
    from clann_spark.operators.signatures import compute_signatures, explode_bands
    from clann_spark.operators.simhash_dedup import simhash_near_pairs
    from clann_spark.operators.verify import verify_pairs
    from clann_spark.pipeline import dedup_summary, run_dedup
    from clann_spark.planner import plan_hyperplane_banding

    spark = _spark()
    os.makedirs(outdir, exist_ok=True)
    docs = _docs(spark)
    cfg_fast = DedupConfig(signature_impl="fast")
    cfg_oracle = DedupConfig(hamming_prefilter=None)

    def _plan(df) -> str:
        jvm = df.sparkSession._jvm
        return jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )

    plans: dict = {}
    res_fast = run_dedup(docs, cfg_fast, pair_mode="auto")
    plans["e2e_dedup"] = _plan(dedup_summary(res_fast))
    res_md5 = run_dedup(docs, cfg_oracle, pair_mode="auto")
    plans["e2e_dedup_md5"] = _plan(dedup_summary(res_md5))
    sigs = compute_signatures(docs, cfg_fast, drop_text=True)
    plans["signatures"] = _plan(sigs)
    plans["candidates_verify"] = _plan(
        verify_pairs(
            candidate_pairs(explode_bands(sigs, cfg_fast), cfg_fast, "auto"),
            sigs,
            cfg_fast,
        )
    )
    plans["knn_cosine_top5"] = _plan(q_knn_cosine_top5(spark, SF_DIR))
    plans["simhash_pairs"] = _plan(
        simhash_near_pairs(sigs.select("doc_id", "simhash"), max_hamming=4)
    )
    eplan = plan_hyperplane_banding(0.9, target_recall=0.999, max_bits=1024)
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    plans["embedding_lsh_pairs"] = _plan(
        embedding_lsh_pairs(
            emb, tau=0.9, bands=eplan.bands, rows_per_band=eplan.rows_per_band,
            verify_impl="fast",
        )
    )
    for name, text in plans.items():
        with open(os.path.join(outdir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(text)
    res_fast.unpersist()
    res_md5.unpersist()
    spark.stop()
    print(f"wrote {len(plans)} plans to {outdir}", file=sys.stderr)


if __name__ == "__main__":
    if len(sys.argv) >= 2 and sys.argv[1] == "--queries":
        n = int(sys.argv[2]) if len(sys.argv) > 2 else 3
        print(json.dumps(run_queries(n)))
    elif len(sys.argv) >= 4 and sys.argv[1] == "--explain":
        dump_plans(sys.argv[2], sys.argv[3])
    else:
        print(__doc__)
