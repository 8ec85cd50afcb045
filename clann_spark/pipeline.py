"""End-to-end dedup pipeline orchestration (SURVEY.md §3.1 Spark
lifecycle): read → signatures (narrow) → band explode → bucket
shuffle → candidate pairs → exact verify → connected components →
cluster assignment.

The layers are defined once (`_dedup_layers`) and built through a
stage hook: `run_dedup` composes them lazily, and
`sources.stages.run_dedup_checkpointed` commits each one through
`StageRunner.stage`. Every layer is a DataFrame; both return them all
so callers (tests, bench, __spark_entry__) can materialize whichever
they need.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from clann_spark.config import DedupConfig
from clann_spark.operators.candidates import candidate_pairs
from clann_spark.operators.connected_components import connected_components
from clann_spark.operators.signatures import compute_signatures, explode_bands
from clann_spark.operators.verify import verify_pairs_from_text


def prepare_pages(pages: DataFrame, use_html: bool = False) -> DataFrame:
    """Common-Crawl-style pages table -> (doc_id, url, text, lang).

    doc_id = xxhash64(url): a stable 64-bit numeric key derived from the
    row's natural key (SURVEY.md §1.2 data-model mapping). With
    use_html=True the text is re-extracted from the html column through
    the deterministic pandas UDF (input_hint invariant: byte-identical
    to the stored text — tested in tests/test_text.py).
    """
    df = pages
    if use_html:
        from clann_spark.functions.text import extract_text_udf

        df = df.withColumn("text", extract_text_udf()(F.col("html")))
    return df.select(
        F.xxhash64(F.col("url")).alias("doc_id"), "url", "text", "lang"
    )


@dataclass
class DedupResult:
    signatures: DataFrame      # doc_id, simhash, bands
    buckets: DataFrame         # doc_id, band_id, band_hash [, simhash
                               #   when the hamming prefilter is on —
                               #   the J7 fingerprint rides the bucket
                               #   rows into the fused pair join]
    candidates: DataFrame      # a, b
    verified: DataFrame        # a, b, jaccard  (jaccard >= tau)
    clusters: DataFrame        # doc_id, cluster_id (only docs in a dup pair)
    assignments: DataFrame     # doc_id, cluster_id for ALL docs
    base: DataFrame            # the (doc_id, text) input projection —
                               #   dedup_summary's narrow count source

    def unpersist(self) -> None:
        """Release every cache run_dedup registered: the persisted
        candidates/verified stages plus any intermediates
        tracked on them (the verify stage persists the candidate pair
        list and the candidate-doc shingle table; auto-mode pair
        generation is a single fused pass since round 6 and registers
        nothing). Long-lived sessions running many pipelines MUST call
        this after consuming the results, or executor storage grows per
        call. Safe to call repeatedly; the plans stay valid (blocks
        simply recompute if re-executed)."""
        from clann_spark.session import unpersist_intermediates

        unpersist_intermediates(self.candidates)
        unpersist_intermediates(self.verified)
        for df in (self.verified, self.candidates):
            try:
                df.unpersist()
            except Exception:
                pass


def _dedup_layers(
    base: DataFrame,
    cfg: DedupConfig,
    pair_mode: str,
    stage: Callable[..., DataFrame],
) -> DedupResult:
    """The six dedup layers, defined once: signatures -> buckets ->
    candidates -> verified -> clusters -> assignments.

    base: the (doc_id, text) input. Each layer is built through
    stage(name, builder, extra_counters=..., deps=[upstream names]),
    which returns the DataFrame downstream layers read. run_dedup's
    hook builds lazily and persists candidates and verified;
    run_dedup_checkpointed passes StageRunner.stage, which commits each
    layer (or resumes it) and folds `deps` into its fingerprint.

    No blanket repartition: compute_signatures carries its own
    SIZE-adaptive under-split guard (session.adaptive_input_split),
    and the verify stage's candidate-doc scan inherits the input's own
    splits. Signatures are slim — bands + simhash only (~270 B/row);
    verify re-derives shingle sets for candidate docs, and
    drop_text=True projects text away BEFORE the Arrow stage so the
    document bytes never cross the Python boundary.

    The J7 sketch filter (filterer.hpp:20-32) is FUSED into pair
    generation: the 60-bit fingerprint rides the bucket rows (+8 B/row
    through candidate_pairs' single exchange) and far pairs die on a
    bit_count predicate between the pair generators — no post-hoc
    joins against the signature table, and the cross-band distinct
    shuffles only the survivors. So verify depends on candidates only.
    """
    threshold = cfg.hamming_threshold
    sketch = "simhash" if threshold is not None else None
    sigs = stage(
        "signatures",
        lambda: compute_signatures(
            base, cfg, include_shingles=False, include_sig=False, drop_text=True
        ),
    )
    buckets = stage(
        "buckets",
        lambda: explode_bands(sigs, cfg, extra_cols=(sketch,) if sketch else ()),
        deps=["signatures"],
    )
    cands = stage(
        "candidates",
        lambda: candidate_pairs(
            buckets, cfg, mode=pair_mode, sketch_col=sketch, hamming_threshold=threshold
        ),
        deps=["buckets"],
    )
    # A7/A8: exact comparisons + above-tau pairs, observed by the verify
    # layer's own action (result_schema.sql search_metrics granularity)
    verify_obs = Observation()
    verified = stage(
        "verified",
        lambda: verify_pairs_from_text(cands, base, cfg, observation=verify_obs),
        extra_counters=lambda: verify_obs.get,
        deps=["candidates"],
    )
    clusters = stage(
        "clusters", lambda: connected_components(verified), deps=["verified"]
    )
    assignments = stage(
        "assignments",
        lambda: base.select("doc_id")
        .join(clusters, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id"),
        ),
        deps=["clusters"],
    )
    return DedupResult(sigs, buckets, cands, verified, clusters, assignments, base)


def _lazy_stage(name, builder, extra_counters=None, deps=None) -> DataFrame:
    """run_dedup's stage hook: build the plan, and persist the two
    layers read more than once — candidates (verify's size-gate count
    and its joins) and verified (CC plus the caller's own reads)."""
    df = builder()
    return df.persist() if name in ("candidates", "verified") else df


def run_dedup(docs: DataFrame, cfg: DedupConfig, pair_mode: str = "clique") -> DedupResult:
    """Full pipeline over any DataFrame with (doc_id, text). Nothing is
    executed here; signatures are not persisted (nothing inside the
    pipeline reads them twice, and a single-consumer cache would split
    the signature compute and the bucket-exchange write into two
    passes)."""
    return _dedup_layers(docs.select("doc_id", "text"), cfg, pair_mode, _lazy_stage)


def dedup_summary(result: DedupResult) -> DataFrame:
    """Corpus-level dedup stats: docs, clusters, dup docs removed.

    Computed via the same identity the DuckDB oracle uses
    (entry_queries.O_DEDUP_SUMMARY): every cluster_id is the min member
    doc_id and clusters holds one row per clustered doc, so
    n_clusters = n_docs - |clusters| + distinct(cluster_id) and
    n_removed = |clusters| - distinct(cluster_id). This needs one
    narrow count of the doc projection plus a tiny aggregate of the
    cluster table — the round-1..5 form re-ran the scan+repartition and
    a left join of the whole corpus just to count rows. Values are
    identical (tests/test_dedup_recall.py, dedup_summary oracle row).
    """
    n = result.base.agg(F.count("*").alias("n_docs"))
    c = result.clusters.agg(
        F.count("*").alias("_m"), F.countDistinct("cluster_id").alias("_k")
    )
    return n.crossJoin(c).select(
        F.col("n_docs"),
        (F.col("n_docs") - F.col("_m") + F.col("_k")).alias("n_clusters"),
        (F.col("_m") - F.col("_k")).alias("n_removed"),
    )
