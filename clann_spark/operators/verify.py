"""Exact verification of candidate pairs.

Two-stage, mirroring the reference's probe path:
  1. cheap sketch prefilter — Hamming distance between 60-bit SimHash
     fingerprints (ref: filterer.hpp:20-32 QuerySketches / :108-111
     threshold), expressed as a bit_count(xor) predicate Catalyst can
     evaluate before the expensive set intersection;
  2. exact Jaccard on the 31-bit shingle-hash sets (ref: the exact
     re-scoring of survivors, collection.hpp:909-920), JVM-side via
     array_intersect/array_union — no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from clann_spark.config import DedupConfig

JACCARD_SQL = (
    "size(array_intersect(sh_a, sh_b)) / "
    "cast(size(array_union(sh_a, sh_b)) as double)"
)


def verify_pairs(pairs: DataFrame, sig_df: DataFrame, cfg: DedupConfig) -> DataFrame:
    """(a, b) candidates -> (a, b, jaccard) verified pairs.

    sig_df must carry doc_id, shingle_hashes and (if the prefilter is
    enabled) simhash. Joins are plain shuffle hash joins on doc id —
    candidates are a small fraction of the corpus, so Catalyst/AQE
    sizes them; at 100 TB these become shuffle joins against the
    bucketed signature table.
    """
    cols = [F.col("doc_id"), F.col("shingle_hashes")]
    threshold = cfg.hamming_threshold
    has_simhash = "simhash" in sig_df.columns and threshold is not None
    if has_simhash:
        cols.append(F.col("simhash"))
    s = sig_df.select(*cols)

    j = (
        pairs.join(
            s.select(
                F.col("doc_id").alias("a"),
                F.col("shingle_hashes").alias("sh_a"),
                *([F.col("simhash").alias("sim_a")] if has_simhash else []),
            ),
            "a",
        ).join(
            s.select(
                F.col("doc_id").alias("b"),
                F.col("shingle_hashes").alias("sh_b"),
                *([F.col("simhash").alias("sim_b")] if has_simhash else []),
            ),
            "b",
        )
    )
    if has_simhash:
        j = j.where(F.expr("bit_count(sim_a ^ sim_b)") <= threshold)
    return j.select("a", "b", F.expr(JACCARD_SQL).alias("jaccard")).where(
        F.col("jaccard") >= cfg.tau
    )


def prefilter_pairs_by_simhash(
    pairs: DataFrame, sig_df: DataFrame, threshold: int
) -> DataFrame:
    """J7 sketch filter (filterer.hpp:20-32, threshold :108-111) in its
    post-hoc form: drop candidate pairs whose 60-bit fingerprints
    differ in more than `threshold` bits, via two joins against the
    signature table.

    No production path calls this. The dedup pipeline
    (candidate_pairs) and query mode (knn.lsh_query_pairs) both FUSE
    the same bit_count predicate into pair generation, with the
    fingerprint riding the bucket rows. This form stays as the
    definitional reference the fused paths are tested against, and
    because the frozen bench.py stage timer imports it."""
    sh = sig_df.select("doc_id", "simhash")
    return (
        pairs.join(
            sh.select(F.col("doc_id").alias("a"), F.col("simhash").alias("sim_a")), "a"
        )
        .join(
            sh.select(F.col("doc_id").alias("b"), F.col("simhash").alias("sim_b")), "b"
        )
        .where(F.expr("bit_count(sim_a ^ sim_b)") <= threshold)
        .select("a", "b")
    )


def verify_pairs_from_text(
    pairs: DataFrame,
    docs: DataFrame,
    cfg: DedupConfig,
    keep_below_tau: bool = False,
    observation=None,
) -> DataFrame:
    """Scale-path verification: re-derive shingle sets ONLY for docs that
    appear in a candidate pair (semi-join reduction), so the corpus never
    carries the wide shingle column through shuffles.

    docs: (doc_id, text [, tags...]). Pair columns beyond (a, b) pass
    through to the output, and each extra docs column c arrives as
    c_a / c_b from the doc that side matched: a caller verifying pairs
    of several origins in one pass can tell which doc rows it got. The
    output is (a, b, pair extras..., doc extras..., jaccard).

    Join strategy is size-gated: when the pair
    list fits under cfg.broadcast_limit rows it is broadcast (map-side
    joins, the common low-dup case); above the limit — a genuinely
    duplicate-heavy corpus at 10^12 docs produces billions of candidate
    pairs that no executor heap could hold — every join runs as a
    parallel shuffle join. Both plans produce the identical pair set
    (tests/test_dedup_recall.py forces the shuffle path with limit 0).
    """
    pairs = pairs.persist()
    small = pairs.count() <= cfg.broadcast_limit
    cand_ids = (
        pairs.select(F.col("a").alias("doc_id"))
        .union(pairs.select(F.col("b").alias("doc_id")))
        .distinct()
    )
    cand_docs = docs.join(F.broadcast(cand_ids) if small else cand_ids, "doc_id")
    pair_extra = [c for c in pairs.columns if c not in ("a", "b")]
    doc_extra = [c for c in docs.columns if c not in ("doc_id", "text")]
    keep = ["doc_id", *doc_extra]

    if cfg.signature_impl == "fast":
        from pyspark.sql.types import ArrayType, LongType, StructField, StructType

        from clann_spark.functions import text as T
        from clann_spark.functions.hashing import fast_shingle_hashes_arrow

        # JVM tokenize+hash, then fold in numpy — same hash space as
        # the signature stage (shared _fold_stream core). mapInArrow:
        # only (doc_id, doc extras, word hashes) cross the boundary in,
        # and the ragged shingle arrays come back as raw Arrow buffers.
        wh = F.expr(T.word_xxhash_sql("coalesce(text, '')", cfg.seed))
        sh = cand_docs.select(*keep, wh.alias("_wh")).mapInArrow(
            fast_shingle_hashes_arrow(cfg, keep),
            StructType(
                [cand_docs.schema[c] for c in keep]
                + [StructField("shingle_hashes", ArrayType(LongType()))]
            ),
        )
    else:
        from clann_spark.functions import hashing as H
        from clann_spark.functions import text as T

        sh = (
            cand_docs.withColumn("_words", F.expr(T.words_sql("coalesce(text, '')")))
            .withColumn(
                "_shingles", F.expr(T.shingles_from_words_sql("_words", cfg.shingle_k))
            )
            .select(
                *keep, F.expr(H.shingle_hashes_sql("_shingles")).alias("shingle_hashes")
            )
        )

    # the candidate shingle table feeds BOTH join sides; without a
    # persist each side recomputes the whole scan+hash+fold subtree
    # (broadcast joins have no exchange for AQE to reuse — the round-6
    # stage timeline showed the 64-task shingle stage executing twice
    # per e2e run). Registered below for caller release.
    sh = sh.persist()
    j = (
        (F.broadcast(pairs) if small else pairs)
        .join(_side(sh, "a", doc_extra), "a")
        .join(_side(sh, "b", doc_extra), "b")
    )
    out = j.select(
        "a",
        "b",
        *pair_extra,
        *[f"{c}_{side}" for c in doc_extra for side in "ab"],
        F.expr(JACCARD_SQL).alias("jaccard"),
    )
    if observation is not None:
        # A8 distance-computation counter (performance.hpp:72-80 analog):
        # exact similarity evaluations, counted by the plan's own action —
        # attached BEFORE the tau filter so false candidates are included
        out = out.observe(
            observation,
            F.count(F.lit(1)).alias("comparisons"),
            F.coalesce(
                F.sum((F.col("jaccard") >= cfg.tau).cast("long")), F.lit(0)
            ).alias("pairs_verified"),
        )
    if not keep_below_tau:
        out = out.where(F.col("jaccard") >= cfg.tau)
    from clann_spark.session import track_cache

    # `pairs` stays persisted for the size-gate count + two joins and
    # `sh` for its two join sides; register both so per-micro-batch
    # callers can release the blocks (session.unpersist_intermediates)
    # instead of leaking executor storage over a long-running stream.
    return track_cache(out, pairs, sh)


def _side(sh: DataFrame, side: str, doc_extra: list[str]) -> DataFrame:
    """The shingle table as one join side: doc_id -> `side`,
    shingle_hashes -> sh_<side>, each extra doc column c -> c_<side>."""
    return sh.select(
        F.col("doc_id").alias(side),
        F.col("shingle_hashes").alias(f"sh_{side}"),
        *[F.col(c).alias(f"{c}_{side}") for c in doc_extra],
    )
