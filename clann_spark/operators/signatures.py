"""Signature stage: text -> (shingle_hashes, sig, bands, simhash).

The analog of the reference's index build hash pass
(libpuffinn collection.hpp:241-306: sketches + per-row hash codes),
as one narrow (shuffle-free) projection pipeline. Implementations,
selected by DedupConfig.signature_impl:

  expr   : the JVM tokenizes, shingles and md5-hashes (Spark SQL
           expressions); one mapInArrow then runs the MinHash fold,
           SimHash vote and band folds in NumPy. Bit-identical to the
           *_sql expressions and the DuckDB oracle. Default.
  pandas : one Arrow-batched pandas UDF hashing each doc with hashlib;
           the same md5 values as expr.
  xxhash : expr with JVM xxhash64 shingle/word hashes in place of md5
           (same mapInArrow folds; not oracle-checkable).
  fast   : the JVM emits xxhash64 word hashes only; one mapInArrow
           builds splitmix shingle folds, MinHash, SimHash and band
           hashes from the flat Arrow buffers. Deterministic in its own
           hash space (HASH_IMPL_VERSION), not oracle-checkable; the
           production path.

All of them are narrow: the signature stage never shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from clann_spark.config import DedupConfig
from clann_spark.functions import hashing as H
from clann_spark.functions import text as T

#: Output columns added by compute_signatures.
SIGNATURE_COLS = ("shingle_hashes", "sig", "bands", "simhash")


def compute_signatures(
    df: DataFrame,
    cfg: DedupConfig,
    text_col: str = "text",
    include_shingles: bool = True,
    include_sig: bool = True,
    drop_text: bool = False,
) -> DataFrame:
    """Append shingle_hashes / sig / bands / simhash to ``df``.

    Keeps every original column (minus ``text_col`` when drop_text).
    Null text is treated as ''.

    include_shingles=False drops the wide shingle-hash array from the
    output (~2.4 KB/row vs ~270 B/row for bands+simhash): the pipeline
    re-derives shingle sets for the few candidate docs at verify time
    instead of carrying them through every shuffle — at 10^12 docs the
    shingle column alone would be multi-PB of shuffle traffic.

    include_sig=False (fast impl only) additionally drops the raw
    num_perm-lane signature from the OUTPUT (it is folded into band
    hashes inside the UDF and consumed by nothing downstream) — ~1 KB
    per row less Arrow transfer + cache/shuffle bytes.

    drop_text=True projects the text column away BEFORE the signature
    op. For the fast (mapInArrow) impl this matters: every retained
    column crosses the Arrow boundary both ways, and the pipeline
    discards text after this stage anyway — dropping it first keeps the
    IPC traffic at doc_id + word hashes instead of doc_id + word hashes
    + the full document bytes.

    Local-input guard (round 6, mirrors run_dedup): a single large
    parquet file can arrive as ONE partition, which would serialize the
    whole signature stage into a single task for callers that invoke
    this operator directly (the per-query bench entries, the gate
    queries). The split target is SIZE-adaptive (guide §2: derive
    partitioning from the data, not a core-count constant): ~2 MB of
    optimizer-estimated input per task, capped at 2x the default
    parallelism — so a small local file stays one partition (no
    exchange, no per-stage task storm downstream), a big under-split
    one fans out, and a well-partitioned cluster-scale scan is
    untouched (the stage stays narrow).
    """
    from clann_spark.session import adaptive_input_split

    # granularity follows the impl's measured per-byte cost against
    # the OPTIMIZER'S size estimate (which is well below raw text
    # bytes): the vectorized fast path measures ~0.8-1 MB(est)/s
    # per task, the md5-parity impls hash every shingle+word
    # through interpreted transforms at ~0.14 MB(est)/s — split so
    # a task stays ~0.1-0.2 s of hash work
    df = adaptive_input_split(
        df, (128 << 10) if cfg.signature_impl in ("fast", "xxhash") else (32 << 10)
    )
    if cfg.signature_impl == "fast":
        from pyspark.sql.types import ArrayType, LongType, StructField, StructType

        # Tokenize + word-hash JVM-side (codegen); only array<bigint>
        # crosses the Arrow boundary — Python never sees text.
        wh = F.expr(T.word_xxhash_sql(f"coalesce({text_col}, '')", cfg.seed))
        src = df.withColumn("_wh", wh)
        if drop_text:
            src = src.drop(text_col)
        passthrough = [f.name for f in src.schema.fields if f.name != "_wh"]
        out_fields = [f for f in src.schema.fields if f.name != "_wh"]
        if include_shingles:
            out_fields.append(StructField("shingle_hashes", ArrayType(LongType())))
        if include_sig:
            out_fields.append(StructField("sig", ArrayType(LongType())))
        out_fields.append(StructField("simhash", LongType()))
        out_fields.append(StructField("bands", ArrayType(LongType())))
        # mapInArrow: the list<int64> word hashes are consumed straight
        # from the Arrow buffers (values+offsets) and results are built
        # from flat ndarrays — no pandas conversion in either direction
        # (the round-3 Arrow-boundary fix, BASELINE.md attribution).
        return src.mapInArrow(
            H.fast_signature_arrow(
                cfg, passthrough, include_shingles=include_shingles,
                include_sig=include_sig,
            ),
            StructType(out_fields),
        )
    if cfg.signature_impl == "pandas":
        udf = H.signature_udf(cfg)
        out = df.withColumn("_s", udf(F.coalesce(F.col(text_col), F.lit(""))))
        out = (
            out.withColumn("shingle_hashes", F.col("_s.shingle_hashes"))
            .withColumn("sig", F.col("_s.sig"))
            .withColumn("simhash", F.col("_s.simhash"))
            .drop("_s")
        )
        out = out.withColumn("bands", F.expr(H.bands_sql("sig", cfg)))
        if drop_text:
            out = out.drop(text_col)
        return out if include_shingles else out.drop("shingle_hashes")

    txt = f"coalesce({text_col}, '')"
    if cfg.signature_impl == "xxhash":
        hashes = H.xxhash_shingle_hashes_sql("_shingles", cfg.seed)
        word_hashes = (
            f"array_distinct(transform(array_distinct(_words), "
            f"w -> xxhash64(w, {cfg.seed})))"
        )
    else:  # expr (md5 parity)
        hashes = H.shingle_hashes_sql("_shingles")
        word_hashes = H.word_hashes_sql("_words")

    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    # Round-6 split of the oracle-parity path (guide §4.2): the JVM
    # computes the HASH ARRAYS (tokenize/shingle/md5 — native functions,
    # linear per-element work), while the MinHash fold (num_perm ops per
    # shingle), the SimHash majority vote (60 ops per word) and the band
    # folds — the interpreted-HOF terms that dominated this stage — run
    # vectorized in ONE mapInArrow with bit-identical values
    # (np_minhash/np_simhash/np_band_hashes parity, tests/test_hashing
    # + the full DuckDB oracle gate in tests/test_entry.py). This also
    # collapses the former ~100k-node expression tree (128 inline perm
    # literals x 60 CASE branches), which Catalyst re-analyzed on every
    # query build. Stage stays narrow: no shuffle, one Python boundary
    # crossing of two int64-array columns.
    src = (
        df.withColumn("_words", F.expr(T.words_sql(txt)))
        .withColumn(
            "_shingles", F.expr(T.shingles_from_words_sql("_words", cfg.shingle_k))
        )
        .withColumn("shingle_hashes", F.expr(hashes))
        .withColumn("_word_hashes", F.expr(word_hashes))
        .drop("_words", "_shingles")
    )
    if drop_text:
        src = src.drop(text_col)
    derived = ("shingle_hashes", "_word_hashes")
    passthrough = [f.name for f in src.schema.fields if f.name not in derived]
    out_fields = [f for f in src.schema.fields if f.name not in derived]
    if include_shingles:
        out_fields.append(StructField("shingle_hashes", ArrayType(LongType())))
    out_fields.append(StructField("sig", ArrayType(LongType())))
    out_fields.append(StructField("bands", ArrayType(LongType())))
    out_fields.append(StructField("simhash", LongType()))
    return src.mapInArrow(
        H.md5_parity_signature_arrow(
            cfg, passthrough, include_shingles=include_shingles
        ),
        StructType(out_fields),
    )


def explode_bands(
    sig_df: DataFrame,
    cfg: DedupConfig,
    id_col: str = "doc_id",
    extra_cols: tuple = (),
) -> DataFrame:
    """(id, bands) -> exploded (id, band_id, band_hash) bucket rows.

    The reference keeps L parallel sorted hash tables
    (prefixmap.hpp:66-87); here band_id plays the role of the table
    index and the groupBy/shuffle on (band_id, band_hash) is the
    table build (SURVEY.md §2.4 C6-C8).

    extra_cols: per-doc columns replicated onto every bucket row (e.g.
    the simhash fingerprint, +8 B/row through the candidate exchange,
    which lets candidate_pairs fuse the J7 sketch filter into the pair
    join instead of re-joining the signature table twice afterwards).
    """
    return sig_df.select(
        F.col(id_col),
        F.posexplode("bands").alias("band_id", "band_hash"),
        *[F.col(c) for c in extra_cols],
    )
