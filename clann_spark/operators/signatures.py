"""Signature stage: text -> (shingle_hashes, sig, simhash, bands).

The analog of the reference's index build hash pass
(libpuffinn collection.hpp:241-306: sketches + per-row hash codes),
as one narrow (shuffle-free) projection pipeline. Two
implementations, selected by DedupConfig.signature_impl:

  expr : the oracle path. The JVM tokenizes, shingles and md5-hashes
         (Spark SQL expressions); one mapInArrow
         (hashing.md5_parity_signature_arrow) then runs the MinHash
         fold, SimHash vote and band folds in NumPy. Bit-identical to
         the *_sql expressions and the DuckDB oracle. Default.
  fast : the production path. The JVM emits xxhash64 word hashes only;
         one mapInArrow (hashing.fast_signature_arrow) builds splitmix
         shingle folds, MinHash, SimHash and band hashes from the flat
         Arrow buffers. Deterministic in its own hash space
         (HASH_IMPL_VERSION), not oracle-checkable.

Both kernels emit the same columns in the same order
(hashing.signature_fields), and neither shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from clann_spark.config import DedupConfig
from clann_spark.functions import hashing as H
from clann_spark.functions import text as T


def compute_signatures(
    df: DataFrame,
    cfg: DedupConfig,
    text_col: str = "text",
    include_shingles: bool = True,
    include_sig: bool = True,
    drop_text: bool = False,
) -> DataFrame:
    """Append shingle_hashes / sig / simhash / bands to ``df``.

    Keeps every original column (minus ``text_col`` when drop_text).
    Null text is treated as ''.

    include_shingles=False drops the wide shingle-hash array from the
    output (~2.4 KB/row vs ~270 B/row for bands+simhash): the pipeline
    re-derives shingle sets for the few candidate docs at verify time
    instead of carrying them through every shuffle — at 10^12 docs the
    shingle column alone would be multi-PB of shuffle traffic.

    include_sig=False additionally drops the raw num_perm-lane
    signature from the OUTPUT (it is folded into band hashes inside the
    kernel and consumed by nothing downstream) — ~1 KB per row less
    Arrow transfer + cache/shuffle bytes.

    drop_text=True projects the text column away BEFORE the signature
    op. Every retained column crosses the mapInArrow boundary both
    ways, and the pipeline discards text after this stage anyway —
    dropping it first keeps the IPC traffic at doc_id + hash arrays
    instead of doc_id + hash arrays + the full document bytes.

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
    from pyspark.sql.types import StructType

    from clann_spark.session import adaptive_input_split

    # granularity follows the impl's measured per-byte cost against
    # the OPTIMIZER'S size estimate (which is well below raw text
    # bytes): the vectorized fast path measures ~0.8-1 MB(est)/s
    # per task, the md5-parity impl hashes every shingle+word
    # through interpreted transforms at ~0.14 MB(est)/s — split so
    # a task stays ~0.1-0.2 s of hash work
    fast = cfg.signature_impl == "fast"
    df = adaptive_input_split(df, (128 << 10) if fast else (32 << 10))
    txt = f"coalesce({text_col}, '')"
    if fast:
        # Tokenize + word-hash JVM-side (codegen); only array<bigint>
        # crosses the Arrow boundary — Python never sees text.
        src = df.withColumn("_wh", F.expr(T.word_xxhash_sql(txt, cfg.seed)))
        derived = ("_wh",)
        kernel = H.fast_signature_arrow
    else:
        # The JVM computes the md5 HASH ARRAYS (tokenize/shingle/md5 —
        # native functions, linear per-element work); the MinHash fold
        # (num_perm ops per shingle), SimHash vote (60 ops per word) and
        # band folds run vectorized in the kernel, bit-identical to the
        # *_sql chain (tests/test_hashing.py, and the DuckDB oracle gate
        # in tests/test_entry.py).
        src = (
            df.withColumn("_words", F.expr(T.words_sql(txt)))
            .withColumn(
                "_shingles", F.expr(T.shingles_from_words_sql("_words", cfg.shingle_k))
            )
            .withColumn("shingle_hashes", F.expr(H.shingle_hashes_sql("_shingles")))
            .withColumn("_word_hashes", F.expr(H.word_hashes_sql("_words")))
            .drop("_words", "_shingles")
        )
        derived = ("shingle_hashes", "_word_hashes")
        kernel = H.md5_parity_signature_arrow
    if drop_text:
        src = src.drop(text_col)
    kept = [f for f in src.schema.fields if f.name not in derived]
    # mapInArrow: the list<int64> hash columns are consumed straight
    # from the Arrow buffers (values+offsets) and results are built
    # from flat ndarrays — no pandas conversion in either direction
    # (the round-3 Arrow-boundary fix, BASELINE.md attribution).
    return src.mapInArrow(
        kernel(cfg, [f.name for f in kept], include_shingles, include_sig),
        StructType(kept + H.signature_fields(include_shingles, include_sig)),
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
