"""Incremental dedup as a Structured Streaming job.

The reference is batch-only (main.rs runs a sequential query loop;
SURVEY.md §2.9: no streaming operator exists), so this module is the
target-side extension for the "new documents arriving continuously"
deployment: a file-source stream of page batches is matched against
the committed corpus (bucket table + accepted-stream state) with the
LSH query mode.

Exactly-once contract: foreachBatch is at-least-once per batch_id, so
BOTH sinks are made idempotent by writing each micro-batch to its own
batch_id-derived directory with mode('overwrite') — a retried batch
replaces its own output rather than appending a duplicate. The state
read excludes the current batch_id, so a retry observes exactly the
state the failed attempt observed.

State update: new docs whose best match is BELOW tau are "accepted"
into the corpus — their (doc_id, text, bands) rows land in
state_dir/batch=<id> and later batches dedup against them (the
reference's insert-then-rebuild lifecycle, collection.hpp:218-222 /
:241-306, re-expressed as an append-only bucket-state table).

Committed bucket table (the long-lived-stream scale fix): the corpus's
exploded (doc_id, band_id, band_hash) rows are written ONCE at stream
bootstrap to state_dir/_buckets/base-<K>, and each accepted batch
appends its own O(batch) bucket rows to state_dir/_buckets/batch=<id>.
Candidate generation joins query bands against this committed table —
a columnar scan (clustered by band_hash; an Iceberg/bucketBy layout
would prune it at storage level) — instead of re-computing and
re-exploding the ENTIRE corpus+state signature table every micro-batch
(O(corpus) recompute + shuffle per batch, the round-4 scale-killer).
The reference's rebuild is O(batch) here, not O(corpus):
collection.hpp:241-306 rehashes only inserted points per table.
tests/test_streaming.py pins the per-batch plan property (exactly one
band explode — the query side — and a scan of the buckets table).

Intra-batch duplicates: docs arriving in the SAME micro-batch are
deduped against each other too (band self-join, canonical a < b): the
later copy gets a match row pointing at the earlier one and is NOT
accepted into state. Without this, availableNow backfills (one giant
batch) would admit every duplicate. The intra pairs and the corpus
pairs are exact-verified in ONE pass (one size gate, one
candidate-shingle stage), then split by origin.

State compaction: every compact_every batches the accumulated
batch=<id> directories are rewritten into a single base-<upto>
directory (idempotent: fixed target dir + overwrite + _SUCCESS gate),
so the per-batch read fan-in is bounded by compact_every instead of
growing with stream lifetime.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clann_spark.config import DedupConfig
from clann_spark.sources.fs import fs_for

STATE_SCHEMA = "doc_id long, text string, bands array<bigint>"
#: committed bucket-state rows (state_dir/_buckets): the corpus's
#: exploded band rows written ONCE at stream bootstrap plus one
#: O(batch) append per accepted micro-batch — the scale fix for the
#: per-batch O(corpus) signature re-explode (reference lifecycle:
#: collection.hpp:218-222 insert, :241-306 rebuild — rebuild here is
#: O(batch), not O(corpus))
BUCKET_SCHEMA = "doc_id long, band_id int, band_hash long"


def _state_parts(spark: SparkSession, state_dir: str, before_batch: int) -> list[str]:
    """Committed state directories covering batches < before_batch:
    the newest base-<upto> (upto <= before_batch) plus every
    batch=<id> with upto <= id < before_batch.

    All listing/exists checks go through fs_for — os/shutil for plain
    local paths, the JVM Hadoop FileSystem API for any URI scheme
    (file://, hdfs://, s3a://), so the state dir can live wherever the
    stream's sink does."""
    fs = fs_for(spark, state_dir)
    if not fs.isdir(state_dir):
        return []
    names = fs.listdir(state_dir)
    bases = sorted(
        int(d.split("-")[1])
        for d in names
        if d.startswith("base-")
        and int(d.split("-")[1]) <= before_batch
        and fs.exists(os.path.join(state_dir, d, "_SUCCESS"))
    )
    upto = bases[-1] if bases else 0
    parts = [os.path.join(state_dir, f"base-{upto}")] if bases else []
    parts += [
        os.path.join(state_dir, d)
        for d in sorted(names)
        if d.startswith("batch=")
        and upto <= int(d.split("=")[1]) < before_batch
        and fs.exists(os.path.join(state_dir, d, "_SUCCESS"))
    ]
    return parts


def _read_state(
    spark: SparkSession,
    state_dir: str,
    before_batch: int,
    schema: str = STATE_SCHEMA,
) -> DataFrame | None:
    parts = _state_parts(spark, state_dir, before_batch)
    if not parts:
        return None
    return spark.read.schema(schema).parquet(*parts)


def _check_state_meta(spark: SparkSession, state_dir: str, cfg: DedupConfig) -> None:
    """Guard the state layout against hash-space drift: band values
    written by a different fast-path HASH_IMPL_VERSION (or another
    config) never collide with the current one, so a stale state dir
    would silently produce zero candidates. Refuse loudly instead."""
    import json

    from clann_spark.sources.stages import _config_fingerprint

    fs = fs_for(spark, state_dir)
    meta_path = os.path.join(state_dir, "_meta.json")
    want = {"config_fingerprint": _config_fingerprint(cfg)}
    if fs.exists(meta_path):
        have = json.loads(fs.read_text(meta_path))
        if have != want:
            raise ValueError(
                f"streaming state at {state_dir} was written under a different "
                f"config/hash-impl fingerprint ({have} != {want}); delete the "
                "state_dir (and checkpoint) to rebuild, or run the old config"
            )
        return
    fs.mkdirs(state_dir)
    fs.write_text(meta_path, json.dumps(want))


def _compact_state(
    spark: SparkSession,
    state_dir: str,
    batch_id: int,
    compact_every: int,
    schema: str = STATE_SCHEMA,
) -> None:
    """Rewrite base + batch dirs < batch_id into base-<batch_id> once
    the batch-dir fan-in reaches compact_every. Idempotent: the target
    name is a pure function of batch_id, written with overwrite; a
    retried batch that already committed its base skips the rewrite.
    Old dirs are removed only after the new base's _SUCCESS exists —
    readers pick the newest committed base, so a crash between write
    and cleanup leaves a consistent (merely redundant) layout.

    Filesystem ops route through fs_for: os/shutil locally, the JVM
    Hadoop FileSystem API for any URI scheme (HDFS/S3/file://)."""
    fs = fs_for(spark, state_dir)
    target = os.path.join(state_dir, f"base-{batch_id}")
    parts = _state_parts(spark, state_dir, batch_id)
    n_batch_dirs = sum("batch=" in p for p in parts)
    if n_batch_dirs < compact_every:
        return
    if not fs.exists(os.path.join(target, "_SUCCESS")):
        df = spark.read.schema(schema).parquet(*parts)
        df.write.mode("overwrite").parquet(target)
    # cleanup: everything the new base covers
    for p in parts:
        if not fs.same_path(p, target):
            fs.delete_recursive(p)


def _bootstrap_buckets(
    spark: SparkSession, state_dir: str, corpus_sigs: DataFrame, cfg: DedupConfig
) -> str:
    """Write the committed bucket table ONCE at stream start.

    state_dir/_buckets (underscore-prefixed: invisible to Spark's file
    listing, so direct `spark.read.parquet(state_dir)` reads of the
    docs state stay valid) holds the exploded
    (doc_id, band_id, band_hash) rows of the corpus (base-<K>) plus
    one batch=<id> append per
    accepted micro-batch; lsh_query_pairs joins query bands against it
    directly, so the per-batch cost is a columnar scan instead of an
    O(corpus) signature re-explode + shuffle. Rows are clustered by
    band_hash at write (repartition + sortWithinPartitions) — the
    sandbox stand-in for an Iceberg/bucketBy table bucket-partitioned
    by band_hash, where the band join prunes at storage level.

    Migration: a state_dir written by the pre-bucket-table layout has
    committed docs-state batches but no buckets dir; their band rows
    are folded into the bootstrap base (one-time O(state) rebuild), at
    base-<K> with K = first batch id NOT covered by existing state, so
    later batch reads see exactly the committed docs' bucket rows.
    Idempotent: gated on the base dir's _SUCCESS.

    Corpus identity: the base is valid only for the corpus it was
    built from, so _buckets/_meta.json records a corpus fingerprint
    (row count + order-independent bit_xor of xxhash64(doc_id, bands)
    — one aggregate over corpus_sigs, paid once per stream START, not
    per batch). Restarting the stream with a grown or different corpus
    rebuilds the base; without this check the first-seen corpus would
    be frozen into the committed table forever and new corpus docs
    would silently never match."""
    import json

    from clann_spark.operators.signatures import explode_bands

    fs = fs_for(spark, state_dir)
    buckets_dir = os.path.join(state_dir, "_buckets")

    def _coverage(d: str) -> int:
        """First batch id NOT covered by d's committed base/batch dirs."""
        cov = [0]
        for p in _state_parts(spark, d, before_batch=1 << 62):
            name = os.path.basename(p)
            if name.startswith("base-"):
                cov.append(int(name.split("-")[1]))
            else:
                cov.append(int(name.split("=")[1]) + 1)
        return max(cov)

    fp_row = corpus_sigs.agg(
        F.count("*").alias("n"),
        F.expr("bit_xor(xxhash64(doc_id, bands))").alias("x"),
    ).first()
    fingerprint = {"corpus_rows": fp_row["n"], "corpus_xor": fp_row["x"]}
    meta_path = os.path.join(buckets_dir, "_meta.json")
    same_corpus = (
        fs.exists(meta_path) and json.loads(fs.read_text(meta_path)) == fingerprint
    )

    existing = _state_parts(spark, state_dir, before_batch=1 << 62)
    k = _coverage(state_dir)
    # a restart of an already-migrated stream with the SAME corpus: the
    # buckets dir covers everything the docs state does — nothing to
    # (re)build. A changed corpus falls through and rebuilds the base
    # (batch=<id> appends mirror the docs state and stay valid).
    if same_corpus and fs.isdir(buckets_dir) and _coverage(buckets_dir) >= k:
        return buckets_dir
    target = os.path.join(buckets_dir, f"base-{k}")
    if same_corpus and fs.exists(os.path.join(target, "_SUCCESS")):
        return buckets_dir
    rows = corpus_sigs.select("doc_id", "bands")
    if existing:
        rows = rows.unionByName(
            spark.read.schema(STATE_SCHEMA).parquet(*existing).select("doc_id", "bands")
        )
    (
        explode_bands(rows, cfg)
        .select(
            F.col("doc_id").cast("long"),
            F.col("band_id").cast("int"),
            F.col("band_hash").cast("long"),
        )
        .repartition(F.col("band_hash"))
        .sortWithinPartitions("band_hash")
        .write.mode("overwrite")
        .parquet(target)
    )
    fs.mkdirs(buckets_dir)
    fs.write_text(meta_path, json.dumps(fingerprint))
    return buckets_dir


def stream_dedup_query(
    spark: SparkSession,
    input_dir: str,
    corpus_sigs: DataFrame,
    corpus_docs: DataFrame,
    cfg: DedupConfig,
    output_dir: str,
    checkpoint_dir: str,
    k: int = 5,
    available_now: bool = True,
    state_dir: str | None = None,
    compact_every: int = 16,
    accept_duplicates: bool = False,
    max_files_per_trigger: int | None = None,
):
    """Start (and by default drain-and-stop) the incremental-dedup
    stream: parquet page batches in input_dir -> top-k near-dup matches
    per new doc in output_dir/batch=<id>.

    With state_dir set, accepted (non-duplicate) docs join the corpus
    state and later batches dedup against them too. Returns the
    StreamingQuery. available_now=True processes everything currently
    in input_dir and stops (batch catch-up); False runs continuously.

    accept_duplicates=True is ARCHIVE mode: every doc joins the state,
    duplicates included (building a dup-map over an archive instead of
    filtering an incoming feed). Because each arriving doc is then
    matched against ALL earlier docs, every verified pair (a, b) is
    discovered exactly once — when its later member arrives — so, with
    k at least the largest cluster size, connected components over the
    streamed match edges equal the batch pipeline's clusters REGARDLESS
    of arrival order (the filtering default can split transitive
    chains whose hub is rejected from state before a spoke arrives).
    max_files_per_trigger caps files per micro-batch (file-source
    option), pinning a deterministic batch split for tests/oracles.
    """
    from clann_spark.operators.candidates import candidate_pairs
    from clann_spark.operators.knn import lsh_query_pairs, rank_matches
    from clann_spark.operators.signatures import compute_signatures, explode_bands
    from clann_spark.operators.verify import verify_pairs_from_text
    from clann_spark.session import unpersist_intermediates

    schema = "doc_id long, text string"
    buckets_dir = None
    if state_dir:
        _check_state_meta(spark, state_dir, cfg)
        # the committed bucket table: written once here (corpus rows,
        # plus a one-time fold-in of any pre-bucket-layout state),
        # appended O(batch) per accepted micro-batch below — later
        # batches join query bands against THIS instead of re-exploding
        # the whole corpus signature table every batch
        buckets_dir = _bootstrap_buckets(spark, state_dir, corpus_sigs, cfg)
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_dir)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # every cache this batch creates, released when it ends — also
        # when it fails, or a retried stream leaks executor storage
        held: list[DataFrame] = []
        try:
            _match_and_commit(batch_df, batch_id, held)
        finally:
            for df in held:
                unpersist_intermediates(df)
                df.unpersist()

    def _match_and_commit(
        batch_df: DataFrame, batch_id: int, held: list[DataFrame]
    ) -> None:
        batch_df = batch_df.persist()
        held.append(batch_df)
        q_sigs = compute_signatures(
            batch_df, cfg, include_shingles=False, include_sig=False, drop_text=True
        ).persist()
        held.append(q_sigs)

        all_docs = corpus_docs.select("doc_id", "text")
        state = _read_state(spark, state_dir, batch_id) if state_dir else None
        if state is not None:
            # text only: candidate generation reads the committed
            # bucket table, never the state's signature columns
            all_docs = all_docs.unionByName(state.select("doc_id", "text"))

        bucket_state = None
        if buckets_dir is not None:
            # scale path: query bands join the committed bucket table —
            # a columnar scan, not an O(corpus) re-explode per batch
            bucket_state = _read_state(
                spark, buckets_dir, batch_id, schema=BUCKET_SCHEMA
            )
            if bucket_state is None:
                # checkpoint replay of a batch OLDER than the bootstrap
                # base (the layout migrated after this batch's state
                # committed but before its sink did): base-K with
                # K > batch_id includes this batch's own docs, so it
                # must not be read — derive the pre-batch bucket rows
                # from corpus + docs-state < batch_id instead (the
                # legacy O(corpus) explode, paid once on this boundary
                # batch only; every batch >= K uses the committed
                # table). Matching against an empty table here would
                # silently re-accept every duplicate in the batch.
                rows = corpus_sigs.select("doc_id", "bands")
                if state is not None:
                    rows = rows.unionByName(state.select("doc_id", "bands"))
                bucket_state = explode_bands(rows, cfg).select(
                    F.col("doc_id").cast("long"),
                    F.col("band_id").cast("int"),
                    F.col("band_hash").cast("long"),
                )
        corpus_pairs, _ = lsh_query_pairs(
            q_sigs.select("doc_id", "bands"),
            corpus_sigs.select("doc_id", "bands"),
            cfg,
            corpus_buckets=bucket_state,
        )
        held.append(corpus_pairs)
        # intra-batch pairs: duplicates arriving within one micro-batch
        # (the whole backfill, under availableNow) must be caught too.
        # Canonical a < b: the later copy is the duplicate of the
        # earlier.
        intra_pairs = candidate_pairs(explode_bands(q_sigs, cfg), cfg, mode="clique")

        # ONE verify for both pair sets, against corpus ∪ state ∪ batch
        # text: one size gate, one candidate-shingle stage. Docs are
        # tagged so an intra pair keeps only the batch-text match of
        # each side (a batch doc id that is also in the corpus or state
        # must not duplicate its intra rows); corpus pairs keep every
        # match, exactly as lsh_text_query verifies them.
        pairs = corpus_pairs.withColumn("intra", F.lit(False)).unionByName(
            intra_pairs.withColumn("intra", F.lit(True))
        )
        docs = all_docs.withColumn("in_batch", F.lit(False)).unionByName(
            batch_df.select("doc_id", "text").withColumn("in_batch", F.lit(True))
        )
        verified = verify_pairs_from_text(pairs, docs, cfg, keep_below_tau=True)
        held.append(verified)
        intra = F.col("intra")
        verified = verified.where(~intra | (F.col("in_batch_a") & F.col("in_batch_b")))
        # corpus rows: top-k per query, as lsh_text_query ranks them;
        # intra rows at or above tau: the later copy points at the
        # earlier, rank 0
        matches = (
            rank_matches(verified, by=("intra",))
            .where(F.when(intra, F.col("jaccard") >= cfg.tau).otherwise(F.col("rank") <= k))
            .select(
                F.when(intra, F.col("b")).otherwise(F.col("a")).alias("query_id"),
                F.when(intra, F.col("a")).otherwise(F.col("b")).alias("doc_id"),
                "jaccard",
                F.when(intra, F.lit(0)).otherwise(F.col("rank")).cast("long").alias("rank"),
            )
            .persist()
        )
        held.append(matches)
        # idempotent sink: a retried batch overwrites its own directory
        matches.write.mode("overwrite").parquet(f"{output_dir}/batch={batch_id}")

        if state_dir:
            # q_sigs is slim (text never crossed the Arrow stage); graft
            # the original batch text back on for the state table. The
            # join is batch-scale, not corpus-scale.
            accepted = batch_df.join(q_sigs.select("doc_id", "bands"), "doc_id")
            if not accept_duplicates:
                # every intra match clears tau, so this also rejects
                # the later copy of each intra-batch duplicate
                dup_ids = (
                    matches.where(F.col("jaccard") >= cfg.tau)
                    .select(F.col("query_id").alias("doc_id"))
                    .distinct()
                )
                accepted = accepted.join(dup_ids, "doc_id", "left_anti")
            accepted.write.mode("overwrite").parquet(f"{state_dir}/batch={batch_id}")
            # bucket rows mirror the COMMITTED docs-state dir (read back
            # rather than recomputed from the live plan, so a partially
            # failed attempt can never commit bucket rows for docs that
            # aren't in the state) — O(batch) explode + write
            committed = spark.read.schema(STATE_SCHEMA).parquet(
                f"{state_dir}/batch={batch_id}"
            )
            (
                explode_bands(committed.select("doc_id", "bands"), cfg)
                .select(
                    F.col("doc_id").cast("long"),
                    F.col("band_id").cast("int"),
                    F.col("band_hash").cast("long"),
                )
                .write.mode("overwrite")
                .parquet(f"{buckets_dir}/batch={batch_id}")
            )
            _compact_state(spark, state_dir, batch_id, compact_every)
            _compact_state(
                spark, buckets_dir, batch_id, compact_every, schema=BUCKET_SCHEMA
            )

    writer = (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
