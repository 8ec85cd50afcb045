"""Candidate-pair generation — the distributed analog of the
reference's `closest_pairs` within-segment all-pairs stage
(libpuffinn collection.hpp:390-504: per table, segment rows by equal
hash code, all-pairs compare within segment).

Here: explode (doc_id, band_id, band_hash) bucket rows, then form
pairs of docs sharing a bucket. Two pair modes:

  clique : all pairs within a bucket (exact reference semantics —
           collection.hpp:415-441). Default; required for oracle
           equality and per-pair recall.
  anchor : each doc pairs only with the bucket's min doc_id —
           m-1 edges instead of m(m-1)/2. Sufficient for connected-
           components dedup connectivity, and the scale path for
           mega-clusters (1000 identical docs → 999 edges, not 500k).
  auto   : clique for buckets with cnt <= anchor_threshold, anchor
           above. Pair-complete where it matters, linear where a
           clique would blow up (measured: the 1000-copy skew fixture
           runs 8x faster with identical final clusters).

ONE-EXCHANGE, JOIN-FREE PLAN (round 5). Rounds 1-3 built this stage as
census aggregation -> size-gated broadcast of the census -> join-back
-> self-join on (band_hash, salt): two shuffles of the bucket table
plus, below the gate, a flat 20-30 s driver collect+broadcast at a
2M-doc census — the dominant parallelism-INDEPENDENT term in the e2e
scaling measurement (BASELINE.md round-4 attribution). Round 4 moved
to a single logical exchange with a clique SELF-JOIN riding it — but
at runtime each join side (plus the anchor window in auto mode)
re-executed the explode+exchange+window, because AQE's shuffle-stage
reuse does not fire when the exchange's subtree scans a cached
relation (the pipeline persists signatures): 3x 240 MB identical
shuffle writes at 500k docs. Round 5 removes the join entirely: hash
the bucket table by band_hash ONCE; census (window count), singleton
drop, mega-bucket salting, and a collapse to one array row per
(band_hash, salt) group all run co-partitioned with no further
exchange, and pairs stream out of generators over the sorted member
arrays (position order = doc_id order, so a < b is free). One
physical read of one physical exchange, no broadcast, no driver
action at any census size — including the 10^12-doc regime where the
old census could never have been broadcast. tests/test_plans.py pins
the single-exchange and no-join properties; BASELINE.md round 5
records the measured shuffle-volume drop.

Skew handling (north_rule explicit requirement; the reference has
none — collection.hpp:415-441 loops whole segments unconditionally):
buckets larger than cfg.bucket_cap are salted into ceil(cnt/cap)
subgroups keyed by xxhash64(doc_id, band_hash); pairs form within a
salt group only, capping the m^2 clique blowup. Because the salt
depends on the band hash, different bands split a mega-cluster
differently, so connectivity across subgroups is restored by the
other bands (and by CC transitivity). Note the one-exchange plan
co-locates a whole bucket in one partition, so salting bounds pair
EXPLOSION and per-GROUP array size (~cap members), but not
single-partition residence; a bucket whose raw rows alone exceed a
partition's memory budget (>>bucket_cap) is handled by the anchor
path (auto mode), which emits m-1 rows from a single generator pass
and never enumerates the m^2 pair set.

Sketch prefilter fusion (J7, filterer.hpp:20-32): pass
sketch_col/hamming_threshold to carry a per-doc int64 fingerprint
through the exchange (+8 B/row) and drop far pairs with one
bit_count(a^b) predicate between the pair generators — replacing the
two post-hoc shuffle joins of the old prefilter_pairs_by_simhash step
(verify.py keeps that form for pair lists that arrive without bucket
context, e.g. loaded stage tables).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from clann_spark.config import DedupConfig


def bucket_census(bucket_df: DataFrame) -> DataFrame:
    """band_hash -> cnt. One map-side-combined shuffle.

    band_id is NOT part of the key: the band index is folded into the
    60-bit band hash itself (hashing.bands_sql / np_band_hashes_from_sig
    salt the fold with the band index), so equal hashes from different
    bands are ~n²·b²/2^60 random collisions — vanishing, and the exact
    verify stage removes any pair they admit. Dropping the column cuts
    the census/shuffle key width by a third at 10^12-row bucket tables.
    """
    return bucket_df.groupBy("band_hash").agg(F.count("*").alias("cnt"))


def salted_buckets(
    bucket_df: DataFrame,
    cfg: DedupConfig,
    extra_cols: tuple = (),
) -> DataFrame:
    """Census + singleton drop + mega-bucket salting, co-partitioned.

    Output: (doc_id, band_hash, *extra_cols, cnt, salt). Singleton
    buckets (cnt=1) can never produce a pair and are dropped — at web
    scale that is the vast majority of bucket rows.

    Physical plan: ONE Exchange (hashpartitioning(band_hash)), then a
    window count, filter and salt projection — all narrow. The window
    count needs the same in-partition sort the downstream merge join
    needs anyway; measured against the round-3 census+broadcast
    join-back at 2M docs it removes both the second shuffle and the
    flat ~20-30 s census collect (BASELINE.md round-4).

    (The round-3 broadcast_limit gate parameter is gone — round 6
    removed the long-dead API-compat vestige; the plan contains no
    broadcast at any size, structurally.)
    """
    cols = ["doc_id", "band_hash", *extra_cols]
    slim = bucket_df.select(*cols)
    part = slim.repartition("band_hash")
    w = Window.partitionBy("band_hash")
    b = part.withColumn("cnt", F.count("*").over(w)).where(F.col("cnt") >= 2)
    n_salt = F.ceil(F.col("cnt") / F.lit(cfg.bucket_cap)).cast("int")
    # the salt key mixes in band_hash so different bands split a
    # mega-cluster differently and CC reconnects across salt groups
    return b.withColumn(
        "salt",
        F.when(
            F.col("cnt") > cfg.bucket_cap,
            F.pmod(F.xxhash64(F.col("doc_id"), F.col("band_hash")), n_salt).cast("int"),
        ).otherwise(F.lit(0)),
    )


def grouped_buckets(
    bucket_df: DataFrame, cfg: DedupConfig, extra_cols: tuple = ()
) -> DataFrame:
    """salted_buckets collapsed to ONE row per (band_hash, salt) group:
    (band_hash, salt, cnt, ds: array<struct<doc_id [, extra...]>>),
    ds holding each member doc once, sorted ascending by doc_id (struct
    sort is field-order, doc_id first; extra cols are per-doc, so
    doc_ids are unique within ds and the order is total).

    A group is built as a hash set of member rows (collect_set) and
    sorted once: O(m) inserts plus an O(m log m) sort per group of m
    rows. The aggregation rides the same hashpartitioning(band_hash)
    the census window already established (ClusteredDistribution
    accepts subset partitioning), so collapsing adds NO exchange — and
    it collapses only SURVIVORS (cnt >= 2 rows). Group arrays are
    bounded by ~cfg.bucket_cap via salting; the object-hash aggregate
    spills between groups under memory pressure.
    """
    b = salted_buckets(bucket_df, cfg, extra_cols=extra_cols)
    # collect_set: a doc CAN land twice in one group when two of its
    # bands hash equal (the embedding-LSH bucket source does not fold
    # the band index into the hash); its struct rows are identical, so
    # the set keeps one and no self-pair is generated.
    return b.groupBy("band_hash", "salt").agg(
        F.array_sort(F.collect_set(F.struct("doc_id", *extra_cols))).alias("ds"),
        F.first("cnt").alias("cnt"),
    )


def _sketch_pred(lhs: str, rhs: str, sketch_col: str, threshold: int):
    return F.expr(f"bit_count({lhs}.{sketch_col} ^ {rhs}.{sketch_col})") <= F.lit(
        threshold
    )


def _clique(
    g: DataFrame,
    sketch_col: str | None = None,
    hamming_threshold: int | None = None,
) -> DataFrame:
    """All within-group pairs, join-free: each grouped row streams its
    m(m-1)/2 ordered pairs through two generators (posexplode the
    sorted member array, then explode each member's suffix slice).
    Because ds is sorted by doc_id, position order IS value order —
    a < b needs no comparison, and no SortMergeJoin, no in-partition
    sorts, and no second read of the bucket exchange exist at all
    (the round-4 self-join re-executed the 240 MB exchange once per
    side: AQE's stage reuse does not fire when the subtree reads a
    cached relation). With a sketch column, far pairs die between the
    generators, before the cross-band distinct sees them.
    """
    e = g.select(F.posexplode("ds").alias("_i", "_x"), "ds").select(
        "_x", F.expr("slice(ds, _i + 2, size(ds) - _i - 1)").alias("_rest")
    )
    p = e.select("_x", F.explode("_rest").alias("_y"))
    if sketch_col is not None and hamming_threshold is not None:
        p = p.where(_sketch_pred("_x", "_y", sketch_col, hamming_threshold))
    return p.select(F.col("_x.doc_id").alias("a"), F.col("_y.doc_id").alias("b"))


def _anchor(
    g: DataFrame,
    sketch_col: str | None = None,
    hamming_threshold: int | None = None,
) -> DataFrame:
    """Spanning edges to each group's min doc_id — m-1 edges stream
    out of one generator regardless of group size (ds[0] is the anchor:
    the array is sorted by doc_id, matching the struct-min the window
    form used). This is why auto mode routes mega-buckets here.
    """
    e = g.select(
        F.col("ds")[0].alias("_a"),
        F.explode(F.expr("slice(ds, 2, size(ds) - 1)")).alias("_y"),
    )
    if sketch_col is not None and hamming_threshold is not None:
        e = e.where(_sketch_pred("_a", "_y", sketch_col, hamming_threshold))
    return e.select(F.col("_a.doc_id").alias("a"), F.col("_y.doc_id").alias("b"))


def _auto(
    g: DataFrame,
    anchor_threshold: int,
    sketch_col: str | None = None,
    hamming_threshold: int | None = None,
) -> DataFrame:
    """clique below anchor_threshold, anchor above — emitted by ONE
    fused generator pass instead of a union of two branches over a
    persisted grouped table. The union form made the grouped subtree a
    two-consumer cache, and AQE materializes union branches
    CONCURRENTLY: with the cache still cold, both branches recomputed
    the whole signatures+exchange+collapse pipeline in parallel
    (observed in the round-6 stage timeline as 2-3 identical ~64-task
    stages per e2e run — the same failure mode round 5 fixed for the
    self-join, reintroduced by the union). Per group the emitted rows
    are identical: small groups stream their suffix-slice pairs; large
    groups emit only position 0's anchor edges (ds[0] is the min).
    slice(ds, 1, 0) is the correctly-typed empty array for the
    non-anchor positions of large groups.
    """
    e = g.select(F.posexplode("ds").alias("_i", "_x"), "ds", "cnt").select(
        "_x",
        F.expr(
            f"IF(cnt <= {int(anchor_threshold)}, "
            "slice(ds, _i + 2, size(ds) - _i - 1), "
            "IF(_i = 0, slice(ds, 2, size(ds) - 1), slice(ds, 1, 0)))"
        ).alias("_rest"),
    )
    p = e.select("_x", F.explode("_rest").alias("_y"))
    if sketch_col is not None and hamming_threshold is not None:
        p = p.where(_sketch_pred("_x", "_y", sketch_col, hamming_threshold))
    return p.select(F.col("_x.doc_id").alias("a"), F.col("_y.doc_id").alias("b"))


def candidate_pairs(
    bucket_df: DataFrame,
    cfg: DedupConfig,
    mode: str = "clique",
    anchor_threshold: int = 64,
    sketch_col: str | None = None,
    hamming_threshold: int | None = None,
) -> DataFrame:
    """Distinct canonical candidate pairs (a < b) from bucket rows.

    Pair canonicalization + cross-band dedup mirrors the reference's
    MaxPairBuffer (maxpairbuffer.hpp:64-80 canonicalize, :33-46 dedup).

    sketch_col/hamming_threshold fuse the J7 sketch prefilter into the
    pair join (see module docstring); bucket_df must then carry
    sketch_col per row (explode_bands(..., extra_cols=[...])). The
    filter commutes with the cross-band distinct, so the surviving
    pair set equals running prefilter_pairs_by_simhash afterwards.

    Plan shape (round 5): the stage reads the bucket exchange EXACTLY
    once. grouped_buckets collapses the salted survivors to one row
    per group on the same partitioning, and pair generation is pure
    generators — no self-join exists anymore. The round-4 form joined
    the salted table with itself, and each join side (plus the anchor
    window in auto mode) re-executed the full explode+exchange+window
    because AQE's shuffle-stage reuse does not fire when the subtree
    scans a cached relation (the production pipeline persists the
    signature table): measured 3x 240 MB identical shuffle writes at
    500k docs — 60% of the e2e job's total shuffle volume, now 1x.
    Since round 6 auto mode emits through ONE fused generator (_auto)
    instead of a union of clique/anchor branches over a persisted
    grouped table — the union's two consumers raced to materialize the
    cold cache and recomputed the entire upstream pipeline
    concurrently (stage-timeline evidence in OPTIMIZATION_r06.md).
    """
    extra = (sketch_col,) if sketch_col is not None else ()
    g = grouped_buckets(bucket_df, cfg, extra_cols=extra)
    args = (sketch_col, hamming_threshold)
    if mode == "anchor":
        pairs = _anchor(g, *args)
    elif mode == "clique":
        pairs = _clique(g, *args)
    elif mode == "auto":
        # fused single-generator form: one consumer of the grouped
        # table, so no persist and no concurrent-branch recompute race
        # (see _auto docstring); emitted pair multiset identical to
        # clique(cnt<=thr) UNION anchor(cnt>thr)
        pairs = _auto(g, anchor_threshold, *args)
    else:
        raise ValueError(f"unknown pair mode {mode!r}")
    from clann_spark.session import track_cache

    return track_cache(pairs.dropDuplicates(["a", "b"]))
