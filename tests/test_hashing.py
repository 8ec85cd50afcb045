"""Bit-identity contract: Spark SQL exprs == NumPy twins == DuckDB oracle.

This is the analog of the reference's serialization/determinism tests
(libpuffinn collection_test.hpp:291-336): signatures must be a pure
function of content — identical across engines, retries, parallelism.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from clann_spark import oracles as OQ
from clann_spark.config import DedupConfig, md5_int60, perm_params
from clann_spark.functions import hashing as H
from clann_spark.functions import text as T

CFG = DedupConfig(num_perm=16, bands=4, rows_per_band=4)

SAMPLE = [
    (1, "The quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy dog"),  # case dup of 1
    (3, "a completely different document about spark and large scale data"),
    (4, "short"),
    (5, ""),
    (6, "  padded   whitespace\ttabs\nnewlines  here  "),
]


@pytest.fixture(scope="module")
def sample_df(spark):
    return spark.createDataFrame(SAMPLE, "doc_id long, text string")


def _spark_rows(spark, df, cfg):
    sh = T.shingles_sql("text", cfg.shingle_k)
    hs = H.shingle_hashes_sql(sh)
    wh = H.word_hashes_sql(T.words_sql("text"))
    out = df.select(
        "doc_id",
        F.expr(hs).alias("hashes"),
        F.expr(H.minhash_sql(hs, cfg)).alias("sig"),
        F.expr(H.bands_sql(H.minhash_sql(hs, cfg), cfg)).alias("bands"),
        F.expr(H.simhash_sql(wh)).alias("simhash"),
    )
    return {r["doc_id"]: r for r in out.collect()}


def _duck_rows(cfg):
    con = duckdb.connect()
    con.execute("CREATE TABLE t(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", SAMPLE)
    sh = OQ.duck_shingles("text", cfg.shingle_k)
    hs = OQ.duck_shingle_hashes(sh)
    q = f"""
      SELECT doc_id,
             {hs} AS hashes,
             {OQ.duck_minhash(hs, cfg)} AS sig,
             {OQ.duck_bands(OQ.duck_minhash(hs, cfg), cfg)} AS bands,
             {OQ.duck_simhash(OQ.duck_word_hashes('text'))} AS simhash
      FROM t
    """
    return {r[0]: r for r in con.sql(q).fetchall()}


def test_md5_int60_matches_spark(spark):
    df = spark.createDataFrame([("abc",), ("", ), ("clann spark",)], "s string")
    got = {r["s"]: r["h"] for r in df.select("s", F.expr(H.h60_sql("s")).alias("h")).collect()}
    for s, h in got.items():
        assert h == md5_int60(s)


def test_perm_params_deterministic():
    p1 = perm_params(8, 42)
    p2 = perm_params(8, 42)
    assert p1 == p2
    assert p1 != perm_params(8, 43)
    assert all(a >= 1 for a, _ in p1)


def test_spark_equals_numpy(spark, sample_df):
    rows = _spark_rows(spark, sample_df, CFG)
    a = np.array([p[0] for p in CFG.perms], dtype=np.int64)
    b = np.array([p[1] for p in CFG.perms], dtype=np.int64)
    for doc_id, text in SAMPLE:
        sh = T.py_shingles(text, CFG.shingle_k)
        hs = np.unique(H.np_shingle_hashes(sh))
        assert sorted(rows[doc_id]["hashes"]) == hs.tolist(), f"doc {doc_id} hashes"
        sig = H.np_minhash(hs, a, b)
        assert rows[doc_id]["sig"] == sig.tolist(), f"doc {doc_id} sig"
        assert rows[doc_id]["bands"] == H.np_band_hashes(sig, CFG).tolist()
        wh = np.unique(
            np.array([md5_int60(w) for w in set(T.py_words(text))], dtype=np.int64)
        ) if text.strip() else np.array([], dtype=np.int64)
        assert rows[doc_id]["simhash"] == H.np_simhash(wh), f"doc {doc_id} simhash"


def test_spark_equals_duckdb(spark, sample_df):
    s_rows = _spark_rows(spark, sample_df, CFG)
    d_rows = _duck_rows(CFG)
    for doc_id, _ in SAMPLE:
        s, d = s_rows[doc_id], d_rows[doc_id]
        assert sorted(s["hashes"]) == sorted(d[1]), f"doc {doc_id} hashes"
        assert s["sig"] == list(d[2]), f"doc {doc_id} sig"
        assert s["bands"] == list(d[3]), f"doc {doc_id} bands"
        assert s["simhash"] == d[4], f"doc {doc_id} simhash"


def test_pandas_udf_equals_expr(spark, sample_df):
    cfg = CFG
    expr_rows = _spark_rows(spark, sample_df, cfg)
    udf = H.signature_udf(cfg)
    got = {
        r["doc_id"]: r
        for r in sample_df.select("doc_id", udf("text").alias("s")).select(
            "doc_id", "s.shingle_hashes", "s.sig", "s.simhash"
        ).collect()
    }
    for doc_id, _ in SAMPLE:
        assert sorted(got[doc_id]["shingle_hashes"]) == sorted(expr_rows[doc_id]["hashes"])
        assert got[doc_id]["sig"] == expr_rows[doc_id]["sig"]
        assert got[doc_id]["simhash"] == expr_rows[doc_id]["simhash"]


def test_simhash_similar_docs_close(spark):
    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5),
            (2, "alpha beta gamma delta epsilon zeta eta theta iota kappaX " * 5),
            (3, "totally unrelated words nothing shared here at all xyz qrs"),
        ],
        "doc_id long, text string",
    )
    wh = H.word_hashes_sql(T.words_sql("text"))
    rows = {r["doc_id"]: r["sh"] for r in df.select("doc_id", F.expr(H.simhash_sql(wh)).alias("sh")).collect()}
    ham12 = bin(rows[1] ^ rows[2]).count("1")
    ham13 = bin(rows[1] ^ rows[3]).count("1")
    assert ham12 < ham13


def test_md5_parity_arrow_path_equals_sql_exprs(spark, sample_df):
    """Round-6 pin: compute_signatures' vectorized md5-parity path
    (JVM hash arrays + md5_parity_signature_arrow for the MinHash
    fold / SimHash vote / band folds) is bit-identical to the
    definitional *_sql expression chain it replaced — including the
    empty-doc, short-doc and whitespace edge rows."""
    from clann_spark.operators.signatures import compute_signatures

    cfg = CFG
    expr_rows = _spark_rows(spark, sample_df, cfg)
    got = {
        r["doc_id"]: r
        for r in compute_signatures(sample_df, cfg).select(
            "doc_id", "shingle_hashes", "sig", "bands", "simhash"
        ).collect()
    }
    for doc_id, _ in SAMPLE:
        assert sorted(got[doc_id]["shingle_hashes"]) == sorted(
            expr_rows[doc_id]["hashes"]
        ), f"doc {doc_id} hashes"
        assert got[doc_id]["sig"] == expr_rows[doc_id]["sig"], f"doc {doc_id} sig"
        assert got[doc_id]["bands"] == expr_rows[doc_id]["bands"], f"doc {doc_id} bands"
        assert got[doc_id]["simhash"] == expr_rows[doc_id]["simhash"], f"doc {doc_id} simhash"


def test_xxhash_impl_runs_and_matches_dedup_outcome(spark):
    """The xxhash impl shares the round-6 vectorized fold path with the
    expr impl (different hash space, same structure); pin that it runs
    and that the verified pair set — which is hash-space independent
    for clear duplicates — matches the md5 impl on a fixture of exact
    and near duplicates."""
    from clann_spark.pipeline import run_dedup

    rows = []
    for i in range(30):
        base = f"some stable sentence about topic {i} repeated for shingles " * 6
        rows.append((i, base))
        if i % 3 == 0:  # near-dup: one word appended
            rows.append((1000 + i, base + "tail"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def pairset(impl):
        res = run_dedup(
            docs,
            DedupConfig(signature_impl=impl, hamming_prefilter=None),
            pair_mode="clique",
        )
        out = {(r["a"], r["b"]) for r in res.verified.collect()}
        res.unpersist()
        return out

    assert pairset("xxhash") == pairset("expr")


# ---------------------------------------------------------------------------
# Flat (segmented) kernels on hostile batch shapes: empty docs at any
# position, trailing empties, all-empty batches, one-row batches.
# ---------------------------------------------------------------------------

_SEG_LENS = st.lists(st.integers(0, 5), min_size=1, max_size=10)


def _ragged(lens, seed, bits):
    """(flat uint64 values < 2^bits, int64 doc offsets) for segment lens."""
    off = np.zeros(len(lens) + 1, dtype=np.int64)
    np.cumsum(lens, out=off[1:])
    rng = np.random.default_rng(seed)
    vals = rng.integers(0, 1 << bits, size=off[-1], dtype=np.uint64)
    return vals, off


def _segments(vals, off):
    return [vals[off[d] : off[d + 1]] for d in range(off.size - 1)]


def _fast_bit_order(wh: np.ndarray) -> np.ndarray:
    """Word hashes with bits permuted into the column order the fast
    SimHash votes in (unpackbits' MSB-first order per little-endian
    byte), so np_simhash is its definitional twin."""
    out = np.zeros(wh.size, dtype=np.uint64)
    for c in range(64):
        src = 8 * (c // 8) + 7 - c % 8
        out |= ((wh >> np.uint64(src)) & np.uint64(1)) << np.uint64(c)
    return out


_HOSTILE = (
    example(lens=[0], seed=0),
    example(lens=[0, 0, 0], seed=0),
    example(lens=[3], seed=0),
    example(lens=[3, 0], seed=0),
    example(lens=[0, 3], seed=0),
    example(lens=[2, 0, 0, 4, 0], seed=0),
)


def _hostile(f):
    for ex in _HOSTILE:
        f = ex(f)
    return settings(max_examples=60, deadline=None)(
        given(lens=_SEG_LENS, seed=st.integers(0, 2**32 - 1))(f)
    )


@_hostile
def test_md5_minhash_flat_matches_np_minhash(lens, seed):
    a = np.array([p[0] for p in CFG.perms], dtype=np.int64)
    b = np.array([p[1] for p in CFG.perms], dtype=np.int64)
    sh, off = _ragged(lens, seed, 31)
    sh = sh.astype(np.int64)
    got = H._md5_minhash_flat(sh, off, a, b, CFG.prime)
    for d, seg in enumerate(_segments(sh, off)):
        assert got[d].tolist() == H.np_minhash(seg, a, b, CFG.prime).tolist(), d


@_hostile
def test_md5_simhash_flat_matches_np_simhash(lens, seed):
    wh, off = _ragged(lens, seed, 64)
    got = H._md5_simhash_flat(wh, off)
    for d, seg in enumerate(_segments(wh, off)):
        assert got[d] == H.np_simhash(seg.view(np.int64)), d


@_hostile
def test_fast_simhash_matches_np_simhash(lens, seed):
    wh, off = _ragged(lens, seed, 64)
    got = H._simhash_from_words(wh, off)
    for d, seg in enumerate(_segments(wh, off)):
        assert got[d] == H.np_simhash(_fast_bit_order(seg).view(np.int64)), d


@_hostile
def test_fast_minhash_matches_per_doc_fold(lens, seed):
    cfg = DedupConfig(signature_impl="fast", num_perm=16, bands=4, rows_per_band=4)
    mults = H.perm_multipliers(cfg)
    sh, off = _ragged(lens, seed, 64)
    got = H._minhash_from_folds(sh, off, mults, cfg.prime)
    for d, seg in enumerate(_segments(sh, off)):
        want = (
            ((seg[:, None] * mults[None, :]).min(axis=0) >> np.uint64(33)).astype(np.int64)
            if seg.size
            else np.full(mults.size, cfg.prime)
        )
        assert got[d].tolist() == want.tolist(), d


_BATCH_FNS = {
    "fast": lambda cfg: H.fast_signature_arrow(cfg, ["doc_id"]),
    "md5": lambda cfg: H.md5_parity_signature_arrow(cfg, ["doc_id"]),
}


@pytest.mark.parametrize("impl", sorted(_BATCH_FNS))
@settings(max_examples=30, deadline=None)
@given(
    words=st.lists(
        st.lists(st.integers(0, 2**62), max_size=8), min_size=1, max_size=8
    )
)
@example(words=[[1, 2, 3, 4, 5, 6], []])
@example(words=[[], []])
def test_signature_batch_is_rowwise(impl, words):
    """A doc's signature is a function of its own hashes only: computed
    inside a ragged Arrow batch it equals the same doc computed as a
    one-row batch, whatever empty docs surround it."""
    import pyarrow as pa

    cfg = DedupConfig(num_perm=16, bands=4, rows_per_band=4)
    fn = _BATCH_FNS[impl](cfg)

    def run(rows):
        hashes = pa.array([w for _, w in rows], pa.list_(pa.int64()))
        shingles = pa.array(
            [[h % cfg.prime for h in w] for _, w in rows], pa.list_(pa.int64())
        )
        batch = pa.RecordBatch.from_arrays(
            [pa.array([i for i, _ in rows], pa.int64()), hashes, shingles, hashes],
            ["doc_id", "_wh", "shingle_hashes", "_word_hashes"],
        )
        return next(iter(fn([batch]))).to_pylist()

    rows = list(enumerate(words))
    whole = run(rows)
    for i, w in rows:
        assert whole[i] == run([(i, w)])[0], i


@pytest.mark.parametrize("impl", ["expr", "fast"])
def test_null_and_empty_text_keep_neighbour_signatures(spark, impl):
    """Every input partition (one Arrow batch each) ends in a null or
    empty text; the doc before it must keep the signature it gets on
    its own."""
    from clann_spark.operators.signatures import compute_signatures

    cfg = DedupConfig(
        signature_impl=impl, num_perm=16, bands=4, rows_per_band=4, hamming_prefilter=None
    )
    k = spark.sparkContext.defaultParallelism
    texts = {2 * i: f"plain words about topic {i} and then some more words" for i in range(k)}

    def sigs(rows):
        rdd = spark.sparkContext.parallelize(rows, k)
        df = spark.createDataFrame(rdd, "doc_id long, text string")
        return {
            r["doc_id"]: (r["shingle_hashes"], r["sig"], r["bands"], r["simhash"])
            for r in compute_signatures(df, cfg).collect()
        }

    alone = sigs(sorted(texts.items()))
    batched = sigs(
        [row for d, t in sorted(texts.items()) for row in ((d, t), (d + 1, None if d % 4 else ""))]
    )
    for d in texts:
        assert batched[d] == alone[d], d
    assert len({repr(batched[d + 1]) for d in texts}) == 1
