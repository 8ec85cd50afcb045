"""MinHash / SimHash / band hashing — the LSH core (SURVEY.md §2.3).

Three hash families; the first two share a bit-identity contract:

  * Spark SQL expression builders (`*_sql`): pure JVM, whole-stage
    codegen, zero Python in the hot path. md5-based so the DuckDB
    oracle (clann_spark.oracles) reproduces values exactly.
  * NumPy twins (`np_*`): the definitions the flat Arrow kernels are
    tested against.
  * The `fast` production path (JVM xxhash64 word hashes + splitmix
    folds in one mapInArrow) for runs where oracle parity is not
    needed; its hash space is versioned by HASH_IMPL_VERSION.

The two signature kernels (md5_parity_signature_arrow for the `expr`
impl, fast_signature_arrow for `fast`) are both mapInArrow batch
functions and share one output layout (signature_fields /
_signature_batch).

Reference parity:
  MinHash       -> libpuffinn/include/puffinn/hash/minhash.hpp:97-127
  banding (L tables of concatenated functions)
                -> libpuffinn/include/puffinn/hash_source/independent.hpp:19-86
  SimHash sketch -> libpuffinn/include/puffinn/hash/simhash.hpp:41-45,
                   filterer.hpp:76-97 (here: one 60-bit fingerprint)

The reference draws hash functions from a seeded RNG at index build; we
derive (a_i, b_i) from md5 of seed strings (config.perm_params) so the
same literals are embeddable in ANSI SQL.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from clann_spark.config import MINHASH_PRIME, SIMHASH_BITS, DedupConfig

# ---------------------------------------------------------------------------
# 60-bit md5 hash of a string expression (Spark SQL)
# ---------------------------------------------------------------------------


def h60_sql(s_expr: str) -> str:
    """First 60 bits of md5 as bigint. Parity with config.md5_int60."""
    return f"cast(conv(substring(md5({s_expr}), 1, 15), 16, 10) as bigint)"


def shingle_hashes_sql(shingles_expr: str, prime: int = MINHASH_PRIME) -> str:
    """array<string> shingles -> array<bigint> distinct 31-bit set elements."""
    return f"array_distinct(transform({shingles_expr}, s -> {h60_sql('s')} % {prime}L))"


# ---------------------------------------------------------------------------
# MinHash signature
# ---------------------------------------------------------------------------


def minhash_sql(hashes_expr: str, cfg: DedupConfig) -> str:
    """array<bigint> set hashes -> array<bigint> signature (num_perm).

    sig_i = min over h of (a_i*h + b_i) mod P.  a_i < 2^31 and h < 2^31
    so a_i*h + b_i < 2^62: no int64 overflow in any engine.

    Expressed as a FOLD over the hash array (not a transform over the
    perms) so `hashes_expr` is evaluated exactly once per row even after
    Catalyst's CollapseProject inlines the md5 shingle-hash chain here:
    an expression placed in a higher-order function's *argument* slot is
    computed once, one placed inside the lambda is computed per element
    (verified via .explain; the transform-over-perms form re-hashed
    every shingle num_perm times).
    """
    p = cfg.prime
    perms = ", ".join(f"array({a}L, {b}L)" for a, b in cfg.perms)
    return (
        f"aggregate({hashes_expr}, "
        f"array_repeat({p}L, {cfg.num_perm}), "
        f"(acc, h) -> zip_with(acc, array({perms}), "
        f"(m, q) -> least(m, (q[0] * h + q[1]) % {p}L)))"
    )


def np_shingle_hashes(shingles: list[str], prime: int = MINHASH_PRIME) -> np.ndarray:
    return np.array(
        [int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16) % prime for s in shingles],
        dtype=np.int64,
    )


def np_minhash(hashes: np.ndarray, a: np.ndarray, b: np.ndarray, prime: int = MINHASH_PRIME) -> np.ndarray:
    """Vectorized signature: (num_perm,) int64. hashes: (n,) int64 < 2^31.

    Empty input -> all-PRIME signature (the fold identity; unreachable in
    the pipeline because shingling always emits >= 1 shingle).
    """
    if hashes.size == 0:
        return np.full(a.shape[0], prime, dtype=np.int64)
    # (num_perm, n) = a[:,None]*h[None,:] + b[:,None], all < 2^62
    m = (a[:, None] * hashes[None, :] + b[:, None]) % prime
    return m.min(axis=1)


# ---------------------------------------------------------------------------
# Band hashing (H8: concat r signature values -> 60-bit bucket key)
# ---------------------------------------------------------------------------


def bands_sql(sig_expr: str, cfg: DedupConfig) -> str:
    """array<bigint> sig -> array<bigint> band hashes (one per band).

    band_j = h60(md5('{j}-' || sig[j*r+1..j*r+r] joined with '-')).
    Equivalent role to the reference's 24-bit concatenated hash codes per
    table (independent.hpp:70-86) but with 60 bits — at 10^12 docs the
    24-bit space of the reference would saturate; 60 bits keeps expected
    accidental collisions per band ~ n^2/2^61 manageable and the exact
    verify stage removes any that occur.
    """
    r = cfg.rows_per_band
    key = f"concat_ws('-', j, slice({sig_expr}, j * {r} + 1, {r}))"
    return f"transform(sequence(0, {cfg.bands - 1}), j -> {h60_sql(key)})"


def np_band_hashes(sig: np.ndarray, cfg: DedupConfig) -> np.ndarray:
    r = cfg.rows_per_band
    out = np.empty(cfg.bands, dtype=np.int64)
    for j in range(cfg.bands):
        key = "-".join([str(j)] + [str(int(v)) for v in sig[j * r : j * r + r]])
        out[j] = int(hashlib.md5(key.encode()).hexdigest()[:15], 16)
    return out


# ---------------------------------------------------------------------------
# SimHash 60-bit fingerprint (H1/H11 sketch column)
# ---------------------------------------------------------------------------


def simhash_sql(word_hashes_expr: str, bits: int = SIMHASH_BITS) -> str:
    """array<bigint> 60-bit distinct word hashes -> bigint fingerprint.

    bit_j = 1 iff 2 * |{h : bit_j(h)=1}| >= |hashes| (majority; ties->1).
    Empty input -> 0.
    """
    hs = word_hashes_expr
    return (
        f"CASE WHEN size({hs}) = 0 THEN 0L ELSE "
        f"aggregate(sequence(0, {bits - 1}), 0L, (acc, j) -> acc + "
        f"CASE WHEN 2 * size(filter({hs}, h -> pmod(shiftright(h, j), 2) = 1)) "
        f">= size({hs}) THEN shiftleft(1L, j) ELSE 0L END) END"
    )


def word_hashes_sql(words_expr: str) -> str:
    """Distinct 60-bit hashes of tokens (SimHash input)."""
    return f"array_distinct(transform(array_distinct({words_expr}), w -> {h60_sql('w')}))"


def np_simhash(word_hashes: np.ndarray, bits: int = SIMHASH_BITS) -> int:
    if word_hashes.size == 0:
        return 0
    n = word_hashes.size
    ones = ((word_hashes[:, None] >> np.arange(bits)[None, :]) & 1).sum(axis=0)
    bitvec = (2 * ones >= n).astype(np.int64)
    return int((bitvec << np.arange(bits)).sum())


def hamming_sql(a_expr: str, b_expr: str) -> str:
    """Hamming distance between two 60-bit fingerprints (J7 sketch filter)."""
    return f"bit_count({a_expr} ^ {b_expr})"


# ---------------------------------------------------------------------------
# md5-parity vectorized path (round 6): JVM computes the md5 hash arrays
# (native md5 inside codegen'd/interpreted transforms — linear work);
# the MinHash fold, SimHash majority vote and band hashes — the
# quadratic-ish interpreted HOF terms — run vectorized in one
# mapInArrow. Values are BIT-IDENTICAL to the *_sql forms (np_minhash /
# np_simhash / np_band_hashes parity, pinned in tests/test_hashing.py),
# so the DuckDB oracle contract is unchanged.
# ---------------------------------------------------------------------------


def _segment_reduce(ufunc, vals: np.ndarray, offsets: np.ndarray, empty, dtype=None):
    """ufunc-reduce each segment vals[offsets[d]:offsets[d+1]] along
    axis 0 -> (n_segments, *vals.shape[1:]); empty segments get
    `empty`. offsets[0] == 0 and offsets[-1] == len(vals).

    ufunc.reduceat has no empty segment: a start equal to the next one
    yields vals[start], and a start == len(vals) raises. Reducing over
    the non-empty starts only is exact — only zero-length segments lie
    between two consecutive non-empty starts — and the results scatter
    back."""
    starts = offsets[:-1]
    nonempty = offsets[1:] > starts
    if nonempty.all():
        return ufunc.reduceat(vals, starts, axis=0, dtype=dtype)
    out = np.full(
        (starts.size, *vals.shape[1:]), empty, dtype=dtype or vals.dtype
    )
    if vals.size:
        out[nonempty] = ufunc.reduceat(vals, starts[nonempty], axis=0, dtype=dtype)
    return out


def _majority_vote(bits_mat: np.ndarray, w_off: np.ndarray, bits: int) -> np.ndarray:
    """(flat (n_words, 64) 0/1 bit matrix, doc offsets) -> (n_docs,)
    int64 with bit j = majority of column j over the doc's rows (ties
    -> 1), empty docs -> 0."""
    ones = _segment_reduce(np.add, bits_mat, w_off, 0, dtype=np.int64)
    counts = (w_off[1:] - w_off[:-1])[:, None]
    bitvec = (2 * ones >= counts) & (counts > 0)
    return (bitvec[:, :bits].astype(np.int64) << np.arange(bits)).sum(axis=1)


def _md5_minhash_flat(
    sh: np.ndarray, sh_off: np.ndarray, a: np.ndarray, b: np.ndarray, prime: int
) -> np.ndarray:
    """(flat int64 31-bit shingle hashes, doc offsets) -> (n_docs,
    num_perm) int64 signatures. Exactly minhash_sql's fold: per perm i,
    min over h of (a_i*h + b_i) % p; empty docs get the all-prime
    identity. a < 2^31 and h < 2^31 keep a*h+b < 2^62 — no overflow."""
    sig = np.empty((sh_off.size - 1, a.size), dtype=np.int64)
    for i in range(a.size):
        sig[:, i] = _segment_reduce(np.minimum, (a[i] * sh + b[i]) % prime, sh_off, prime)
    return sig


def _md5_simhash_flat(
    wh: np.ndarray, w_off: np.ndarray, bits: int = SIMHASH_BITS
) -> np.ndarray:
    """(flat uint64 distinct word hashes, doc offsets) -> (n_docs,)
    int64 fingerprints with simhash_sql's EXACT bit semantics: bit j of
    the output is the majority vote of bit j of the inputs (ties -> 1),
    empty -> 0. unpackbits(bitorder='little') on the little-endian byte
    view puts hash bit j in column j — no bit permutation, unlike the
    fast path's _simhash_from_words (whose permuted columns define
    their own hash space)."""
    bits_mat = np.unpackbits(wh.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little")
    return _majority_vote(bits_mat, w_off, bits)


def md5_parity_signature_arrow(
    cfg: DedupConfig,
    passthrough: list[str],
    include_shingles: bool = True,
    include_sig: bool = True,
):
    """mapInArrow batch fn: (passthrough..., shingle_hashes, _word_hashes)
    -> signature_fields layout, with values bit-identical to the
    minhash_sql/bands_sql/simhash_sql expression chain (the
    DuckDB-oracle hash space). The hash ARRAYS are JVM-computed (native
    md5); this function replaces only the interpreted per-element HOF
    evaluation — the term that made the oracle config's signature stage
    ~4x slower than the fast path."""
    a = np.array([p[0] for p in cfg.perms], dtype=np.int64)
    b = np.array([p[1] for p in cfg.perms], dtype=np.int64)
    prime = cfg.prime

    def _fn(batches):
        for batch in batches:
            shH, sh_off = _list_column_stream(batch.column("shingle_hashes"))
            whH, w_off = _list_column_stream(batch.column("_word_hashes"))
            sig = _md5_minhash_flat(shH.view(np.int64), sh_off, a, b, prime)
            simhash = _md5_simhash_flat(whH, w_off)
            bands = np.empty((sig.shape[0], cfg.bands), dtype=np.int64)
            for d in range(sig.shape[0]):
                bands[d] = np_band_hashes(sig[d], cfg)
            yield _signature_batch(
                batch,
                passthrough,
                batch.column("shingle_hashes") if include_shingles else None,
                sig if include_sig else None,
                simhash,
                bands,
            )

    return _fn


# ---------------------------------------------------------------------------
# Fast production signature path (Arrow-batched, fully vectorized NumPy;
# deterministic but NOT md5-parity — the oracle config stays 'expr')
# ---------------------------------------------------------------------------


def _splitmix_step(x: np.ndarray) -> np.ndarray:
    """One splitmix64-style avalanche round on uint64 (vectorized)."""
    x = x + np.uint64(0x9E3779B97F4A7C15)
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


_FOLD_SEED = np.uint64(0x9E3779B97F4A7C15)


def band_lane_indices(cfg: DedupConfig) -> np.ndarray:
    """(bands, rows_per_band) signature-lane indices per band.

    independent: contiguous blocks (independent.hpp:19-86 — one fresh
    function set per table). pooled: seeded draws from the shared
    num_perm-lane pool (pool.hpp:12-194 — cheaper lanes, dependent
    bands)."""
    from clann_spark.config import md5_int60

    if cfg.hash_source == "pooled":
        return np.array(
            [
                [
                    md5_int60(f"{cfg.seed}-pool-{j}-{t}") % cfg.num_perm
                    for t in range(cfg.rows_per_band)
                ]
                for j in range(cfg.bands)
            ],
            dtype=np.int64,
        )
    return np.arange(cfg.bands * cfg.rows_per_band).reshape(
        cfg.bands, cfg.rows_per_band
    )


def _fold_lanes(sig: np.ndarray, idx: np.ndarray, salt: int) -> np.ndarray:
    """(n, num_perm) signatures + (T, r) lane indices -> (n, T) folds."""
    n = sig.shape[0]
    lanes = sig[:, idx].astype(np.uint64)
    acc = np.full((n, idx.shape[0]), salt, dtype=np.uint64)
    acc ^= np.arange(idx.shape[0], dtype=np.uint64)[None, :] * np.uint64(0x100000001B3)
    for j in range(idx.shape[1]):
        acc = _splitmix_step(acc ^ lanes[:, :, j])
    return acc


def np_band_hashes_from_sig(sig: np.ndarray, cfg: DedupConfig) -> np.ndarray:
    """(n, num_perm) int64 signatures -> (n, bands) int64 band hashes,
    dispatched on cfg.hash_source.

    tensored (tensor.hpp:39-174): t1 left + t2 right half-folds (over
    r/2 lanes each) combine as an outer splitmix product into t1*t2
    band values — O(sqrt(bands)*r) lanes instead of O(bands*r)."""
    if cfg.hash_source == "tensored":
        t1, t2 = cfg.tensor_shape
        r_l = cfg.rows_per_band // 2
        r_r = cfg.rows_per_band - r_l
        li = np.arange(t1 * r_l).reshape(t1, r_l)
        ri = (t1 * r_l + np.arange(t2 * r_r)).reshape(t2, r_r)
        left = _fold_lanes(sig, li, 0x243F6A8885A308D3)
        right = _fold_lanes(sig, ri, 0x452821E638D01377)
        comb = _splitmix_step(left[:, :, None] ^ _splitmix_step(right)[:, None, :])
        n = sig.shape[0]
        return (comb.reshape(n, t1 * t2)[:, : cfg.bands] >> np.uint64(4)).astype(np.int64)
    acc = _fold_lanes(sig, band_lane_indices(cfg), 0x243F6A8885A308D3)
    return (acc >> np.uint64(4)).astype(np.int64)  # 60-bit non-negative


#: Version of the fast-path hash implementation. Folded into stage /
#: streaming-state fingerprints (sources/stages.py) so checkpoints and
#: committed corpus signatures written by an older hash space are
#: invalidated instead of silently joined against (band values from two
#: different hash impls never collide -> zero candidates, no error).
#: v1 = round-1 string shingles; v2 = round-2 siphash word folds;
#: v3 = round-3 JVM xxhash64 word hashes + splitmix folds;
#: v4 = exact segmented reduce (a batch ending in an empty doc no
#: longer drops the previous doc's last word from its SimHash).
HASH_IMPL_VERSION = 4


def _fold_stream(H: np.ndarray, offsets: np.ndarray, k: int):
    """Shared core of the fast path: shingle hashes as a k-lane splitmix
    fold over consecutive 64-bit word hashes (vectorized sliding
    slices). Word-window streams from all docs are folded in ONE pass;
    per-doc validity and in-doc dedup are mask/sort operations.

    The word hashes arrive pre-computed from the JVM
    (text.word_xxhash_sql: codegen'd lower/split/xxhash64) — round 3
    removed all Python tokenization/string hashing from this path; only
    array<bigint> crosses the Arrow boundary (the term that dominated
    the round-2 N->4N signature-stage attribution).

    Returns (uniq_shingle_hashes uint64, shingle_offsets,
             uniq_word_hashes uint64, word_offsets) — all per-doc
    contiguous segments, deduped within doc.

    Short docs (0 < words < k) get one variable-length fold (the
    'all their words' single shingle of the SQL path); empty docs get
    the bare fold seed (all empty docs collide — they ARE identical).
    """
    n_docs = offsets.size - 1
    N = H.size
    m = offsets[1:] - offsets[:-1]
    ends = offsets[1:]

    if N >= k:
        acc = np.full(N - k + 1, _FOLD_SEED, dtype=np.uint64)
        for j in range(k):
            acc = _splitmix_step(acc ^ H[j : j + N - k + 1])
        pos = np.arange(acc.size, dtype=np.int64)
        doc_of = np.searchsorted(offsets, pos, side="right") - 1
        valid = pos + k <= ends[doc_of]
        win_doc = doc_of[valid]
        win_hash = acc[valid]
    else:
        win_doc = np.empty(0, dtype=np.int64)
        win_hash = np.empty(0, dtype=np.uint64)

    extras_d, extras_h = [], []
    for d in np.where(m < k)[0]:
        accv = np.full(1, _FOLD_SEED, dtype=np.uint64)
        for p in range(offsets[d], ends[d]):
            accv = _splitmix_step(accv ^ H[p : p + 1])
        extras_d.append(int(d))
        extras_h.append(accv[0])
    if extras_d:
        win_doc = np.concatenate([win_doc, np.array(extras_d, dtype=np.int64)])
        win_hash = np.concatenate([win_hash, np.array(extras_h, dtype=np.uint64)])

    def _uniq_per_doc(doc_idx, values):
        order = np.lexsort((values, doc_idx))
        d, v = doc_idx[order], values[order]
        keep = np.ones(d.size, dtype=bool)
        if d.size:
            keep[1:] = (d[1:] != d[:-1]) | (v[1:] != v[:-1])
        d, v = d[keep], v[keep]
        return v, np.searchsorted(d, np.arange(n_docs + 1))

    sh_hash, sh_off = _uniq_per_doc(win_doc, win_hash)
    word_doc = np.repeat(np.arange(n_docs, dtype=np.int64), m)
    w_hash, w_uoff = _uniq_per_doc(word_doc, H)
    return sh_hash, sh_off, w_hash, w_uoff


def perm_multipliers(cfg: DedupConfig) -> np.ndarray:
    """Seeded odd 64-bit multipliers — one uint64 bijection per MinHash
    permutation. Part of the fast hash space (HASH_IMPL_VERSION
    contract)."""
    return (
        pd.util.hash_array(
            np.asarray(
                [f"perm-{cfg.seed}-{i}" for i in range(cfg.num_perm)], dtype=object
            ),
            hash_key=f"{cfg.seed:016d}"[:16],
        )
        | np.uint64(1)
    )


def _minhash_from_folds(
    sh: np.ndarray, sh_off: np.ndarray, mults: np.ndarray, prime: int
) -> np.ndarray:
    """(flat uint64 shingle folds, doc offsets) -> (n_docs, num_perm)
    int64 signatures. Multiply-bijection + np.minimum.reduceat, >>33 so
    values stay 31-bit (schema parity with the oracle path)."""
    sig = np.empty((sh_off.size - 1, mults.size), dtype=np.uint64)
    # empty docs reduce to prime << 33, which the >> 33 maps to prime
    empty = np.uint64(prime) << np.uint64(33)
    for i in range(mults.size):
        sig[:, i] = _segment_reduce(np.minimum, sh * mults[i], sh_off, empty)
    sig >>= np.uint64(33)
    return sig.astype(np.int64)


def _simhash_from_words(wh_u: np.ndarray, w_off: np.ndarray) -> np.ndarray:
    """(flat distinct uint64 word hashes, doc offsets) -> (n_docs,)
    int64 60-bit SimHash fingerprints (majority vote per bit).

    unpackbits on the little-endian byte view: bit j of the hash is
    column 8*(j//8) + (7 - j%8) — a fixed permutation of columns, i.e.
    still 64 independent LSH bits (we take 60)."""
    bits_mat = np.unpackbits(wh_u.view(np.uint8).reshape(-1, 8), axis=1)
    return _majority_vote(bits_mat, w_off, SIMHASH_BITS)


# ---------------------------------------------------------------------------
# Arrow batch plumbing and the fast kernels (mapInArrow — zero pandas,
# zero per-row Python)
# ---------------------------------------------------------------------------


def _list_column_stream(arr) -> tuple[np.ndarray, np.ndarray]:
    """pyarrow List/LargeList column of int64 -> (flat uint64 value
    stream, int64 doc offsets) with ZERO per-row work: the Arrow list
    layout already IS (values buffer, offsets buffer) — we only
    normalize the slice base. Null entries are not expected (the
    producing SQL coalesces text to '' so every row is a, possibly
    empty, array); a null-bearing column raises rather than folding
    unspecified child values."""
    import pyarrow as pa

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if arr.null_count:
        raise ValueError("signature kernels require non-null hash arrays")
    off = np.asarray(arr.offsets, dtype=np.int64)
    vals = np.asarray(arr.values)
    H = vals[off[0] : off[-1]].astype(np.int64, copy=False).view(np.uint64)
    return H, off - off[0]


def _list_array_from_segments(values: np.ndarray, offsets: np.ndarray):
    """(flat int64 values, int64 offsets) -> pyarrow ListArray, built
    from the buffers directly (no Python lists)."""
    import pyarrow as pa

    if len(offsets) and offsets[-1] > np.iinfo(np.int32).max:
        # Spark's ArrayType maps to list<int32-offset>; a silent int32
        # wrap here would corrupt every list boundary in the batch.
        raise OverflowError(
            f"Arrow batch has {offsets[-1]} flat list values (> int32 max); "
            "lower spark.sql.execution.arrow.maxRecordsPerBatch"
        )
    return pa.ListArray.from_arrays(
        pa.array(offsets.astype(np.int32, copy=False)),
        pa.array(values.astype(np.int64, copy=False)),
    )


def _shingle31_segments(
    sh: np.ndarray, sh_off: np.ndarray, prime: int
) -> tuple[np.ndarray, np.ndarray]:
    """Per-doc-distinct uint64 shingle folds -> per-doc-distinct 31-bit
    hashes (>>33 % prime), deduped again per doc (the projection can
    collide inside a doc), fully vectorized."""
    hs31 = ((sh >> np.uint64(33)).astype(np.int64)) % prime
    n_docs = sh_off.size - 1
    doc_idx = np.repeat(np.arange(n_docs, dtype=np.int64), sh_off[1:] - sh_off[:-1])
    order = np.lexsort((hs31, doc_idx))
    d, v = doc_idx[order], hs31[order]
    keep = np.ones(d.size, dtype=bool)
    if d.size:
        keep[1:] = (d[1:] != d[:-1]) | (v[1:] != v[:-1])
    d, v = d[keep], v[keep]
    return v, np.searchsorted(d, np.arange(n_docs + 1))


def _rows_list_array(mat: np.ndarray):
    """(n, w) int64 matrix -> ListArray of n rows of w values each."""
    n, w = mat.shape
    return _list_array_from_segments(
        mat.reshape(-1), np.arange(n + 1, dtype=np.int64) * w
    )


def signature_fields(include_shingles: bool = True, include_sig: bool = True) -> list:
    """Spark fields both signature kernels append after the passthrough
    columns, in _signature_batch's order."""
    from pyspark.sql.types import ArrayType, LongType, StructField

    fields = []
    if include_shingles:
        fields.append(StructField("shingle_hashes", ArrayType(LongType())))
    if include_sig:
        fields.append(StructField("sig", ArrayType(LongType())))
    fields.append(StructField("simhash", LongType()))
    fields.append(StructField("bands", ArrayType(LongType())))
    return fields


def _signature_batch(batch, passthrough, shingles, sig, simhash, bands):
    """Output RecordBatch of both signature kernels: the passthrough
    columns, then [shingle_hashes] (an Arrow list array, or None),
    [sig] ((n, num_perm), or None), simhash (n,) and bands (n, bands)
    — the signature_fields layout."""
    import pyarrow as pa

    arrays = [batch.column(c) for c in passthrough]
    names = list(passthrough)
    if shingles is not None:
        arrays.append(shingles)
        names.append("shingle_hashes")
    if sig is not None:
        arrays.append(_rows_list_array(sig))
        names.append("sig")
    arrays.append(pa.array(simhash))
    names.append("simhash")
    arrays.append(_rows_list_array(bands))
    names.append("bands")
    return pa.RecordBatch.from_arrays(arrays, names)


def fast_signature_arrow(
    cfg: DedupConfig,
    passthrough: list[str],
    include_shingles: bool = True,
    include_sig: bool = True,
):
    """mapInArrow batch function: (passthrough..., _wh array<long>) ->
    signature_fields layout, in the fast hash space (HASH_IMPL_VERSION).

      * the word hashes arrive from the JVM (text.word_xxhash_sql:
        codegen'd lower/split/xxhash64) and are read straight from the
        Arrow buffers (values + offsets) — Python never sees text;
      * shingle hashes are a k-lane splitmix fold over consecutive
        word hashes — no k-gram strings are ever built (_fold_stream);
      * MinHash = per permutation, multiply by a seeded odd 64-bit
        constant (a bijection on uint64) and take a segmented minimum —
        one vector multiply per permutation, no mod;
      * SimHash = unpackbits bit matrix + segmented-sum majority vote;
      * band hashes = splitmix64 rounds folding the r lanes.

    Outputs are built from flat ndarrays: no Arrow->pandas conversion,
    no per-row ndarray objects, no Python lists on the way out."""
    mults = perm_multipliers(cfg)
    prime = cfg.prime
    k = cfg.shingle_k

    def _fn(batches):
        for batch in batches:
            H, offsets = _list_column_stream(batch.column("_wh"))
            sh, sh_off, wh_u, w_off = _fold_stream(H, offsets, k)
            sig = _minhash_from_folds(sh, sh_off, mults, prime)
            simhash = _simhash_from_words(wh_u, w_off)
            bands = np_band_hashes_from_sig(sig, cfg)
            shingles = (
                _list_array_from_segments(*_shingle31_segments(sh, sh_off, prime))
                if include_shingles
                else None
            )
            yield _signature_batch(
                batch, passthrough, shingles, sig if include_sig else None, simhash, bands
            )

    return _fn


def fast_shingle_hashes_arrow(cfg: DedupConfig, passthrough: list[str]):
    """mapInArrow batch function: (passthrough..., _wh) ->
    (passthrough..., shingle_hashes array<long>), the same shingle
    folds as fast_signature_arrow. Used by the verify stage to
    re-derive candidate shingle sets."""
    import pyarrow as pa

    prime = cfg.prime
    k = cfg.shingle_k

    def _fn(batches):
        for batch in batches:
            H, offsets = _list_column_stream(batch.column("_wh"))
            sh, sh_off, _, _ = _fold_stream(H, offsets, k)
            v31, off31 = _shingle31_segments(sh, sh_off, prime)
            arrays = [batch.column(c) for c in passthrough]
            arrays.append(_list_array_from_segments(v31, off31))
            yield pa.RecordBatch.from_arrays(arrays, list(passthrough) + ["shingle_hashes"])

    return _fn
