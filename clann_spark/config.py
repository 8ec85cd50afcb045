"""Engine configuration.

The reference's runtime-adaptive recall machinery (prefix shortening +
failure-probability stopping, libpuffinn collection.hpp:484-495,
independent.hpp:108-119) is replaced by *static plan-time* banding math
(see clann_spark.planner): we pick (bands, rows_per_band) offline so
that P(candidate | jaccard >= tau) >= target_recall.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass, field, replace

#: Mersenne prime 2^31 - 1. MinHash permutations operate mod this prime;
#: keeping the hash space at 31 bits means (a * h + b) stays below 2^62
#: and never overflows int64 in Spark SQL, DuckDB *or* NumPy — which is
#: what makes the three engines bit-identical. Band hashes re-expand the
#: entropy to 60 bits (r values × 31 bits → md5 → 60-bit int), so bucket
#: collisions are not limited by the 31-bit space.
MINHASH_PRIME = (1 << 31) - 1

#: SimHash fingerprints use 60 bits so they always fit in a *positive*
#: int64 (SQL engines differ on >> semantics for negatives).
SIMHASH_BITS = 60


def md5_int60(s: str) -> int:
    """First 60 bits of md5(s) as a non-negative int64.

    Parity contract (tested in tests/test_hashing.py):
      Spark : cast(conv(substring(md5(s), 1, 15), 16, 10) as bigint)
      DuckDB: list_sum([(strpos('0123456789abcdef', md5(s)[i]) - 1)::BIGINT
                         * (1::BIGINT << (4*(15-i))) for i in range(1,16)])
    """
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def perm_params(num_perm: int, seed: int) -> list[tuple[int, int]]:
    """Deterministic MinHash permutation coefficients (a_i, b_i), a_i >= 1.

    Derived from md5 of seed strings rather than an RNG so the exact same
    literals can be inlined into the DuckDB oracle SQL.
    Mirrors the reference's seeded tabulation hash init
    (libpuffinn minhash.hpp:18-30), minus the per-query adaptivity.
    """
    p = MINHASH_PRIME
    return [
        (
            md5_int60(f"{seed}-minhash-a-{i}") % (p - 1) + 1,
            md5_int60(f"{seed}-minhash-b-{i}") % p,
        )
        for i in range(num_perm)
    ]


@dataclass(frozen=True)
class DedupConfig:
    """Full configuration of the dedup pipeline.

    Defaults follow SURVEY.md §7 milestone 0: 5-word shingles, 128
    permutations in 32 bands × 4 rows, design threshold tau=0.8,
    target recall 0.99 (BASELINE.json north_rule).
    """

    shingle_k: int = 5
    num_perm: int = 128
    bands: int = 32
    rows_per_band: int = 4
    tau: float = 0.8
    target_recall: float = 0.99
    seed: int = 42

    # Band hash source (reference hash_source family):
    #   independent : each band folds its own contiguous block of
    #                 rows_per_band signature lanes (independent.hpp) —
    #                 requires bands * rows_per_band == num_perm.
    #   pooled      : each band folds rows_per_band lanes drawn (seeded)
    #                 from the shared num_perm-lane pool (pool.hpp:12-194)
    #                 — many bands from few lanes; bands are dependent,
    #                 so the recall formula is approximate (exactly the
    #                 reference's trade).
    #   tensored    : bands are (left, right) half-code pairs from two
    #                 small pools (tensor.hpp:39-174) — L1+L2 half-folds
    #                 give L1*L2 bands; lane cost O(sqrt(bands)*r).
    # Only the 'fast' signature impl supports pooled/tensored (the
    # md5-expr oracle path stays independent).
    hash_source: str = "independent"

    # Skew handling (north_rule: explicit; reference has none —
    # collection.hpp:415-441 loops whole segments unconditionally).
    bucket_cap: int = 5000

    # Row-count gate for map-side (broadcast) joins of derived small
    # tables (candidate pairs, candidate-doc id lists, bucket censuses).
    # At or below the limit the side is broadcast; above it every such
    # join degrades to a parallel shuffle join — the 10^12-doc path,
    # where a duplicate-heavy corpus can make "candidates" billions of
    # rows that no executor could hold. Tests force 0 to prove the pure
    # shuffle plan produces the identical pair set.
    broadcast_limit: int = 4_000_000

    # SimHash prefilter: candidate pairs with Hamming distance above
    # this on the 60-bit fingerprint are dropped before exact verify
    # (ref: filterer.hpp:20-32 sketch filter). The reference ALWAYS
    # filters (filterer.hpp:20-32), so the default is 'auto': the
    # planner's recall-accounted threshold (planned_prefilter — per-pair
    # drop probability <= 1e-4, and the flagship pair set is proven
    # unchanged in tests/test_dedup_recall.py). None disables it — the
    # oracle configs opt out because the DuckDB SQL does not model the
    # filter. Resolve via cfg.hamming_threshold, not this field.
    hamming_prefilter: int | str | None = "auto"

    # 'expr'  : md5 hash arrays from Spark SQL, MinHash/SimHash/band
    #           folds in one NumPy mapInArrow; bit-identical to the
    #           DuckDB oracle.
    # 'pandas': per-doc hashlib pandas UDF, same md5 values as 'expr'.
    # 'xxhash': 'expr' with JVM xxhash64 hashes; not oracle-checkable.
    # 'fast'  : JVM xxhash64 word hashes, then splitmix shingle folds,
    #           MinHash, SimHash and bands in one NumPy mapInArrow;
    #           deterministic, not oracle-checkable — the scale path.
    signature_impl: str = "expr"

    def __post_init__(self) -> None:
        if self.hash_source == "independent":
            if self.bands * self.rows_per_band != self.num_perm:
                raise ValueError(
                    f"bands*rows_per_band ({self.bands}*{self.rows_per_band}) "
                    f"!= num_perm ({self.num_perm})"
                )
        elif self.hash_source == "pooled":
            if self.num_perm < self.rows_per_band:
                raise ValueError("pool (num_perm) smaller than rows_per_band")
        elif self.hash_source == "tensored":
            t1, t2 = self.tensor_shape
            r_l = self.rows_per_band // 2
            r_r = self.rows_per_band - r_l
            need = t1 * r_l + t2 * r_r
            if need > self.num_perm:
                raise ValueError(
                    f"tensored needs {need} lanes (t1={t1}, t2={t2}) "
                    f"> num_perm ({self.num_perm})"
                )
        else:
            raise ValueError(f"bad hash_source {self.hash_source!r}")
        if self.hash_source != "independent" and self.signature_impl != "fast":
            raise ValueError(
                f"hash_source={self.hash_source!r} requires signature_impl='fast'"
            )
        if self.signature_impl not in ("expr", "pandas", "xxhash", "fast"):
            raise ValueError(f"bad signature_impl {self.signature_impl!r}")
        hp = self.hamming_prefilter
        if not (hp is None or hp == "auto" or (isinstance(hp, int) and hp >= 0)):
            raise ValueError(f"bad hamming_prefilter {hp!r}")

    @property
    def tensor_shape(self) -> tuple[int, int]:
        """(t1, t2) half-code pool sizes with t1*t2 >= bands (the first
        `bands` pairs are used, tensor.hpp semantics)."""
        import math as _math

        t1 = max(1, _math.isqrt(self.bands))
        t2 = (self.bands + t1 - 1) // t1
        return t1, t2

    @property
    def hamming_threshold(self) -> int | None:
        """Resolved J7 sketch-filter threshold (None = filter disabled)."""
        if self.hamming_prefilter == "auto":
            from clann_spark.planner import planned_prefilter

            return planned_prefilter(self)
        return self.hamming_prefilter

    @property
    def prime(self) -> int:
        return MINHASH_PRIME

    @property
    def perms(self) -> list[tuple[int, int]]:
        return perm_params(self.num_perm, self.seed)

    def with_(self, **kw) -> "DedupConfig":
        return replace(self, **kw)


def load_configs_from_file(path: str) -> list["DedupConfig"]:
    """S7 benchmark-config source (benches/utils/mod.rs:8-14 analog):
    a JSON file holding either a single config object or
    {"configs": [{...}, ...]} of DedupConfig field overrides."""
    with open(path) as f:
        data = json.load(f)
    items = data["configs"] if isinstance(data, dict) and "configs" in data else [data]
    return [DedupConfig(**item) for item in items]
