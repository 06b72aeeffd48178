"""Arrow-vectorized sketch kernels (Pandas UDFs).

Why Python here, when the engine rule is stay-JVM-side: Spark's
higher-order array functions (`transform`/`aggregate`/`filter`) are
`CodegenFallback` — every lambda application evaluates interpreted,
with boxed objects, outside whole-stage codegen.  The sketch kernels
below are dense numeric inner loops (num_hashes x shingles, or
planes x dim, per row): 10^6-10^8 element-ops per batch, ~100 ns/op
interpreted vs ~1 ns/op in numpy.  Measured at sf0.1 (5000 docs / 2000
vectors): the MinHash signature projection dropped 3.2s -> ~0.3s, the
hyperplane signature similarly ~10x.

Scale story is unchanged from the HOF formulation: these are per-row
projections with NO shuffle; Arrow batches the transfer (linear, off
the JVM heap) and `spark.python.worker.reuse` amortizes worker
startup.  Everything around them (tokenize/shingle feeding MinHash and
SimHash; banding, bucketing, joins consuming the signatures) stays in
codegen'd JVM expressions.

Determinism: every constant is either md5-derived (the MinHash family)
or passed in by the caller (planes, centroids, codebooks), so
signatures are stable across runs, machines and Python versions.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, DoubleType, IntegerType, LongType


_PORTABLE_P = 2147483647  # 2^31 - 1 (Mersenne prime)


def md5_32(tag: str, i: int) -> int:
    """Deterministic 32-bit constant from md5(tag || i) — the same
    construction both engines can regenerate (DuckDB:
    ('0x' || substr(md5(tag || i), 1, 8))::BIGINT), though the oracles
    INLINE the resulting integers as VALUES so SQL never recomputes."""
    from hashlib import md5

    return int.from_bytes(md5(f"{tag}{i}".encode("ascii")).digest()[:4], "big")


def portable_minhash_family(num_hashes: int) -> tuple[np.ndarray, np.ndarray]:
    """The SQL-replayable affine family over Z_p, p = 2^31-1, with
    md5-derived per-row constants: a_i = md5_32('a', i) mod p (forced
    nonzero), b_i = md5_32('b', i) mod p.

    The original formulation (a_i = (i+1)*K1 mod p, b_i = (i+1)*K2
    mod p) was DEGENERATE: a_i*h + b_i = (i+1)*(K1*h + K2) mod p, so
    all `num_hashes` rows were multiples of the single per-shingle
    value C(h) = (K1*h + K2) mod p — ONE hash function wearing 64
    hats.  A shingle whose C lands small wins the min in EVERY row of
    every document containing it, driving est_jaccard to ~1.0 for
    pairs whose true Jaccard is ~0 (q_sketch_calibration caught this:
    measured est 0.984 vs exact 0.006 on a pair sharing ONE shingle
    whose C was 22067 of p=2^31).  md5-derived (a_i, b_i) are
    pairwise unrelated across rows, restoring the independent-trials
    estimator the /64 division assumes.

    Overflow bound (exact, not a margin): max(a*h + b) =
    (p-1)*(2^32-1) + (p-1) ~= 2^63 - 2^33 < 2^63 - 1, so the arithmetic
    fits int64/BIGINT but would NOT survive widening the 32-bit base
    hash or the modulus — the static assert below guards that edit."""
    a = np.fromiter(
        ((md5_32("a", i) % _PORTABLE_P) or 1 for i in range(num_hashes)),
        dtype=np.int64,
        count=num_hashes,
    )
    b = np.fromiter(
        (md5_32("b", i) % _PORTABLE_P for i in range(num_hashes)),
        dtype=np.int64,
        count=num_hashes,
    )
    assert (_PORTABLE_P - 1) * (2**32 - 1) + (_PORTABLE_P - 1) < 2**63 - 1
    return a, b


def portable_family_sql_values(num_hashes: int) -> str:
    """The family as a SQL VALUES body '(i, a_i, b_i), ...' — the ONE
    source of the constants for every DuckDB oracle (inlined, so the
    j<->(a,b) mapping cannot diverge between engine and oracle)."""
    a, b = portable_minhash_family(num_hashes)
    return ", ".join(
        f"({i}, {int(a[i])}, {int(b[i])})" for i in range(num_hashes)
    )


def portable_minhash_signature_udf(num_hashes: int = 64):
    """array<string> SHINGLES -> array<long> MinHash signature in the
    SQL-replayable family: base = first 4 md5 bytes big-endian (= the
    oracle's ('0x' || substr(md5(s),1,8))::BIGINT), then
    signature[i] = min of (a_i*base + b_i mod 2^31-1) with the
    deterministic `portable_minhash_family` constants.  a*h+b tops out
    at ~2^63 - 2^33 (see portable_minhash_family's bound), so
    int64/BIGINT arithmetic is exact in both engines.

    md5 runs HERE (hashlib's C digest per shingle) rather than as a
    column expression: Spark evaluates lambdas inside `transform`
    interpreted (CodegenFallback), and the md5+conv+substring chain per
    element measured ~10x slower than this kernel."""
    from hashlib import md5

    a, b = portable_minhash_family(num_hashes)
    empty = np.full(num_hashes, np.iinfo(np.int64).max)

    @pandas_udf(ArrayType(LongType()))
    def sig(shingle_arrs: pd.Series) -> pd.Series:
        out = []
        for arr in shingle_arrs:
            if arr is None or len(arr) == 0:
                out.append(empty)
                continue
            h = np.fromiter(
                (
                    int.from_bytes(md5(s.encode("utf-8")).digest()[:4], "big")
                    for s in arr
                ),
                dtype=np.int64,
                count=len(arr),
            )
            out.append(((np.multiply.outer(h, a) + b) % _PORTABLE_P).min(axis=0))
        return pd.Series(out)

    return sig


def portable_simhash64_udf():
    """array<string> TOKENS -> long SimHash fingerprint over md5-based
    64-bit token hashes (first 8 md5 bytes big-endian — identical to
    functions/text.py:portable_hash64 and the _SIMHASH_SQL oracle):
    bit i is set iff more than half the token hashes have bit i set
    (the +1/-1 per-bit vote of Charikar's construction).  Empty token
    lists -> 0.  md5 runs in the kernel for the same CodegenFallback
    reason as portable_minhash_signature_udf; the vote replaces a
    64-term bitwiseOR reduce over 64 higher-order filters, whose Janino
    compile alone took seconds per query."""
    from hashlib import md5

    shifts = np.arange(64, dtype=np.uint64)
    powers = (np.uint64(1) << shifts).view(np.int64)

    @pandas_udf(LongType())
    def fp(token_arrs: pd.Series) -> pd.Series:
        out = np.zeros(len(token_arrs), dtype=np.int64)
        for j, arr in enumerate(token_arrs):
            if arr is None or len(arr) == 0:
                continue
            h = np.fromiter(
                (
                    int.from_bytes(md5(t.encode("utf-8")).digest()[:8], "big")
                    for t in arr
                ),
                dtype=np.uint64,
                count=len(arr),
            )
            ones = ((h[:, None] >> shifts[None, :]) & np.uint64(1)).sum(axis=0)
            out[j] = powers[ones * 2 > h.size].sum()
        return pd.Series(out)

    return fp


def hyperplane_sign_bits(
    vecs: np.ndarray, planes: np.ndarray, center: np.ndarray | None = None
) -> np.ndarray:
    """(B, d) float vectors -> (B,) int64 signatures; bit i =
    sign(vec . plane_i).  Shared by the corpus UDF and the driver-side
    query-vector signature so both sides of an LSH probe use the exact
    same arithmetic (same summation order -> no sign flips near 0)."""
    if center is not None:
        vecs = vecs - center
    bits = (vecs @ planes.T) >= 0  # (B, H)
    powers = 1 << np.arange(planes.shape[0], dtype=np.uint64)
    return (bits.astype(np.uint64) * powers).sum(axis=1, dtype=np.uint64).view(
        np.int64
    )


def hyperplane_signature_udf(
    planes: list[list[float]], center: list[float] | None = None
):
    """array<numeric> vector -> long H-bit hyperplane-LSH signature,
    optionally centered first (corpus mean subtraction — see
    similarity.embedding_near_pairs for why centering matters)."""
    P = np.asarray(planes, dtype=np.float64)
    c = np.asarray(center, dtype=np.float64) if center is not None else None

    @pandas_udf(LongType())
    def sig(vs: pd.Series) -> pd.Series:
        if not len(vs):
            return pd.Series(np.empty(0, dtype=np.int64))
        V = np.stack([np.asarray(v, dtype=np.float64) for v in vs])
        return pd.Series(hyperplane_sign_bits(V, P, c))

    return sig


def nearest_centroid_udf(centroids: list[list[float]]):
    """array<numeric> vector -> int index of the nearest centroid
    (squared L2; ties -> lowest index, matching argmin-first)."""
    C = np.asarray(centroids, dtype=np.float64)  # (k, d)
    cn = (C * C).sum(axis=1)  # ||c||^2; ||v||^2 is constant per row

    @pandas_udf(IntegerType())
    def nearest(vs: pd.Series) -> pd.Series:
        if not len(vs):
            return pd.Series(np.empty(0, dtype=np.int32))
        V = np.stack([np.asarray(v, dtype=np.float64) for v in vs])
        d2 = cn[None, :] - 2.0 * (V @ C.T)
        return pd.Series(d2.argmin(axis=1).astype(np.int32))

    return nearest


def pq_encode_udf(centroids: list[list[float]], codebooks):
    """array<numeric> vector -> array<int> [cell, code_0..code_{M-1}]:
    coarse-quantize to the nearest IVF centroid, then product-quantize
    the RESIDUAL (vector - centroid) subspace by subspace against the
    trained codebooks (similarity.pq_train) — the IVF-PQ encoding of
    Jegou et al., "Product Quantization for Nearest Neighbor Search"
    (TPAMI 2011).

    One kernel computes both the cell and the codes so the k x d
    coarse-distance loop runs ONCE per row (a separate
    nearest_centroid_udf pass would pay it twice); JVM-side the caller
    splits the array with element_at/slice.  Codes are argmin over the
    subspace codebook (squared L2; ties -> lowest index) — same
    determinism contract as nearest_centroid_udf.

    Vectors are L2-NORMALIZED first (zero rows pass through) — the PQ
    metric contract: the quantizers are trained on the unit sphere,
    where squared L2 is monotone in cosine, so ADC ranking agrees with
    the exact cosine re-rank (see similarity.py's IVF-PQ section)."""
    C = np.asarray(centroids, dtype=np.float64)  # (k, d)
    cn = (C * C).sum(axis=1)
    B = np.asarray(codebooks, dtype=np.float64)  # (m, k_sub, d_sub)
    m, k_sub, d_sub = B.shape
    bn = (B * B).sum(axis=2)  # (m, k_sub)

    @pandas_udf(ArrayType(IntegerType()))
    def encode(vs: pd.Series) -> pd.Series:
        if not len(vs):
            return pd.Series([], dtype=object)
        V = np.stack([np.asarray(v, dtype=np.float64) for v in vs])
        norms = np.sqrt((V * V).sum(axis=1, keepdims=True))
        norms[norms == 0.0] = 1.0
        V = V / norms
        cells = (cn[None, :] - 2.0 * (V @ C.T)).argmin(axis=1)
        R = (V - C[cells]).reshape(len(V), m, d_sub)  # residual subvecs
        out = np.empty((len(V), m + 1), dtype=np.int32)
        out[:, 0] = cells
        for j in range(m):
            # ||r - b||^2 ranking: ||b||^2 - 2 r.b (||r||^2 constant/row)
            d2 = bn[j][None, :] - 2.0 * (R[:, j, :] @ B[j].T)
            out[:, j + 1] = d2.argmin(axis=1)
        return pd.Series(list(out))

    return encode


def pq_flat_encode_udf(codebooks):
    """array<numeric> vector -> array<double>
    [eps, code_0 .. code_{M-1}]: product-quantize the L2-NORMALIZED
    vector directly (no coarse level — the "zero centroid" flat-PQ
    layout the semantic-dedup prefilter uses) and emit the exact
    residual norm eps = ||v_hat - reconstruction|| beside the codes.

    eps is what makes the downstream ADC prefilter PROVABLY lossless:
    for unit vectors, |dot(a_hat, b_hat) - dot(rec_a, rec_b)| <=
    eps_a + eps_b + eps_a*eps_b (split the difference as
    dot(e_a, b_hat) + dot(rec_a, e_b) with ||b_hat|| = 1 and
    ||rec_a|| <= 1 + eps_a), so a pair can be discarded on coded
    arithmetic alone only when NO exact cosine above the threshold is
    possible.  Codes are emitted as doubles for a homogeneous Arrow
    array; they are exact small integers (k_sub <= 2^53), cast back
    JVM-side."""
    B = np.asarray(codebooks, dtype=np.float64)  # (m, k_sub, d_sub)
    m, k_sub, d_sub = B.shape
    bn = (B * B).sum(axis=2)  # (m, k_sub)

    @pandas_udf(ArrayType(DoubleType()))
    def encode(vs: pd.Series) -> pd.Series:
        if not len(vs):
            return pd.Series([], dtype=object)
        V = np.stack([np.asarray(v, dtype=np.float64) for v in vs])
        norms = np.sqrt((V * V).sum(axis=1, keepdims=True))
        norms[norms == 0.0] = 1.0
        V = V / norms
        R = V.reshape(len(V), m, d_sub)
        out = np.empty((len(V), m + 1), dtype=np.float64)
        eps2 = np.zeros(len(V))
        for j in range(m):
            d2 = bn[j][None, :] - 2.0 * (R[:, j, :] @ B[j].T)
            codes = d2.argmin(axis=1)
            out[:, j + 1] = codes
            eps2 += ((R[:, j, :] - B[j][codes]) ** 2).sum(axis=1)
        out[:, 0] = np.sqrt(eps2)
        return pd.Series(list(out))

    return encode


def pq_gram_dot_udf(codebooks):
    """(array codes_a, array codes_b) -> double: the approximate dot
    product of two flat-PQ-coded vectors, dot(rec_a, rec_b) =
    sum_j Gram_j[code_a_j][code_b_j], with the per-subspace codeword
    Gram tables precomputed in the closure.

    This is the ADC pair fold of the semantic-dedup prefilter, and it
    lives HERE for the module-docstring reason: as a JVM higher-order
    `aggregate` over `sequence(0, m-1)` the fold is CodegenFallback —
    interpreted, boxed, ~60 us per pair measured at sf0.1 (a 19x
    regression on q_semantic_dedup) — while this kernel is one numpy
    fancy-index + row sum per Arrow batch.  Codes travel as tinyint
    arrays (the narrow payload the coded pair shuffle exists for);
    numpy widens on index."""
    B = np.asarray(codebooks, dtype=np.float64)  # (m, k_sub, d_sub)
    G = np.einsum("jkd,jld->jkl", B, B)  # (m, k_sub, k_sub)
    m = len(B)
    jidx = np.arange(m)

    @pandas_udf(DoubleType())
    def gdot(ca: pd.Series, cb: pd.Series) -> pd.Series:
        if not len(ca):
            return pd.Series([], dtype=np.float64)
        A = np.stack([np.asarray(v, dtype=np.int64) for v in ca])
        C = np.stack([np.asarray(v, dtype=np.int64) for v in cb])
        return pd.Series(G[jidx[None, :], A, C].sum(axis=1))

    return gdot
