"""Arrow-batched tokenize → shingle-hash → fingerprint kernel (the hot visitor).

Round-2 plan audit found the JVM higher-order-function pipeline
(``F.filter(F.split(...))`` + per-window ``slice``/``xxhash64`` lambdas) costs
~60s on 175k files and — critically — does NOT scale with cores inside one
local-mode JVM (interpreted lambda evaluation over ~35M token elements is flat
4→16 cores; see PLANS.md). This module computes the same three feature columns
(hashed shingles, winnowing fingerprints, token count) in ONE pandas UDF:

- tokens: the same ``[^a-z0-9_]+`` lowercase split as :func:`functions.text.tokens`;
- per-token 64-bit values: TWO independent zlib.crc32 passes (forward bytes in
  the high word, reversed bytes in the low word — CRC is linear in the message
  bits, so a re-seeded second pass would add no entropy, while bit-reversal
  yields an independent linear map), splitmix64-finalized. Distinct tokens
  collide at the 64-bit birthday rate, not crc32's 32-bit rate (which an
  advisory audit measured as expected collisions beyond ~80k vocabulary);
- shingle hash of a k-window: FNV-prime polynomial over the k token values —
  computed for ALL windows with k vectorized numpy ops (no per-window work);
- fingerprints: window=8 polynomial hashes, kept when ``h & 15 == 0``
  (content-defined ~1/16 sample, winnowing-lite);
- output arrays distinct, int64 (np.unique sorts in UNSIGNED uint64 order
  before the int64 view, so values over 2^63 appear as negative longs out of
  int64 order — consumers treat these as opaque ids; a sorted-merge consumer
  would need its own sort).

Hash VALUES differ from the previous xxhash64-based columns; every consumer
(MinHash bands, TF-IDF terms, fingerprint blocks) treats them as opaque ids, so
only the blocking randomization changes — the e2e F1 gate revalidates.
Deterministic: crc32 + fixed multipliers, no seed, no order dependence.
Python workers are separate PROCESSES, so this path scales with cores where the
shared-JVM interpreted path did not.
"""

from __future__ import annotations

import re
import zlib

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

_TOKEN_RE = re.compile(r"[^a-z0-9_]+")
# bytes twin: UTF-8 of any non-[a-z0-9_] codepoint never contains [a-z0-9_]
# bytes (multi-byte sequences are all >= 0x80), so splitting the encoded text
# yields exactly the per-token UTF-8 of the str split
_TOKEN_RE_B = re.compile(rb"[^a-z0-9_]+")
_A = np.uint64(1099511628211)  # FNV-1a prime: polynomial rolling multiplier
_WIDEN = np.uint64(0x9E3779B97F4A7C15)  # golden-ratio odd constant widens crc32

N_MINHASH = 32  # signature width baked into the kernel (blocking.NUM_HASHES)


def _token_hashes64(toks: list) -> np.ndarray:
    """uint64 per-token hash: crc32(bytes) << 32 | crc32(reversed bytes),
    splitmix64-finalized. The reversed-byte pass is the second INDEPENDENT
    32-bit hash (a different crc32 seed is only a length-dependent affine
    shift of the same linear map and adds nothing); together the two span a
    ~full-rank 64-bit linear map, so the per-token collision class is
    2^-64-ish, not the 32-bit birthday rate ADVICE flagged."""
    n = len(toks)
    fwd = np.fromiter(map(zlib.crc32, toks), np.uint32, n).astype(np.uint64)
    rev = np.fromiter(
        (zlib.crc32(t[::-1]) for t in toks), np.uint32, n
    ).astype(np.uint64)
    return _splitmix64((fwd << np.uint64(32)) | rev)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer (public constant set, Steele et al.) —
    the per-salt MinHash mixer. uint64, wraps mod 2^64 by design."""
    x = x + np.uint64(0x9E3779B97F4A7C15)
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


# 32 deterministic salts (splitmix of 1..32): one hash function per signature slot
_MH_SALTS = _splitmix64(np.arange(1, N_MINHASH + 1, dtype=np.uint64) * _WIDEN)


def _poly_windows(vals: np.ndarray, k: int) -> np.ndarray:
    """Polynomial hash of every k-window of ``vals`` (uint64, wraps mod 2^64).

    h_i = ((v_i·A + v_{i+1})·A + ...) — k vectorized ops over the whole array.
    Sequences shorter than k hash as one whole-sequence window (as
    ``text.shingles`` does: short files still block/compare).
    """
    n = len(vals)
    if n == 0:
        return np.empty(0, np.uint64)
    k = min(k, n)
    h = np.zeros(n - k + 1, np.uint64)
    for j in range(k):
        h = h * _A + vals[j : n - k + 1 + j]
    return h


def _code_features_batch(texts: pd.Series, shingle_k: int) -> pd.DataFrame:
    sh_out: list[np.ndarray] = []
    fp_out: list[np.ndarray] = []
    mh_out: list[np.ndarray] = []
    nt_out = np.zeros(len(texts), np.int64)
    empty = np.empty(0, np.int64)
    for i, text in enumerate(texts):
        if not text:
            sh_out.append(empty)
            fp_out.append(empty)
            mh_out.append(empty)
            continue
        # encode ONCE and split on a bytes regex: token crc32 inputs are the
        # same UTF-8 bytes as the per-token-encode shape (hash values
        # unchanged), but the hot loop drops one str.encode per token
        toks = [
            t
            for t in _TOKEN_RE_B.split(text.lower().encode("utf-8", "surrogatepass"))
            if t
        ]
        nt_out[i] = len(toks)
        if not toks:
            sh_out.append(empty)
            fp_out.append(empty)
            mh_out.append(empty)
            continue
        crcs = _token_hashes64(toks)
        shu = np.unique(_poly_windows(crcs, shingle_k))
        sh = shu.view(np.int64)
        fps = _poly_windows(crcs, 8)
        fps = np.unique(fps[(fps & np.uint64(15)) == 0]).view(np.int64)
        # MinHash signature right here, while the shingle hashes are hot in
        # cache: one (n_shingles × 32) splitmix min-reduce per doc. The
        # previous shape exploded 137.9M shingle rows back out of the cache
        # and ran 32 JVM hash evals per row into a groupBy — ~300
        # executor-CPU-s of the blocking stage on the 703k-file corpus.
        sig = _splitmix64(shu[:, None] + _MH_SALTS[None, :]).min(axis=0)
        sh_out.append(sh)
        fp_out.append(fps)
        mh_out.append(sig.view(np.int64))
    return pd.DataFrame(
        {
            "shingles": sh_out,
            "fingerprints": fp_out,
            "minhash": mh_out,
            "n_tokens": nt_out,
        }
    )


_udf_cache: dict[int, object] = {}


def code_features(content, shingle_k: int = 5):
    """Struct column (shingles array<long>, fingerprints array<long>,
    n_tokens long) over a text column — the Arrow fast path of the visitor
    stage. Built lazily per shingle_k (pandas_udf needs an active session)."""
    if shingle_k not in _udf_cache:
        def _fn(texts: pd.Series) -> pd.DataFrame:
            return _code_features_batch(texts, shingle_k)

        _udf_cache[shingle_k] = F.pandas_udf(
            "shingles array<long>, fingerprints array<long>, "
            "minhash array<long>, n_tokens long"
        )(_fn)
    return _udf_cache[shingle_k](content)


# --- whitespace-token n-gram window hashes (decontamination kernel) --------

_WS_RE_B = re.compile(rb"\s+")  # bytes twin of ws_tokens' /\s+/ (Java \s is
# ASCII-only, and no ASCII whitespace byte occurs inside a multi-byte UTF-8
# sequence, so the bytes split equals the str split token-for-token)


def ws_ngram_hashes_batch(texts: pd.Series, n: int) -> pd.Series:
    """Distinct polynomial window hashes of the ws_tokens token stream —
    the Arrow twin of ``array_distinct(decontamination.ngram_windows)`` with
    int64 surrogates.

    Tokenizer parity contract: tokens are split(lower(text), /\\s+/) with
    empties dropped — the SAME rule as ``functions.text.ws_tokens`` (the
    shared corpus-prep tokenizer); change them together or not at all.
    Window hash = the fast_text polynomial over 64-bit dual-crc32 token
    hashes (``_token_hashes64`` — the shingle construction of
    ``_code_features_batch`` at window size ``n``), so both the per-token
    and per-window collision classes are 64-bit, not crc32's 32-bit
    birthday rate.
    """
    out: list[np.ndarray] = []
    empty = np.empty(0, np.int64)
    for t in texts:
        if not t:
            out.append(empty)
            continue
        toks = [
            x
            for x in _WS_RE_B.split(t.lower().encode("utf-8", "surrogatepass"))
            if x
        ]
        if len(toks) < n:
            out.append(empty)
            continue
        out.append(
            np.unique(_poly_windows(_token_hashes64(toks), n)).view(np.int64)
        )
    return pd.Series(out)


_ngram_udf_cache: dict[int, object] = {}


def ws_ngram_hashes(text, n: int = 13):
    """array<long> column of distinct hashed ``n``-token windows (see
    :func:`ws_ngram_hashes_batch`). Cached per ``n`` like code_features."""
    if n not in _ngram_udf_cache:
        def _fn(texts: pd.Series) -> pd.Series:
            return ws_ngram_hashes_batch(texts, n)

        _ngram_udf_cache[n] = F.pandas_udf("array<long>")(_fn)
    return _ngram_udf_cache[n](text)
