"""Sparse-vector TF-IDF + cosine over hashed terms.

The reference stacks per-record scipy csr rows and calls sklearn
``cosine_similarity`` block-locally (``am_combiner/combiners/tfidf.py:199-217``);
here the TF-IDF weighting is a DataFrame computation (df census and idf in the
JVM, per-doc assembly in one Arrow kernel) and the per-pair cosine is the
``mapInArrow`` kernel ``arrow_kernels.score_pair_batches``, one binary-search
intersect of the two sorted term arrays per batch (no per-row Python
interpretation of vector elements).

Vectors are stored as two parallel sorted arrays per record:
``terms array<int>`` (31-bit hash of the term) and ``weights array<float>``
(L2-normalized tf-idf) — compact over Arrow, schema-stable, Iceberg-friendly.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Vocabulary-size gates of tfidf_vectors' physical tiers: a driver broadcast up
# to a few million terms, the host-shared mmap file beyond that (the ~700k-file
# corpus's 27.6M terms), the term-partitioned stream past both.
BROADCAST_VOCAB_ROWS = 4_000_000
MMAP_VOCAB_ROWS = 50_000_000


def typed_feature_tokens(
    scalar_cols: dict[str, Column | str] | None = None,
    array_cols: dict[str, Column | str] | None = None,
) -> Column:
    """Flatten extracted feature families into typed ``FAMILY-value`` tokens —
    the features-text document of ``get_features_from_article`` (reference
    ``combiners/tfidf.py:98-116``: ``feature_name.name + "-" + str(v)`` per
    value; the reference then ``"_-_"``-joins into one string because sklearn
    wants text — here the token ARRAY is the document and feeds
    :func:`tfidf_vectors` directly, which is what
    ``FullArticleFeaturesTextVectoriser`` computes).

    ``scalar_cols``: family name -> scalar column (one token per record);
    ``array_cols``:  family name -> array column (one token per value).
    Null scalars / null arrays contribute nothing.
    """
    parts = []
    for name, c in (scalar_cols or {}).items():
        c = F.col(c) if isinstance(c, str) else c
        tok = F.concat_ws("-", F.lit(name), c.cast("string"))
        parts.append(
            F.when(c.isNotNull(), F.array(tok)).otherwise(F.array().cast("array<string>"))
        )
    for name, c in (array_cols or {}).items():
        c = F.col(c) if isinstance(c, str) else c
        toks = F.transform(
            F.filter(F.coalesce(c, F.array()), lambda v: v.isNotNull()),
            lambda v: F.concat_ws("-", F.lit(name), v.cast("string")),
        )
        parts.append(toks)
    if not parts:
        return F.array().cast("array<string>")
    return F.concat(*parts)


def tfidf_vectors(
    docs: DataFrame,
    id_col: str = "unique_id",
    term_col: str = "shingles",
    min_df: int = 1,
    top_k: int | None = None,
    persisted: list | None = None,
    terms_distinct: bool = False,
) -> DataFrame:
    """(id, array terms) → (id, terms array<int>, weights array<float>).

    idf = ln((N+1)/(df+1)) + 1 (sklearn ``smooth_idf`` convention, matching the
    reference's TfidfVectorizer defaults at ``am_combiner/dataloop.py:33-36``);
    weights L2-normalized so pair cosine == dot product.
    ``min_df`` prunes rare terms (the reference's ``min_df=5``); ``top_k``
    keeps each vector's heaviest terms, renormalized.

    ``terms_distinct=True`` declares that each row's term array is already
    duplicate-free (the Arrow tokenizer emits ``np.unique``'d shingles —
    ``fast_text.py:82``), so tf ≡ 1 and the ``groupBy(_id,_t)`` shuffle is
    skipped.

    Physical strategy (both produce identical output — same weights, same
    xxhash64-derived int32 term ids, same tie rules):

    - **vocab ≤ BROADCAST_VOCAB_ROWS**: per-doc assembly is ONE Arrow kernel
      over the docs frame with the (term → idf) vocabulary broadcast as two
      numpy arrays — no explode, no join, no ``collect_list``. The JVM shape it
      replaces spent 540 executor-CPU-s (38% of the job) in ObjectHashAggregate
      partial/final building 137.9M per-row struct objects on the 703k-file
      corpus, and its GC (10s@4cores → 165s@16cores) was the dominant
      anti-scaling term — object-heavy JVM aggregation contends in a shared
      heap, while Arrow workers are separate processes that scale with cores.
    - **beyond** (the 703k-file corpus measures 27.6M surviving terms — too
      big for a driver collect; a file-distributed vocab was tried and
      measured 3× WORSE, per-worker loads dominating): stream path — ONE
      term-partitioned window ``count(*)`` fuses the df census, the
      min_df filter and the idf weighting into a single exchange +
      in-partition sort (the earlier shape here — a census exchange + a
      SHUFFLE_HASH idf join — paid three term-volume exchanges and per-task
      27.6M-entry JVM hash builds) → one repartition by doc + in-partition
      radix sort → an Arrow run-assembler, streaming. No ``collect_list``
      anywhere: the previous ObjectHashAggregate final cost 167 CPU-s and
      its docs×partitions partial inflation + boxed-struct GC were the
      anti-scaling terms. A cheap HLL distinct probe decides whether the
      exact census for the broadcast gate is worth running at all (within
      4× of the gate) or the corpus is clearly stream-sized.
    """
    # contract: id_col is unique per row (the pipeline's unique_id), so a plain
    # count avoids a full distinct shuffle before the plan even builds. The
    # total term-occurrence count rides the SAME aggregate: it upper-bounds the
    # surviving vocabulary, so most corpora resolve the broadcast-kernel gate
    # here without the separate full-volume HLL pass (one barrier, not two).
    _stats = docs.agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.coalesce(F.size(F.col(term_col)), F.lit(0))).alias("_occ"),
    ).first()
    n_docs = _stats["_n"]
    n_occurrences = int(_stats["_occ"] or 0)
    exploded = docs.select(
        F.col(id_col).alias("_id"), F.explode(F.col(term_col)).alias("_t")
    )
    if terms_distinct:
        # no persist either: explode is a narrow op over the (caller-cached)
        # docs frame — re-deriving it for the df pass is cheaper than caching
        # the full exploded row set (big caches cost GC; see BENCH notes)
        tf = exploded.withColumn("_tf", F.lit(1).cast("bigint"))
    else:
        tf = (
            exploded.groupBy("_id", "_t")
            .agg(F.count("*").alias("_tf"))
            # tf feeds BOTH the df aggregation and the weighting join; persist
            # so the explode+groupBy (the expensive half) runs once, not twice
            .persist()
        )
        if persisted is not None:
            persisted.append(tf)  # unpersisted at the caller's stage boundary
    vocab_filtered = min_df > 1
    # The Arrow kernel tiers ship the vocabulary as int64 numpy arrays and
    # re-derive the int32 term ids with a bit-exact numpy replica of Spark's
    # xxhash64 over ONE little-endian long (_xxhash64_long) — both only valid
    # when the term elements are 8-byte longs (the tokenizer's hashed
    # shingles). String terms (e.g. typed_feature_tokens' FAMILY-value
    # tokens) or narrower ints must take the stream path, whose JVM
    # F.xxhash64 handles any type.
    term_elem = docs.select(term_col).schema.fields[0].dataType
    kernel_eligible = isinstance(
        getattr(term_elem, "elementType", None), T.LongType
    )
    if vocab_filtered and kernel_eligible:
        # Gate for the kernel fast paths, cheapest-evidence-first:
        # 1. total occurrences (free — they rode the n_docs aggregate) bound
        #    the surviving vocabulary from above: ≤ 4× the mmap gate means the
        #    exact census is affordable outright (it replaces the stream
        #    path's doc re-exchange, so it pays for itself whenever a kernel
        #    tier results); beyond that,
        # 2. one HLL raw-distinct probe (map-side-combine pass, constant-size
        #    shuffle) decides whether the census is still worth running —
        #    raw distinct bounds survival tighter than occurrences on
        #    repeat-heavy corpora. Clearly-over corpora stream with zero
        #    probe passes.
        if n_occurrences <= 4 * MMAP_VOCAB_ROWS:
            run_census = True
        else:
            approx_vocab = tf.agg(
                F.approx_count_distinct("_t", rsd=0.05).alias("_v")
            ).first()["_v"]
            run_census = approx_vocab <= 4 * MMAP_VOCAB_ROWS
        if run_census:
            df_ = (
                tf.groupBy("_t").agg(F.count("*").alias("_df"))
                .where(F.col("_df") >= min_df)
            )
            idf = df_.select(
                "_t",
                (
                    F.log((F.lit(float(n_docs + 1))) / (F.col("_df") + 1)) + 1.0
                ).alias("_idf"),
            ).persist()
            n_vocab = idf.count()
            out = None
            if n_vocab <= BROADCAST_VOCAB_ROWS:
                out = _assemble_vectors_arrow(
                    docs, id_col, term_col, idf, top_k, terms_distinct
                )
            elif n_vocab <= MMAP_VOCAB_ROWS:
                out = _assemble_vectors_arrow(
                    docs, id_col, term_col, idf, top_k, terms_distinct,
                    via_file=True, persisted=persisted,
                )
            idf.unpersist()
            if out is not None:
                return out
    # Big-vocab stream path: ONE term-partitioned window count fuses the df
    # census, the min_df filter, the idf weighting and the int32
    # re-hash into a single exchange + in-partition Tungsten sort — replacing
    # the previous THREE term-volume exchanges (df census with its
    # ~distinct-per-map-task partial-agg emit, the exploded probe of a
    # SHUFFLE_HASH idf join, and the idf build side) and the per-task
    # 27.6M-entry JVM idf hash builds. All JVM: an Arrow-kernel variant of the
    # same fusion was measured 22s SLOWER at 16 cores — 137.9M rows crossing
    # the Python boundary twice costs more than the hash builds it saves
    # (unlike the per-doc assembly below, whose input is already Python-bound).
    #
    # The per-doc array assembly then streams through one repartition + in-
    # partition radix sort into an Arrow run-assembler, instead of a
    # collect_list ObjectHashAggregate (boxed struct buffers, 167 CPU-s
    # final pass, docs×partitions partial inflation, shared-heap GC that
    # anti-scales with cores). Tungsten binary sort + numpy assembly scale
    # with cores; output is bit-identical to the broadcast kernel (same
    # xxhash64-derived _th, same tie/dedup rules — parity-tested).
    #
    # term ids re-hashed to int32: the pair join ships terms/weights through
    # the shuffle AND the Arrow boundary twice per pair — 4-byte terms halve
    # the dominant payload. Within-pair false-match P ≈ k²/2^32 ≈ 4e-6 at
    # k=128; corpus-wide collisions only nudge df counts. Deterministic.
    from pyspark.sql import Window

    counted = tf.withColumn(
        "_df", F.count("*").over(Window.partitionBy("_t"))
    )
    # ship df (low-cardinality int, int32 when n_docs allows) through the doc
    # exchange instead of the derived double weight — ~20% narrower rows that
    # compress far better; the idf log/multiply is re-applied after the
    # exchange, bit-identically (same JVM expression, same integer df)
    df_narrow = "int" if n_docs < (1 << 31) else "bigint"
    pre = counted.where(F.col("_df") >= min_df).select(
        "_id",
        F.xxhash64("_t").bitwiseAND(F.lit((1 << 31) - 1)).cast("int").alias("_th"),
        *([] if terms_distinct else [F.col("_tf")]),
        F.col("_df").cast(df_narrow).alias("_df"),
    )
    idf_expr = F.log((F.lit(float(n_docs + 1))) / (F.col("_df") + 1)) + 1.0
    w_expr = idf_expr if terms_distinct else F.col("_tf") * idf_expr
    weighted = pre.repartition("_id").select("_id", "_th", w_expr.alias("_w"))
    # In-partition Tungsten sort feeding a STREAMING Arrow run-assembler.
    # (The sort-free variant — whole-partition numpy accumulate + np.unique
    # grouping — was measured: it cuts JVM CPU 460→330s on this stage but the
    # JVM tasks then idle on the 16 Python workers and stage wall grows
    # 30.1→35.6s; the sorted stream also keeps worker memory O(batch), which
    # the accumulate variant loses.)
    stream = weighted.sortWithinPartitions("_id")
    id_field = docs.select(id_col).schema.fields[0]
    out_schema = T.StructType(
        [
            T.StructField(id_col, id_field.dataType),
            T.StructField("terms", T.ArrayType(T.IntegerType())),
            T.StructField("weights", T.ArrayType(T.FloatType())),
        ]
    )
    k_cap = top_k

    def _flush(ids, th, w):
        # ids arrive SORTED (in-partition radix sort): group codes are one
        # run-length pass — no lexsort over (possibly string-typed) raw ids
        new = np.concatenate(([True], ids[1:] != ids[:-1]))
        codes = np.cumsum(new) - 1
        firsts = ids[np.nonzero(new)[0]]
        gids, terms, weights = _assemble_group_arrays(
            codes.astype(np.int64), th, w, k_cap
        )
        return pd.DataFrame(
            {id_col: firsts[gids], "terms": terms, "weights": weights}
        )

    def run_assembler(batches):
        """Rows sorted by _id within the partition; a doc's run may span
        batches — carry the tail run forward and flush it with the next batch."""
        pend = None
        for pdf in batches:
            ids = pdf["_id"].to_numpy()
            th = pdf["_th"].to_numpy().astype(np.int64)
            w = pdf["_w"].to_numpy()
            if pend is not None:
                ids = np.concatenate([pend[0], ids])
                th = np.concatenate([pend[1], th])
                w = np.concatenate([pend[2], w])
                pend = None
            if len(ids) == 0:
                continue
            # hold back the (possibly incomplete) run of the last id
            cut = np.searchsorted(ids, ids[-1], side="left")
            if cut == 0:
                pend = (ids, th, w)
                continue
            pend = (ids[cut:], th[cut:], w[cut:])
            yield _flush(ids[:cut], th[:cut], w[:cut])
        if pend is not None and len(pend[0]):
            yield _flush(*pend)

    return stream.mapInPandas(run_assembler, out_schema)


# xxhash64 of one little-endian long, seed 42 — bit-exact replica of Spark's
# F.xxhash64 on a LongType column (verified element-wise vs the JVM), so the
# Arrow assembly path emits the SAME int32 term ids as the shuffle path.
_XXP1 = np.uint64(11400714785074694791)
_XXP2 = np.uint64(14029467366897019727)
_XXP3 = np.uint64(1609587929392839161)
_XXP4 = np.uint64(9650029242287828579)
_XXP5 = np.uint64(2870177450012600261)


def _rotl64(x: np.ndarray, r: int) -> np.ndarray:
    r = np.uint64(r)
    return (x << r) | (x >> (np.uint64(64) - r))


def _xxhash64_long(v: np.ndarray, seed: int = 42) -> np.ndarray:
    x = v.astype(np.int64).view(np.uint64)
    h = np.uint64(seed) + _XXP5 + np.uint64(8)
    k = _rotl64(x * _XXP2, 31) * _XXP1
    h = _rotl64(h ^ k, 27) * _XXP1 + _XXP4
    h ^= h >> np.uint64(33)
    h *= _XXP2
    h ^= h >> np.uint64(29)
    h *= _XXP3
    h ^= h >> np.uint64(32)
    return h


def _assemble_group_flat(gids: np.ndarray, th: np.ndarray, w: np.ndarray, k_cap):
    """The shared per-group assembly core (both physical strategies call it):
    (ascending-grouped int64 group keys, int64 term hashes, float64 weights) →
    (group keys, flat int32 term array, flat float32 weight array, group
    start offsets) — flat+offsets so the Arrow kernel can build its output
    ``ListArray`` zero-copy.

    Semantics are the engine's canonical ones: equal (group, hash) runs —
    two distinct terms collided to one 31-bit id, P ≈ k²/2³² per group —
    MERGE first by summing weights (the hashing-vectorizer rule: sklearn's
    HashingVectorizer does the same, and it keeps every emitted vector
    genuinely L2-normalized so self-cosine is exactly 1.0 — closing VERDICT
    r3's ``assume_unique`` hazard at the producer); then top-k by (weight
    desc, hash desc) over the merged entries; L2 norm over the kept top-k;
    output sorted by (hash asc).

    Group keys are batch-local ordinals — the kernel's row indices, the
    stream path's per-flush run codes — so they stay below 2³¹ and (group,
    hash) packs into one int64 for a single radix-friendly ``argsort`` (0.7 s
    vs 7.1 s for the 3-key lexsort it replaces on an 8.6M-row partition); the
    top-k ordering is computed only over rows of groups that actually EXCEED
    ``k_cap``.
    """
    n = len(gids)

    def _empty():
        return (
            gids[:0],
            np.empty(0, np.int32),
            np.empty(0, np.float32),
            np.empty(0, np.int64),
        )

    if n == 0:
        return _empty()

    def _firsts(arr):
        f = np.empty(len(arr), dtype=bool)
        f[0] = True
        np.not_equal(arr[1:], arr[:-1], out=f[1:])
        return f

    # 1. one packed-key sort to (group, hash) order; collided runs merge by
    #    summing weights. The sort doubles as the output (hash asc) ordering.
    key = (gids << np.int64(31)) | th
    o = np.argsort(key, kind="stable")
    new = _firsts(key[o])
    g, th, w = gids[o], th[o], w[o]
    starts = np.nonzero(new)[0]
    if len(starts) != n:
        w = np.add.reduceat(w, starts)
        g, th = g[starts], th[starts]
        n = len(g)
    new = _firsts(g)
    seg_starts = np.nonzero(new)[0]

    # 2. top-k by (weight desc, hash desc) — order + rank ONLY the oversized
    #    groups' rows; the boolean keep-mask preserves the (hash asc) order
    if k_cap is not None:
        seg_lens = np.diff(np.append(seg_starts, n))
        if (seg_lens > k_cap).any():
            in_over = (seg_lens > k_cap)[np.cumsum(new) - 1]
            idx = np.nonzero(in_over)[0]
            g_o = g[idx]
            o2 = np.lexsort((-th[idx], -w[idx], g_o))
            new_o = _firsts(g_o[o2])
            starts_o = np.nonzero(new_o)[0]
            rank_o = np.arange(len(o2)) - starts_o[np.cumsum(new_o) - 1]
            keep = np.ones(n, dtype=bool)
            keep[idx[o2[rank_o >= k_cap]]] = False
            g, th, w = g[keep], th[keep], w[keep]
            n = len(g)
            if n == 0:
                return _empty()
            new = _firsts(g)
            seg_starts = np.nonzero(new)[0]

    # 3. L2 norm over the kept (merged) entries
    norm = np.sqrt(np.add.reduceat(w * w, seg_starts))
    wn = (w / norm[np.cumsum(new) - 1]).astype(np.float32)
    return g[seg_starts], th.astype(np.int32), wn, seg_starts


def _assemble_group_arrays(gids: np.ndarray, th: np.ndarray, w: np.ndarray, k_cap):
    """List-of-arrays view over :func:`_assemble_group_flat` (stream-path /
    pandas consumers)."""
    g, th32, wn, seg_starts = _assemble_group_flat(gids, th, w, k_cap)
    if len(g) == 0:
        return g, [], []
    bounds = seg_starts[1:]
    return g, np.split(th32, bounds), list(np.split(wn, bounds))


class _StagedVocabFile:
    """Deferred cleanup for the mmap tier's staged ``.npy``: quacks like a
    persisted frame so it can ride a ``persisted`` list (``pipeline.resolve``
    unpersists every entry at the stage boundary). Executors verify the SOURCE
    file on their first fetch (Spark's ``updateDependencies`` re-reads it), so
    it cannot be deleted when the lazy frame is built — only once the stage is
    materialized. An ``atexit`` hook bounds the leak to the interpreter's
    lifetime for callers that pass no list."""

    def __init__(self, path: str):
        import atexit

        self.path = path
        atexit.register(self.unpersist)

    def unpersist(self, blocking: bool = False):
        import contextlib
        import os

        with contextlib.suppress(OSError):
            os.remove(self.path)


def _assemble_vectors_arrow(
    docs: DataFrame,
    id_col: str,
    term_col: str,
    idf: DataFrame,
    top_k: int | None,
    terms_distinct: bool,
    via_file: bool = False,
    persisted: list | None = None,
) -> DataFrame:
    """Per-doc TF-IDF assembly as one Arrow kernel pass over the docs frame.

    The (term → idf) vocabulary ships as two numpy arrays (sorted terms +
    aligned idf); per batch everything is vectorized: flatten → searchsorted
    lookup → one 3-key lexsort for the (weight desc, term-hash desc) per-row
    top-k → segmented norms via reduceat → one more lexsort to the (term-hash
    asc) output order → collided-run merge. Exactly the shuffle path's
    semantics: ties, the 31-bit xxhash64 re-hash, hash-collided duplicates
    merged by summing weights BEFORE top-k and norm (the hashing-vectorizer
    rule), docs with zero surviving terms emit no row.

    Vocab transport (two tiers, identical kernel semantics):

    - ``via_file=False``: a Python broadcast of the two arrays — right up to a
      few million terms.
    - ``via_file=True``: the arrays are saved as ONE ``(2, n)`` int64 ``.npy``
      (idf doubles bit-punned into row 1) and shipped with
      ``sparkContext.addFile``; every worker ``np.load(..., mmap_mode="r")``s
      it, so a host's workers share the pages through the OS page cache —
      one decode-free load per HOST, not per worker (a parquet-side-table
      variant measured 3× worse precisely because each worker re-decoded it,
      PLANS.md round-3). This tier replaces the stream path's doc re-exchange
      + in-partition sort — the measured 2.6× CPU-inflation stage at 16
      cores — for vocabularies up to ``MMAP_VOCAB_ROWS`` (50M ≈ 800 MB, far
      beyond any driver broadcast, still trivial for an executor host).
      True-100TB vocabularies (10^9+ terms) stay on the stream path.
    """
    spark = docs.sparkSession
    vocab_pd = idf.orderBy("_t").toArrow().to_pandas()
    vt = vocab_pd["_t"].to_numpy(dtype=np.int64)
    vi = vocab_pd["_idf"].to_numpy(dtype=np.float64)
    if len(vt) > 1 and not (np.diff(vt) > 0).all():
        order = np.argsort(vt, kind="mergesort")
        vt, vi = vt[order], vi[order]
    if via_file:
        import os
        import tempfile
        import uuid

        # stage the artifact where the session keeps shuffle/scratch data
        # (/dev/shm in local mode — np.save to rotating disk measured 16s for
        # a 440 MB vocab; to shm it is a memcpy), falling back to the system
        # tmpdir when no local dir is configured
        base = (
            spark.conf.get("spark.local.dir", None) or tempfile.gettempdir()
        ).split(",")[0]
        fname = f"tfidf_vocab_{uuid.uuid4().hex}.npy"
        try:
            os.makedirs(base, exist_ok=True)
            path = os.path.join(base, fname)
            np.save(path, np.stack([vt, vi.view(np.int64)]))
        except OSError:
            path = os.path.join(tempfile.gettempdir(), fname)
            np.save(path, np.stack([vt, vi.view(np.int64)]))
        spark.sparkContext.addFile(path)
        staged = _StagedVocabFile(path)
        if persisted is not None:
            persisted.append(staged)  # removed at the caller's stage boundary
        vocab_src = ("file", fname)
    else:
        vocab_src = ("bc", spark.sparkContext.broadcast((vt, vi)))
    k_cap = top_k

    id_field = docs.select(id_col).schema.fields[0]
    out_schema = T.StructType(
        [
            id_field,
            T.StructField("terms", T.ArrayType(T.IntegerType())),
            T.StructField("weights", T.ArrayType(T.FloatType())),
        ]
    )

    def kernel(batches):
        # mapInArrow, not mapInPandas: the input list column flattens to its
        # raw values/offsets buffers with no per-row Python, and the output
        # ListArrays are built from flat values + offsets the same way — the
        # pandas route paid one ndarray box per row on BOTH sides
        import pyarrow as pa
        import pyarrow.compute as pc

        np.seterr(over="ignore")  # uint64 hash arithmetic wraps by design
        kind, payload = vocab_src
        if kind == "bc":
            vterms, vidf = payload.value
        else:
            from pyspark import SparkFiles

            packed = np.load(SparkFiles.get(payload), mmap_mode="r")
            vterms = packed[0]          # memmap: binary-searched in place —
            vidf = packed[1]            # pages shared host-wide, never copied
        if len(vterms) == 0:
            return  # nothing survives min_df → no vectors at all
        for batch in batches:
            name_idx = {nm: i for i, nm in enumerate(batch.schema.names)}
            tarr = batch.column(name_idx[term_col])
            lens = pc.fill_null(pc.list_value_length(tarr), 0).to_numpy(
                zero_copy_only=False
            )
            if lens.sum() == 0:
                continue
            flat = pc.list_flatten(tarr).to_numpy(zero_copy_only=False)
            flat = flat.astype(np.int64, copy=False)
            rows = np.repeat(np.arange(len(lens), dtype=np.int64), lens)
            if not terms_distinct:
                # per (row, term) tf via sort + run-length (the shuffle path's
                # groupBy(_id, _t) count)
                o = np.lexsort((flat, rows))
                rows, flat = rows[o], flat[o]
                new = np.empty(len(flat), dtype=bool)
                new[0] = True
                np.not_equal(flat[1:], flat[:-1], out=new[1:])
                new[1:] |= rows[1:] != rows[:-1]
                starts = np.nonzero(new)[0]
                tf = np.diff(np.append(starts, len(flat))).astype(np.float64)
                rows, flat = rows[starts], flat[starts]
            else:
                tf = None
            nq = len(flat)
            if len(vterms) >= (1 << 21) and nq > 1:
                # big vocab: random binary searches miss cache on every probe
                # (measured 15 s per 8.6M queries into a 220 MB array); sorting
                # the queries first makes both the probe walk and the value
                # gathers sequential — 15 s → ~4 s including the query sort
                oq = np.argsort(flat)
                fq = flat[oq]
                pos_s = np.searchsorted(vterms, fq)
                pos_s[pos_s >= len(vterms)] = 0
                found_s = np.asarray(vterms[pos_s] == fq)
                idf_s = np.asarray(vidf[pos_s])
                if idf_s.dtype == np.int64:  # file tier bit-puns idf in int64
                    idf_s = idf_s.view(np.float64)
                found = np.empty(nq, dtype=bool)
                found[oq] = found_s
                idf_all = np.empty(nq, dtype=np.float64)
                idf_all[oq] = idf_s
                rows, flat = rows[found], flat[found]
                idf_hit = idf_all[found]
            else:
                pos = np.searchsorted(vterms, flat)
                pos[pos >= len(vterms)] = 0
                found = np.asarray(vterms[pos] == flat)
                rows, flat, pos = rows[found], flat[found], pos[found]
                # fancy indexing materializes ONLY the hit rows off the memmap;
                # the file tier stores idf doubles bit-punned in int64 — re-view
                idf_hit = np.asarray(vidf[pos])
                if idf_hit.dtype == np.int64:
                    idf_hit = idf_hit.view(np.float64)
            w = idf_hit if tf is None else idf_hit * tf[found]
            th = (_xxhash64_long(flat) & np.uint64(0x7FFFFFFF)).astype(np.int64)

            out_rows, th32, wn, seg_starts = _assemble_group_flat(
                rows, th, w, k_cap
            )
            if len(out_rows) == 0:
                continue
            offsets = pa.array(
                np.append(seg_starts, len(th32)).astype(np.int32), pa.int32()
            )
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(name_idx[id_col]).take(pa.array(out_rows)),
                    pa.ListArray.from_arrays(offsets, pa.array(th32, pa.int32())),
                    pa.ListArray.from_arrays(offsets, pa.array(wn, pa.float32())),
                ],
                names=[id_col, "terms", "weights"],
            )

    return docs.select(id_col, term_col).mapInArrow(kernel, out_schema)


def array_jaccard(a: Column, b: Column) -> Column:
    """|A∩B| / |A∪B| over two distinct-element array columns — pure JVM expression."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0))


def cosine_array_cols(a: Column, b: Column) -> Column:
    """Dense-vector cosine via higher-order functions (JVM): for array<float/double>.

    Used by the embedding similarity operators; zip_with for the dot product,
    aggregate for the norms.
    """
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v * v))
    return F.when((na > 0) & (nb > 0), dot / (na * nb)).otherwise(F.lit(0.0))
