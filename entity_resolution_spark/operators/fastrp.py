"""FastRP graph embeddings + cosine clustering (reference ``FastRPCosineSim``).

Reference: ``am_combiner/combiners/fastRP.py``:
- ``_compute_deterministic_random_projection_matrix`` (47-76): per-record
  deterministic seed from the record id (``seed = Σ_i 3^i + ord(c_i) mod 2^32``),
  then ``np.random.choice([0, -v, +v], p=[2/3, 1/6, 1/6])`` — a very sparse
  Achlioptas projection row, permutation invariant by construction;
- ``_fastrp_proj`` (78-106): row-normalize the doc–doc adjacency (``M = D⁻¹A``),
  iterate ``X ← M·X`` accumulating ``N = Σ_i w_i · MⁱR`` (default weights
  ``[0, 0.5, 0.5]`` ⇒ ``N = 0.5·(M² + M³)·R``), then all-pairs cosine;
- ``combine_entities`` (123-160): threshold the similarities and run connected
  components.

Spark form — the iteration is a distributed sparse-matrix × dense-matrix product
kept in COO "long" form the whole way: embeddings live as ``(id, pos, val)`` rows,
one SpMM step is ``edges ⋈ X on src`` → ``groupBy (dst, pos) sum(w·val)``. That is
a pure shuffle-bounded join+agg pipeline (no Python in the loop, whole-stage
codegen end to end), the classic 100 TB-safe shape for power iteration: cost per
step is O(nnz · dim) rows through one hash join, partitioned by vertex — no
driver-side matrices, no collect. Only the projection-row generator is a pandas
UDF (one numpy RNG draw per record, reference-exact seeds).

At web scale ``dim`` trades shuffle volume for embedding fidelity; the reference
default 128 is kept but 64 is plenty for the thresholded-cosine use (the test
asserts ranking parity with the reference arithmetic, not absolute values).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _reference_seed(s: str) -> int:
    """The reference's quirky char hash (fastRP.py:63-66): Σ 3^i + ord(c) mod 2³²."""
    seed = 0
    for i, ch in enumerate(s):
        seed += 3**i + ord(ch)
    return seed % 2**32


def random_projection_rows(
    ids: DataFrame,
    id_col: str = "unique_id",
    dim: int = 128,
    random_val: float = 0.658,
) -> DataFrame:
    """Deterministic per-record projection rows → (id, pos, val), zeros omitted.

    Permutation invariant: each row depends only on the record id string, never
    on partitioning or order (reference fastRP.py:47-76, golden-tested by
    ``test_permutation_invariance``). Rows are ~1/3 dense, so the long form
    carries ~dim/3 rows per record into the first SpMM join.
    """

    out_schema = T.StructType(
        [
            T.StructField("id", T.StringType()),
            T.StructField("pos", T.IntegerType()),
            T.StructField("val", T.DoubleType()),
        ]
    )

    def gen(pdf: pd.DataFrame) -> pd.DataFrame:
        ids_, poss, vals = [], [], []
        for s in pdf["_id"].astype(str):
            rng = np.random.RandomState(_reference_seed(s))
            row = rng.choice(
                [0.0, -random_val, random_val], size=dim, p=[2.0 / 3, 1.0 / 6, 1.0 / 6]
            )
            nz = np.nonzero(row)[0]
            ids_.extend([s] * len(nz))
            poss.extend(nz.tolist())
            vals.extend(row[nz].tolist())
        return pd.DataFrame({"id": ids_, "pos": poss, "val": vals})

    def gen_iter(batches):
        for pdf in batches:
            yield gen(pdf)

    base = ids.select(F.col(id_col).cast("string").alias("_id")).distinct()
    return base.mapInPandas(gen_iter, out_schema)


def fastrp_embeddings(
    edges: DataFrame,
    dim: int = 128,
    proj_weights: tuple[float, ...] = (0.0, 0.5, 0.5),
    random_val: float = 0.658,
    r_long: DataFrame | None = None,
) -> DataFrame:
    """Undirected weighted edges (id_a, id_b, weight) → (id, embedding array).

    ``N = Σ_i proj_weights[i] · Mⁱ⁺¹ · R`` with ``M = D⁻¹A`` (reference
    fastRP.py:78-106: the loop multiplies BEFORE adding, so weight i applies to
    the (i+1)-th power). ``r_long`` overrides the projection rows (id, pos, val)
    — used by the golden test to inject the reference's dense test matrix.

    Every iteration is one hash join + one partial-agg shuffle over
    ``(vertex, pos)`` keys; the frame is re-materialized per step with
    ``localCheckpoint`` to keep the lineage flat (power iteration otherwise
    stacks i join subtrees deep, re-executing earlier steps).
    """
    sym = edges.select(
        F.col("id_a").cast("string").alias("src"),
        F.col("id_b").cast("string").alias("dst"),
        F.col("weight").cast("double").alias("w"),
    ).unionByName(
        edges.select(
            F.col("id_b").cast("string").alias("src"),
            F.col("id_a").cast("string").alias("dst"),
            F.col("weight").cast("double").alias("w"),
        )
    )
    # M = D⁻¹A row-normalized: (M·X)[i] = (1/deg_i)·Σ_j A[i,j]·X[j] — the
    # RECEIVER divides by its own degree (fastRP.py:95-97). In edge form the
    # receiver is dst, so the normalizer joins on dst.
    deg = sym.groupBy("dst").agg(F.sum("w").alias("_deg"))
    m = (
        sym.join(deg, "dst")
        .select("src", "dst", (F.col("w") / F.col("_deg")).alias("w"))
        .persist()
    )

    if r_long is None:
        r_long = random_projection_rows(
            m.select(F.col("src").alias("unique_id")), "unique_id", dim, random_val
        )
    x = r_long.select(F.col("id"), F.col("pos"), F.col("val"))

    acc = None
    for w_i in proj_weights:
        # one SpMM step: x(dst) = Σ_src m(src→dst)·x(src); note reference M@X
        # maps row=dst over columns=src, i.e. new[dst] = Σ M[dst,src]·x[src];
        # our m rows are (src=neighbor read side): join x on src, emit at dst.
        x = (
            m.join(x.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"), "pos")
            .agg(F.sum(F.col("w") * F.col("val")).alias("val"))
            .localCheckpoint(eager=True)
        )
        if w_i != 0.0:
            term = x.select("id", "pos", (F.col("val") * F.lit(float(w_i))).alias("val"))
            acc = term if acc is None else acc.unionByName(term)

    out = (
        acc.groupBy("id", "pos")
        .agg(F.sum("val").alias("val"))
        .groupBy("id")
        .agg(
            F.array_sort(F.collect_list(F.struct("pos", "val"))).alias("_pv"),
        )
        .select(
            "id",
            F.transform("_pv", lambda s: s["val"]).alias("_vals"),
            F.transform("_pv", lambda s: s["pos"]).alias("_poss"),
        )
    )
    # densify to a fixed-width array (missing positions = 0) so downstream
    # cosine operators see plain array<double>. The map is BOUND to a column
    # before the transform lambda — an expression inlined inside a HOF lambda
    # is re-evaluated per element (measured 374s→4.8s on the visitor stage;
    # PLANS.md round-2 audit).
    dense = (
        out.withColumn("_pvmap", F.map_from_arrays("_poss", "_vals"))
        .select(
            "id",
            F.transform(
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda i: F.coalesce(
                    F.element_at(F.col("_pvmap"), i.cast("int")), F.lit(0.0)
                ),
            ).alias("embedding"),
        )
    )
    m.unpersist()
    return dense


def fastrp_resolve(
    records: DataFrame,
    feature_cols: list[str],
    id_col: str = "unique_id",
    th: float = 0.5,
    dim: int = 128,
    proj_weights: tuple[float, ...] = (0.0, 0.5, 0.5),
) -> DataFrame:
    """The full FastRPCosineSim combiner (reference fastRP.py:123-160).

    feature-intersection adjacency (inverse_degree, as the reference passes
    ``inverse_degree=True``) → FastRP embeddings → cosine > th edges →
    connected components. Records never entering any edge stay singletons
    labeled by their own id (reference: zero rows in the adjacency still get
    their own cluster via the dense matrix; min-id labeling preserves that).
    """
    from entity_resolution_spark.operators.adjacency import feature_intersection_edges

    edges = feature_intersection_edges(
        records, feature_cols, id_col=id_col, inverse_degree=True
    )
    emb = fastrp_embeddings(edges, dim=dim, proj_weights=proj_weights).persist()
    out = cosine_threshold_clusters(records, emb, id_col, th)
    emb.unpersist()
    return out


def cosine_threshold_clusters(
    records: DataFrame, emb: DataFrame, id_col: str, th: float
) -> DataFrame:
    """Shared tail of the FastRP and GCN combiners: all-pairs cosine > ``th``
    over the node embeddings ``emb`` (id, embedding) → connected components →
    (id_col, cluster_id) for every record, min-id labels. Records without an
    embedding, or with a zero-norm one, are singletons labeled by their own id.

    ``emb`` is scanned by both sides of the pair join: the caller caches it,
    and may unpersist it once this returns (the components are computed here)."""
    from entity_resolution_spark.operators.components import label_components

    # zero-norm embeddings (a node whose neighborhood projection cancels, or
    # all-zero GCN input features through LeakyReLU) carry no direction:
    # exclude them from the cosine join — they resolve as singletons — instead
    # of dividing by zero (an ANSI-mode job failure, and NaN otherwise)
    norm_col = F.sqrt(
        F.aggregate("embedding", F.lit(0.0), lambda s, v: s + v * v)
    )
    ne = emb.select("id", "embedding", norm_col.alias("_n")).where(F.col("_n") > 0)
    a = ne.select(F.col("id").alias("id_a"), F.col("embedding").alias("_ea"),
                  F.col("_n").alias("_na"))
    b = ne.select(F.col("id").alias("id_b"), F.col("embedding").alias("_eb"),
                  F.col("_n").alias("_nb"))
    # all-pairs cosine within the (already block-bounded) embedded set; the
    # n² stays inside blocks because `records` is per-block in the combiner
    # contract (identical to the reference, which densifies per block).
    dot = F.aggregate(
        F.zip_with("_ea", "_eb", lambda u, v: u * v),
        F.lit(0.0),
        lambda s, v: s + v,
    )
    sim_edges = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", (dot / (F.col("_na") * F.col("_nb"))).alias("sim"))
        .where(F.col("sim") > th)
    )
    return label_components(
        records.select(F.col(id_col).cast("string").alias(id_col)).distinct(),
        sim_edges, id_col, "id_a", "id_b", out_col="cluster_id",
    )
