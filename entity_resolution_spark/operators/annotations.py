"""Human-annotation overrides on scored match edges (the AnnotationsCombiner).

Reference semantics being reproduced (not ported):
``am_combiner/combiners/annotation.py:41-67`` — after pairwise scoring builds the
0/1 adjacency, every positively-annotated pair is overwritten to 1 and every
negatively-annotated pair to 0, then connected components run as usual. This is
also how the reference derives ground-truth clusters from human annotations
(``am_combiner/utils/data.py:589-620``: the annotation combiner's cluster ids
become the ``ground_truth`` column of the input table).

Spark design: the adjacency is an edge DataFrame, so the overwrite is pure
relational algebra — a canonicalized anti-join deletes negative pairs, a union
adds positive pairs (score 1.0). In the reference the per-article negative loop
runs after the positive loop, so a pair labeled both ways ends up negative;
we keep that precedence (negative wins) and make it orientation-independent.
All operators are shuffle-bounded joins on the canonical (id_a, id_b) key —
at 100 TB the labeled-pair side is tiny (human output) and broadcasts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from entity_resolution_spark.operators.components import label_components


def _canon_pairs(df: DataFrame, id_a: str, id_b: str, keep: list[str]) -> DataFrame:
    """Orientation-independent pair key: (min, max) of the two ids."""
    return df.select(
        F.least(F.col(id_a), F.col(id_b)).alias("id_a"),
        F.greatest(F.col(id_a), F.col(id_b)).alias("id_b"),
        *[F.col(c) for c in keep],
    )


def apply_label_overrides(
    edges: DataFrame,
    labeled_pairs: DataFrame,
    pair_id_a: str = "id_a",
    pair_id_b: str = "id_b",
    label_col: str = "label",
) -> DataFrame:
    """Scored match edges ⊕ labeled pairs → overridden edges (id_a, id_b, score).

    - negative pair (label = false): the edge is deleted whatever its score
      (anti-join; negative wins over any conflicting positive, matching the
      reference's apply-negatives-last loop order);
    - positive pair (label = true): the edge exists with score 1.0 whether or
      not scoring produced it (union + max-score dedup).

    ``labeled_pairs``: (pair_id_a, pair_id_b, label boolean) in any orientation
    — the ``pair_id_*`` parameters name ONLY the labeled-pairs columns.
    ``edges`` has the fixed engine schema (id_a, id_b, score).
    """
    lp = _canon_pairs(labeled_pairs, pair_id_a, pair_id_b, [label_col])
    neg = lp.where(~F.col(label_col)).select("id_a", "id_b").distinct()
    pos = lp.where(F.col(label_col)).select(
        "id_a", "id_b", F.lit(1.0).alias("score")
    ).distinct()
    e = _canon_pairs(edges, "id_a", "id_b", ["score"])
    kept = e.join(F.broadcast(neg), ["id_a", "id_b"], "left_anti")
    forced = pos.join(F.broadcast(neg), ["id_a", "id_b"], "left_anti")
    return (
        kept.unionByName(forced)
        .groupBy("id_a", "id_b")
        .agg(F.max("score").alias("score"))
    )


def annotate_and_cluster(
    edges: DataFrame,
    labeled_pairs: DataFrame,
    vertices: DataFrame,
    id_col: str = "unique_id",
) -> DataFrame:
    """Overridden edges → connected components → (id_col, cluster_rep).

    The full AnnotationsCombiner: override, then transitive closure; isolated
    records become singleton clusters (their own id), exactly like the batch
    pipeline's cluster stage.
    """
    return label_components(
        vertices.select(id_col),
        apply_label_overrides(edges, labeled_pairs),
        id_col, "id_a", "id_b", out_col="cluster_rep",
    )


def annotation_records(
    pair_annotations: DataFrame,
    url_a: str = "url_1",
    content_a: str = "content_1",
    url_b: str = "url_2",
    content_b: str = "content_2",
    entity_col: str = "entity_name",
) -> DataFrame:
    """Pair-annotation table → distinct record table (unique_id, content,
    blocking_field).

    Reference: the annotations provider stacks both sides of every annotated
    pair into one article frame and dedups it
    (``am_combiner/utils/data.py:442-471`` — urls 1+2 concatenated, entity name
    repeated, ``drop_duplicates``). Relational form: union of the two side
    projections, ``distinct``. One shuffle; the annotation file is human-sized.
    """
    a = pair_annotations.select(
        F.col(url_a).alias("unique_id"),
        F.col(content_a).alias("content"),
        F.col(entity_col).alias("blocking_field"),
    )
    b = pair_annotations.select(
        F.col(url_b).alias("unique_id"),
        F.col(content_b).alias("content"),
        F.col(entity_col).alias("blocking_field"),
    )
    return a.unionByName(b).distinct()


def annotation_labeled_pairs(
    pair_annotations: DataFrame,
    url_a: str = "url_1",
    url_b: str = "url_2",
    entity_col: str = "entity_name",
    result_col: str = "annotation_result",
    positive_value: str = "Yes",
) -> DataFrame:
    """Pair-annotation table → (blocking_field, id_a, id_b, label) for
    :func:`apply_label_overrides`.

    Reference: ``_store_pairwise_annotation_mappings``
    (``am_combiner/utils/data.py:473-508``) builds symmetric per-entity
    url→urls maps, one per answer value. The relational equivalent is the
    canonical (min, max) pair carrying ``label = (result == positive_value)``
    — symmetry is the canonicalization, the per-entity keying is the retained
    ``blocking_field`` column (the same url can be annotated under two
    entities). A pair annotated both ways collapses to negative downstream
    (``apply_label_overrides``'s negative-wins precedence).
    """
    lp = _canon_pairs(
        pair_annotations, url_a, url_b, [entity_col, result_col]
    )
    return lp.select(
        F.col(entity_col).alias("blocking_field"),
        "id_a",
        "id_b",
        (F.col(result_col) == positive_value).alias("label"),
    ).distinct()


def ground_truth_from_annotations(
    records: DataFrame,
    edges: DataFrame,
    labeled_pairs: DataFrame,
    id_col: str = "unique_id",
) -> DataFrame:
    """Attach annotation-derived ground truth to a record table.

    The reference computes ground truth by running the AnnotationsCombiner over
    the input and merging its cluster ids back (``utils/data.py:589-620``, with
    the row-count assert that every record survived the merge). Here: records ⋈
    annotate_and_cluster, inner join — callers can compare counts for the same
    guarantee without a driver-side assert.
    """
    clusters = annotate_and_cluster(edges, labeled_pairs, records, id_col)
    return records.join(
        clusters.select(F.col(id_col), F.col("cluster_rep").alias("ground_truth")),
        id_col,
    )
