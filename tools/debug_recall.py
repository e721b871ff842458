"""Diagnose FN pairs: candidate coverage vs scoring threshold on the synth corpus."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from entity_resolution_spark.plans.pipeline import PipelineConfig, resolve, surrogate_ids
from entity_resolution_spark.operators.scoring import build_pair_features, logistic_score
from entity_resolution_spark.session import get_spark
from entity_resolution_spark.synth.generator import SynthConfig, corpus_dataframes

spark = get_spark("debug", master="local[8]", shuffle_partitions=8)
repo_files, gt, lp = corpus_dataframes(spark, SynthConfig(seed=42, n_entities=60))
out = resolve(spark, repo_files, PipelineConfig())

# labeled pairs on the surrogate ids of the mid-pipeline stages, ordered
# id_a < id_b like the candidate pairs
ia, ib = F.xxhash64("unique_id_a"), F.xxhash64("unique_id_b")
lp = lp.select(F.least(ia, ib).alias("id_a"), F.greatest(ia, ib).alias("id_b"), "label")
pos = lp.where("label")
pairs = out["pairs"]
n_pos = pos.count()
n_missed_cand = pos.join(pairs, ["id_a", "id_b"], "left_anti").count()
print(f"positive pairs: {n_pos}, not in candidates: {n_missed_cand}")

# score distribution of candidate positives
pf = build_pair_features(pairs, surrogate_ids(out["features"]), out["vectors"])
scored = logistic_score(pf)
sp = pos.join(scored, ["id_a", "id_b"])
print("positive-pair feature stats:")
sp.select("cosine", "jaccard", "jw_stem", "lev_stem", "same_lang", "exact", "score").summary(
    "min", "5%", "25%", "50%", "75%", "max"
).show()
print("lowest-scoring positives:")
sp.orderBy("score").select("cosine", "jaccard", "jw_stem", "score").show(15)

sn = lp.where("NOT label").join(scored, ["id_a", "id_b"])
print("negative candidate pairs scored:", sn.count())
sn.select("cosine", "jaccard", "jw_stem", "score").summary("min", "50%", "95%", "max").show()
