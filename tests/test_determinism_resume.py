"""Determinism + resumability gates (FIXTURES.md §5):
- identical cluster co-membership under local[2] vs local[8];
- resume-from-checkpoint after a simulated crash reproduces identical clusters.

Each parallelism level runs in its own subprocess (own SparkSession/JVM)."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = r"""
import json, sys
sys.path.insert(0, {repo!r})
from entity_resolution_spark.plans.pipeline import PipelineConfig, resolve
from entity_resolution_spark.session import get_spark
from entity_resolution_spark.synth.generator import SynthConfig, corpus_dataframes

cores = int(sys.argv[1])
spark = get_spark("det", master=f"local[{{cores}}]", shuffle_partitions=cores * 2)
rf, _, _ = corpus_dataframes(spark, SynthConfig(seed=7, n_entities=25))
out = resolve(spark, rf, PipelineConfig())
rows = sorted(
    (r["unique_id"], r["cluster_rep"]) for r in out["clusters"].collect()
)
print("RESULT" + json.dumps(rows))
"""


def _start(cores: int) -> subprocess.Popen:
    return subprocess.Popen(
        [sys.executable, "-c", CHILD.format(repo=REPO), str(cores)],
        stdout=subprocess.PIPE,
        stderr=subprocess.PIPE,
        text=True,
    )


def _result(p: subprocess.Popen) -> list:
    out, err = p.communicate(timeout=900)
    lines = [l for l in out.splitlines() if l.startswith("RESULT")]
    assert lines, err[-3000:]
    return json.loads(lines[-1][len("RESULT"):])


def test_identical_output_across_parallelism():
    procs = [_start(2), _start(8)]  # both JVMs run at once
    try:
        assert _result(procs[0]) == _result(procs[1])
    finally:
        for p in procs:
            p.kill()  # a no-op on a child that has exited


def test_resume_reproduces_identical_clusters(spark, tmp_path):
    from entity_resolution_spark.plans.checkpoint import CheckpointStore
    from entity_resolution_spark.plans.pipeline import PipelineConfig, resolve
    from entity_resolution_spark.synth.generator import SynthConfig, corpus_dataframes

    rf, _, _ = corpus_dataframes(spark, SynthConfig(seed=9, n_entities=20))
    root = str(tmp_path / "ck")
    store = CheckpointStore(spark, root)
    first = sorted(
        (r["unique_id"], r["cluster_rep"])
        for r in resolve(spark, rf, PipelineConfig(), store=store)["clusters"].collect()
    )
    # simulate crash after candidate_pairs: drop the later stages
    for stage in ("match_edges", "clusters"):
        shutil.rmtree(os.path.join(root, stage), ignore_errors=True)
        lp = os.path.join(root, f"{stage}._lineage.json")
        if os.path.exists(lp):
            os.remove(lp)
    store2 = CheckpointStore(spark, root)
    second = sorted(
        (r["unique_id"], r["cluster_rep"])
        for r in resolve(spark, rf, PipelineConfig(), store=store2)["clusters"].collect()
    )
    assert first == second
    # and the early stages were NOT recomputed (lineage timestamps unchanged)
    with open(os.path.join(root, "features._lineage.json")) as f:
        assert json.load(f)["stage"] == "features"


def test_resume_in_one_session_persists_no_cached_plan(spark, tmp_path, monkeypatch):
    """A resume in the session that ran the cold pass recomputes its stages
    from scratch: no frame the pipeline persists is already cached (the cold
    run's stage caches were freed at their stage boundaries)."""
    from entity_resolution_spark.plans.checkpoint import CheckpointStore
    from entity_resolution_spark.plans.pipeline import PipelineConfig, resolve
    from entity_resolution_spark.synth.generator import SynthConfig, corpus_dataframes

    rf, _, _ = corpus_dataframes(spark, SynthConfig(seed=13, n_entities=15))
    cls = type(rf)
    persist = cls.persist
    already_cached = []

    def checked_persist(self, *args, **kwargs):
        level = self.storageLevel
        if level.useMemory or level.useDisk:
            already_cached.append(self.columns)
        return persist(self, *args, **kwargs)

    monkeypatch.setattr(cls, "persist", checked_persist)
    root = str(tmp_path / "ck")
    resolve(spark, rf, PipelineConfig(), store=CheckpointStore(spark, root))
    for stage in ("match_edges", "clusters"):
        shutil.rmtree(os.path.join(root, stage))
        os.remove(os.path.join(root, f"{stage}._lineage.json"))
    store = CheckpointStore(spark, root)
    resolve(spark, rf, PipelineConfig(), store=store)
    assert set(store.stage_seconds) == {"match_edges", "clusters"}
    assert already_cached == []


def test_interrupted_lineage_write_leaves_stage_absent(spark, tmp_path, monkeypatch):
    """A sidecar write that dies mid-dump leaves no sidecar, so the next run
    recomputes the stage instead of failing to parse a partial JSON file."""
    import pytest

    from entity_resolution_spark.plans import checkpoint

    def dies_mid_dump(obj, f):
        f.write('{"run_id": ')
        raise OSError("interrupted")

    root = str(tmp_path / "ck")
    store = checkpoint.CheckpointStore(spark, root)
    monkeypatch.setattr(checkpoint.json, "dump", dies_mid_dump)
    with pytest.raises(OSError, match="interrupted"):
        store.write("features", spark.range(3), input_signature="v3")
    monkeypatch.undo()
    assert not [n for n in os.listdir(root) if "_lineage" in n]
    assert not store.has("features", input_signature="v3")


def test_iceberg_backend_parity(spark, tmp_path):
    """Iceberg backend (north rule: "checkpointing ... to Iceberg"): with
    an Iceberg catalog passed as ``catalog=``, stage writes route through
    writeTo(...).createOrReplace() and the resolved clusters must be
    IDENTICAL to the parquet backend's. Auto-skips when the Iceberg runtime
    jar is absent (as in this sandbox) — the parquet path is what every
    other checkpoint test exercises."""
    import pytest

    from entity_resolution_spark.plans.checkpoint import CheckpointStore
    from entity_resolution_spark.plans.pipeline import PipelineConfig, resolve
    from entity_resolution_spark.synth.generator import SynthConfig, corpus_dataframes

    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
    except Exception:
        pytest.skip("Iceberg runtime jar not on the classpath")
    spark.conf.set(
        "spark.sql.catalog.ckpt_test", "org.apache.iceberg.spark.SparkCatalog"
    )
    spark.conf.set("spark.sql.catalog.ckpt_test.type", "hadoop")
    spark.conf.set(
        "spark.sql.catalog.ckpt_test.warehouse", str(tmp_path / "warehouse")
    )
    try:
        rf, _, _ = corpus_dataframes(spark, SynthConfig(seed=11, n_entities=15))

        def _clusters(store):
            out = resolve(spark, rf, PipelineConfig(), store=store)
            return sorted(
                (r["unique_id"], r["cluster_rep"])
                for r in out["clusters"].collect()
            )

        pq = _clusters(
            CheckpointStore(spark, str(tmp_path / "pq"), catalog="")
        )
        ice_store = CheckpointStore(
            spark, str(tmp_path / "ice"), catalog="ckpt_test"
        )
        ice = _clusters(ice_store)
        assert pq == ice
        # the stages really landed as catalog tables
        tables = {
            r["tableName"]
            for r in spark.sql(
                "SHOW TABLES IN ckpt_test.er_checkpoints"
            ).collect()
        }
        assert "clusters" in tables
    finally:
        for k in (
            "spark.sql.catalog.ckpt_test",
            "spark.sql.catalog.ckpt_test.type",
            "spark.sql.catalog.ckpt_test.warehouse",
        ):
            spark.conf.unset(k)


def test_parquet_fallback_without_catalog(spark, tmp_path):
    """No ``catalog=`` keeps the store on parquet, even when the session
    conf names an Iceberg catalog; an explicit catalog that cannot be used
    raises instead of falling back."""
    import pytest

    from entity_resolution_spark.plans.checkpoint import CheckpointStore

    spark.conf.set(
        "spark.sql.catalog.bogus_ice", "org.apache.iceberg.spark.SparkCatalog"
    )
    try:
        store = CheckpointStore(spark, str(tmp_path / "ck"))
        assert store.catalog is None
        store.write("s1", spark.range(5).toDF("n"), "sig")
        assert store.read("s1").count() == 5  # parquet path really works

        with pytest.raises(Exception):
            CheckpointStore(spark, str(tmp_path / "ck2"), catalog="bogus_ice")
    finally:
        spark.conf.unset("spark.sql.catalog.bogus_ice")


def test_stage_of_another_backend_is_recomputed(spark, tmp_path):
    """Each sidecar records the backend that wrote the stage; a store on the
    other backend treats the stage as absent and recomputes it."""
    from entity_resolution_spark.plans.checkpoint import CheckpointStore

    store = CheckpointStore(spark, str(tmp_path / "ck"), catalog="")
    store.write("s1", spark.range(3).toDF("n"), "sig")
    assert store.has("s1", "sig")
    lp = os.path.join(store.root, "s1._lineage.json")
    with open(lp) as f:
        lin = json.load(f)
    assert lin["backend"] == "parquet"
    with open(lp, "w") as f:
        json.dump({**lin, "backend": "iceberg"}, f)
    assert not store.has("s1", "sig")
    out = store.get_or_compute("s1", lambda: spark.range(7).toDF("n"), "sig")
    assert out.count() == 7
    assert store.has("s1", "sig")


def test_interrupted_rewrite_invalidates_stale_checkpoint(spark, tmp_path):
    """A crash mid-overwrite must not leave `has()` pointing at the stage it
    was replacing: the lineage sidecar is removed before the parquet overwrite
    begins, so an interrupted write forces a recompute instead of a silent
    read of a corrupt/partial directory."""
    import pytest
    from pyspark.sql import functions as F

    from entity_resolution_spark.plans.checkpoint import CheckpointStore

    store = CheckpointStore(spark, str(tmp_path / "ck"))
    df = spark.range(10).select(F.col("id"))
    store.write("stage_a", df, input_signature="v1")
    assert store.has("stage_a", "v1")

    # a frame whose evaluation fails mid-write simulates the crash
    bad = spark.range(4).select((F.lit(1) / (F.col("id") - 2)).alias("x"))
    with pytest.raises(Exception):
        store.write("stage_a", bad, input_signature="v2")
    assert not store.has("stage_a", "v1")
    assert not store.has("stage_a", "v2")

    # the store recovers: the next get_or_compute recomputes cleanly
    out = store.get_or_compute("stage_a", lambda: df, input_signature="v1")
    assert out.count() == 10
