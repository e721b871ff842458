"""The spark-submit resolve job, run in-process on a synthetic corpus."""

import json
import sys

STAGES = {
    "features", "vectors", "assignments", "candidate_pairs", "match_edges", "clusters",
}


def _run_job(spark, tmp_path, monkeypatch, capsys, *extra):
    """Run ``resolve_job.main`` with ``--report`` plus ``extra`` on a 20-entity
    corpus; returns its merged JSON report lines and the input row count."""
    import jobs.resolve_job as job
    from entity_resolution_spark.synth.generator import SynthConfig, corpus_dataframes

    repo_files, _, _ = corpus_dataframes(spark, SynthConfig(seed=3, n_entities=20))
    src = str(tmp_path / "files")
    repo_files.write.parquet(src)
    n_files = spark.read.parquet(src).count()

    monkeypatch.setattr(sys, "argv", [
        "resolve_job.py", "--input", src, "--output", str(tmp_path / "clusters"),
        "--report", *extra,
    ])
    assert job.main() == 0
    report = {}
    for line in capsys.readouterr().out.splitlines():
        if line.startswith("{"):
            report.update(json.loads(line))
    return report, n_files


def test_resolve_job_checkpointed_run(spark, tmp_path, monkeypatch, capsys):
    watched = ("spark.sql.shuffle.partitions", "spark.sql.session.timeZone")
    before = {k: spark.conf.get(k) for k in watched}
    report, n_files = _run_job(
        spark, tmp_path, monkeypatch, capsys, "--checkpoint", str(tmp_path / "ck")
    )

    assert report["sha256_violations"] == 0
    assert report["rows"] == n_files
    assert set(report["stage_seconds"]) == STAGES
    assert {k: spark.conf.get(k) for k in watched} == before


def test_resolve_job_report_without_checkpoint(spark, tmp_path, monkeypatch, capsys):
    """Without a store every stage still ends materialized, so ``--report``
    prints all six stage timings."""
    report, n_files = _run_job(spark, tmp_path, monkeypatch, capsys)

    assert report["sha256_violations"] == 0
    assert report["rows"] == n_files
    assert set(report["stage_seconds"]) == STAGES
    assert all(s >= 0 for s in report["stage_seconds"].values())
