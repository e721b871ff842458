"""The spark-submit resolve job, run in-process on a synthetic corpus."""

import json
import sys


def test_resolve_job_checkpointed_run(spark, tmp_path, monkeypatch, capsys):
    import jobs.resolve_job as job
    from entity_resolution_spark.synth.generator import SynthConfig, corpus_dataframes

    repo_files, _, _ = corpus_dataframes(spark, SynthConfig(seed=3, n_entities=20))
    src = str(tmp_path / "files")
    repo_files.write.parquet(src)
    n_files = spark.read.parquet(src).count()
    watched = ("spark.sql.shuffle.partitions", "spark.sql.session.timeZone")
    before = {k: spark.conf.get(k) for k in watched}

    monkeypatch.setattr(sys, "argv", [
        "resolve_job.py", "--input", src, "--output", str(tmp_path / "clusters"),
        "--checkpoint", str(tmp_path / "ck"), "--report",
    ])
    assert job.main() == 0
    report = {}
    for line in capsys.readouterr().out.splitlines():
        if line.startswith("{"):
            report.update(json.loads(line))

    assert report["sha256_violations"] == 0
    assert report["rows"] == n_files
    assert set(report["stage_seconds"]) == {
        "features", "vectors", "assignments", "candidate_pairs",
        "match_edges", "clusters",
    }
    assert {k: spark.conf.get(k) for k in watched} == before
