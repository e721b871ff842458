"""The session contract of ``session.get_spark``: the launch conf (a running
session's, or the one spark-submit starts the JVM with) wins over the
engine's defaults."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyspark

from entity_resolution_spark.session import get_spark

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SUBMITTED = r"""
import json, sys
sys.path.insert(0, {repo!r})
from entity_resolution_spark.session import get_spark
conf = get_spark().conf
print("RESULT" + json.dumps({{k: conf.get(k, None) for k in sys.argv[1:]}}))
"""


def test_spark_submit_conf_wins_over_defaults(tmp_path):
    """``--master`` and ``--conf`` given to spark-submit survive ``get_spark()``;
    the defaults still fill the keys spark-submit left unset."""
    script = tmp_path / "submitted.py"
    script.write_text(SUBMITTED.format(repo=REPO))
    keys = ["spark.master", "spark.sql.shuffle.partitions",
            "spark.sql.session.timeZone", "spark.python.daemon.module"]
    p = subprocess.run(
        [os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit"),
         "--master", "local[2]", "--conf", "spark.sql.shuffle.partitions=3",
         str(script), *keys],
        capture_output=True, text=True, timeout=300,
        env={**os.environ, "PYSPARK_PYTHON": sys.executable,
             "PYSPARK_DRIVER_PYTHON": sys.executable},
    )
    lines = [l for l in p.stdout.splitlines() if l.startswith("RESULT")]
    assert lines, p.stderr[-3000:]
    assert json.loads(lines[-1][len("RESULT"):]) == {
        "spark.master": "local[2]",
        "spark.sql.shuffle.partitions": "3",
        "spark.sql.session.timeZone": "UTC",
        "spark.python.daemon.module": "entity_resolution_spark.worker_daemon",
    }


def test_active_session_conf_wins_over_defaults(spark):
    before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "5")
    try:
        assert get_spark("x") is spark
        assert spark.conf.get("spark.sql.shuffle.partitions") == "5"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
