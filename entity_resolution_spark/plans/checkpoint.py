"""Per-stage checkpointing with lineage + resumability.

Generalizes the reference's feature-cache pattern — write processed records, on
re-run fetch what exists and process only the difference
(``am_combiner/utils/build_feature_cache.py:77-86``) — to every pipeline stage.

Backends (selected per store, nothing else in the pipeline changes):

- **Parquet** (default, ``catalog=None`` or ``""``): one directory per stage
  under ``root``. This is what the sandbox tests exercise.
- **Iceberg** (explicit ``catalog=`` — the north rule's "checkpointing ... to
  Iceberg"): stage writes route through
  ``df.writeTo(<catalog>.<namespace>.<stage>).createOrReplace()`` and reads
  through ``spark.read.table``, giving snapshot isolation + atomic replace
  per stage. A catalog that cannot be used raises; the store never picks a
  backend from the session conf. A parity test (auto-skipped when the
  Iceberg runtime jar is absent, as it is in this sandbox) asserts both
  backends reproduce identical clusters.

Both backends keep a ``_lineage`` JSON sidecar per stage under ``root``
(run_id, stage, backend, row count, input signature), so ``has()``/resume
semantics are identical across them. A stage whose sidecar names the other
backend is recomputed, never read.
"""

from __future__ import annotations

import json
import os
import re
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass
class StageLineage:
    run_id: str
    stage: str
    backend: str
    rows: int
    input_signature: str
    wall_sec: float
    written_at: float


class CheckpointStore:
    """Directory (or Iceberg namespace) of per-stage checkpoints; a stage is
    reused iff its input signature matches (resume-from-checkpoint
    mid-pipeline).

    ``catalog``: Iceberg catalog name for the Iceberg backend; ``None`` or
    ``""`` (default) keeps the stages in parquet directories under ``root``.
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        run_id: str = "run0",
        catalog: str | None = None,
        namespace: str = "er_checkpoints",
    ):
        self.spark = spark
        self.root = root
        self.run_id = run_id
        os.makedirs(root, exist_ok=True)
        self.stage_seconds: dict[str, float] = {}
        self.catalog = catalog or None
        self.backend = "iceberg" if self.catalog else "parquet"
        self.namespace = namespace
        if self.catalog:
            spark.sql(
                f"CREATE NAMESPACE IF NOT EXISTS {self.catalog}.{self.namespace}"
            )

    def _dir(self, stage: str) -> str:
        return os.path.join(self.root, stage)

    def _table(self, stage: str) -> str:
        safe = re.sub(r"[^A-Za-z0-9_]", "_", stage)
        return f"{self.catalog}.{self.namespace}.{safe}"

    def _lineage_path(self, stage: str) -> str:
        return os.path.join(self.root, f"{stage}._lineage.json")

    def has(self, stage: str, input_signature: str = "") -> bool:
        lp = self._lineage_path(stage)
        if not os.path.exists(lp):
            return False
        with open(lp) as f:
            lin = json.load(f)
        return (
            lin.get("input_signature") == input_signature
            and lin.get("backend") == self.backend
        )

    def read(self, stage: str) -> DataFrame:
        if self.catalog:
            return self.spark.read.table(self._table(stage))
        return self.spark.read.parquet(self._dir(stage))

    def write(self, stage: str, df: DataFrame, input_signature: str = "") -> DataFrame:
        """Materialize a stage; returns the re-read (checkpointed) frame so downstream
        lineage is cut at the stage boundary (the cluster analog of the reference's
        cache collection)."""
        t0 = time.monotonic()
        # invalidate BEFORE overwriting: the overwrite deletes the old stage
        # dir first, so a crash mid-write would otherwise leave the stale
        # lineage sidecar pointing `has()` at a corrupt/partial directory —
        # the resume would silently read it. With the sidecar gone first, any
        # interrupted write simply recomputes the stage on the next run.
        # (The Iceberg path's createOrReplace is atomic on its own, but the
        # sidecar ordering keeps `has()` honest about interrupted runs there
        # too — lineage only exists for fully committed stages.)
        lp = self._lineage_path(stage)
        if os.path.exists(lp):
            os.remove(lp)
        if self.catalog:
            df.writeTo(self._table(stage)).using("iceberg").createOrReplace()
        else:
            df.write.mode("overwrite").parquet(self._dir(stage))
        wall = time.monotonic() - t0
        out = self.read(stage)
        rows = out.count()
        lin = StageLineage(
            run_id=self.run_id,
            stage=stage,
            backend=self.backend,
            rows=rows,
            input_signature=input_signature,
            wall_sec=wall,
            written_at=time.time(),
        )
        # the sidecar appears whole or not at all: a crash mid-dump must not
        # leave a partial JSON that makes every later has() raise
        tmp = f"{lp}.tmp"
        try:
            with open(tmp, "w") as f:
                json.dump(lin.__dict__, f)
            os.replace(tmp, lp)
        finally:
            if os.path.exists(tmp):
                os.remove(tmp)
        self.stage_seconds[stage] = wall
        return out

    def get_or_compute(self, stage: str, compute, input_signature: str = "") -> DataFrame:
        if self.has(stage, input_signature):
            return self.read(stage)
        return self.write(stage, compute(), input_signature)
