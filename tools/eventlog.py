"""Spark event-log reading shared by the diagnosis tools
(diag_scaling.py, diag_cpu_compare.py); they import it as a sibling module."""

from __future__ import annotations

import io
import json
import os


def iter_events(evdir: str):
    """Yield every JSON event of the newest finished event log in ``evdir``.
    Spark 4 writes rolling directories (eventlog_v2_*/events_*), optionally
    zstd-compressed; older logs are one plain file."""
    path = max(
        (os.path.join(evdir, f) for f in os.listdir(evdir) if not f.endswith(".inprogress")),
        key=os.path.getmtime,
    )
    if os.path.isdir(path):
        files = sorted(os.path.join(path, f) for f in os.listdir(path) if f.startswith("events_"))
    else:
        files = [path]
    for f in files:
        if f.endswith(".zstd"):
            import pyarrow as pa

            fh = io.TextIOWrapper(pa.input_stream(f, compression="zstd"), encoding="utf-8")
        else:
            fh = open(f)
        with fh:
            for line in fh:
                try:
                    yield json.loads(line)
                except json.JSONDecodeError:
                    continue


def stage_scopes(stage_info: dict) -> list[str]:
    """Distinct physical-operator scope names of a completed stage's RDDs."""
    scopes: list[str] = []
    for r in stage_info.get("RDD Info", []):
        try:
            nm = json.loads(r.get("Scope") or "{}").get("name", "")
        except json.JSONDecodeError:
            nm = ""
        if nm and nm not in scopes:
            scopes.append(nm)
    return scopes
