"""The workloads. Each one times calls into the program's public surface:

- ``query_suite``  ``queries.QUERIES[name]``, one ordered pass per op over the
                   star-schema fixture in ``perfbench/testdata/sf0.01``;
- ``resolve_prep`` ``plans.pipeline.resolve`` through a parquet
                   ``plans.checkpoint.CheckpointStore``, cold then resumed,
                   then ``jobs/corpus_prep_job.main`` run in-process.

A run makes a warm-up op, then ``measured_ops`` measured ones: a fixed
count, since the JVM keeps warming up over the first ops (each is faster
than the one before) and every run has to report the same statistic. The
count is what fits the benchmark's time budget: a ``resolve_prep`` op costs
~15 s, and a second one per run did not narrow the run-to-run spread, which
host contention lasting minutes sets.

``op`` runs one operation. Only the work inside ``meter.timed()`` counts in
the operation's wall and CPU seconds; the fingerprints of stored output, the
quality checks and the row counts an op also takes run between those
sections. A traced op also fills ``Rep.layers``; ``job_layers`` adds what the
Spark event log knows.
"""

from __future__ import annotations

import contextlib
import importlib.util
import io
import os
import re
import shutil
import sys
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq

import gen
from measure import Meter, StageClock, directory_bytes, fingerprint

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STAGES = ["features", "vectors", "assignments", "candidate_pairs", "match_edges", "clusters"]
# resolve() returns its stage frames under these keys
STAGE_KEY = {"candidate_pairs": "pairs", "match_edges": "edges"}
PREP_STAGES = ["quality", "dedup", "decontaminated", "sampled", "chunks"]
_FUNNEL = re.compile(r"^# corpus_prep (\w+): (\d+) ([\d.]+)s$")


@dataclass
class Rep:
    out: dict = field(default_factory=dict)      # op name -> output summary, or {"error": ...}
    layers: dict = field(default_factory=dict)   # per-layer metrics of a traced op
    windows: list = field(default_factory=list)  # resolve (stage, t0, t1), wall clock
    sections: list = field(default_factory=list) # the op's timed sections
    tag: str = ""                                # job-group prefix in a traced run
    traced: bool = False
    wall: float = 0.0
    cpu: float = 0.0


def _group(spark, name: str | None) -> None:
    sc = spark.sparkContext
    if name is None:
        sc.setLocalProperty("spark.jobGroup.id", None)
    else:
        sc.setJobGroup(name, name)


def _error(e: Exception) -> dict:
    return {"error": f"{type(e).__name__}: {str(e)[:300]}"}


class QuerySuite:
    """One ordered pass over a fixed list of registry queries on the
    star-schema fixture (seed 42, scale 0.01: 500 documents, 60,000 line
    items), from a cleared session memo. Each query is built, then
    materialized by the fingerprint aggregate. Fixed per-query cost
    (planning, build-time jobs) dominates at this scale. ``--seed`` does not
    apply: the fixture is fixed."""

    name = "query_suite"
    queries = [
        "pricing_summary", "top_revenue_nations", "exact_dedup_docs", "jaccard_pairs_docs",
        "cc_jaccard_docs", "minhash_near_dup", "decontaminate_docs", "pii_redact_docs",
    ]
    dir = os.path.join(HERE, "testdata", "sf0.01")
    key = warm_up_key = "sf0.01"   # the record in expected.json
    measured_ops = 2

    def prepare(self, work: str, seed: int) -> None:
        pass

    def op(self, spark, meter: Meter, tag: str | None, traced: bool, warm_up: bool) -> Rep:
        from entity_resolution_spark.queries import QUERIES, clear_session_memo

        rep = Rep()
        clear_session_memo()
        for q in self.queries:
            try:
                with meter.timed(f"{q}.build") as build:
                    _group(spark, tag and f"{tag}|{q}|build")
                    df = QUERIES[q](spark, self.dir)
                with meter.timed(f"{q}.run") as run:
                    _group(spark, tag and f"{tag}|{q}|run")
                    rep.out[q] = list(fingerprint(df))
            except Exception as e:  # one failing query is one failed op
                rep.out[q] = _error(e)
                continue
            if traced:
                rep.layers[f"queries.{q}.build_s"] = build.s
                rep.layers[f"queries.{q}.run_s"] = run.s
        _group(spark, None)
        if traced:
            for phase in ("build_s", "run_s"):
                rep.layers[f"queries.{phase}"] = sum(
                    rep.layers.get(f"queries.{q}.{phase}", 0.0) for q in self.queries)
        return rep

    def check(self, spark, rep: Rep) -> list[str]:
        return []

    def job_layers(self, log, rep: Rep) -> dict:
        out = {"_jobs": set()}
        for phase in ("build", "run"):
            for q in self.queries:
                jobs = log.jobs_in({f"{rep.tag}|{q}|{phase}"})
                out[f"queries.{q}.jobs_{phase}"] = len(jobs)
                out["_jobs"] |= jobs
            out[f"queries.jobs_{phase}"] = sum(
                out[f"queries.{q}.jobs_{phase}"] for q in self.queries)
        return out


class ResolvePrep:
    """The two production jobs back to back, on seeded code corpora.

    First ``resolve()`` through a parquet ``CheckpointStore``: a cold run
    into an empty store, which computes and writes every stage, then a
    resume, for which the ``match_edges`` and ``clusters`` stages and their
    sidecars are deleted and a fresh store reads four stages back and
    recomputes two. Then ``jobs/corpus_prep_job.main()`` in-process on the
    benchmark's session: quality gates, exact + near dedup, decontamination
    against a seeded eval sample, per-source budget sampling (half of each
    source's tokens), PII redaction and chunking.

    ``--seed`` picks one of ``VARIANTS`` input variants, each with its
    outputs recorded in ``expected.json``. The first op of a run, which
    warms the JVM, runs on a small input of the same variant: JIT and code
    generation cost the same on it, the data costs less.
    """

    name = "resolve_prep"
    VARIANTS = 10
    sizes = (200, 500)        # entities: ~550 files to resolve, ~1,400 docs to prep
    warm_up_sizes = (20, 60)  # the first op of a run, which warms the JVM
    dropped = ("match_edges", "clusters")
    measured_ops = 1
    quality_checked = False

    def prepare(self, work: str, seed: int) -> None:
        v = (seed - 1) % self.VARIANTS + 1
        self.key, self.warm_up_key = str(v), f"{v}.warm-up"
        self.root = os.path.join(work, "ckpt")
        self.prep_out = os.path.join(work, "prep-out")
        self.inputs = {False: self._input(work, v, *self.sizes),
                       True: self._input(work, v, *self.warm_up_sizes)}
        spec = importlib.util.spec_from_file_location(
            "corpus_prep_job", os.path.join(ROOT, "jobs", "corpus_prep_job.py"))
        self.job = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(self.job)

    def _input(self, work: str, v: int, n_resolve: int, n_prep: int) -> dict:
        def code():
            files, pairs = gen.code_corpus(v, n_resolve)
            return {"files": files, "labeled_pairs": pairs}

        def prep():
            files, _ = gen.code_corpus(v, n_prep)
            docs, eval_docs, budget = gen.prep_corpus(files, v)
            with open(os.path.join(prep_dir, "budget_tokens"), "w") as f:
                f.write(str(budget))
            return {"docs": docs, "eval": eval_docs}

        code_dir = gen.write_once(os.path.join(work, "data", f"code-{v}-{n_resolve}"), code)
        prep_dir = os.path.join(work, "data", f"prep-{v}-{n_prep}")
        gen.write_once(prep_dir, prep)
        with open(os.path.join(prep_dir, "budget_tokens")) as f:
            budget = f.read().strip()
        files = os.path.join(code_dir, "files.parquet")
        return {
            "files": files,
            "n_files": pq.ParquetFile(files).metadata.num_rows,
            "pairs": os.path.join(code_dir, "labeled_pairs.parquet"),
            "argv": [
                "corpus_prep_job.py",
                "--input", os.path.join(prep_dir, "docs.parquet"),
                "--eval", os.path.join(prep_dir, "eval.parquet"),
                "--output", self.prep_out,
                "--budget-tokens", budget,
            ],
        }

    def op(self, spark, meter: Meter, tag: str | None, traced: bool, warm_up: bool) -> Rep:
        rep = Rep()
        inp = self.inputs[warm_up]
        # the quality checks run on the first measured op of a run; the
        # cluster fingerprint ties every other op's clusters to recorded ones
        # that passed them
        quality = not warm_up and not self.quality_checked
        self.quality_checked |= quality
        self._resolve_resume(spark, inp, meter, tag, traced, quality, rep)
        self._prep(spark, inp, meter, tag, traced, rep)
        return rep

    def _resolve(self, spark, inp: dict, group: str | None, clock=None):
        from entity_resolution_spark.plans.checkpoint import CheckpointStore
        from entity_resolution_spark.plans.pipeline import resolve

        files = spark.read.parquet(inp["files"])
        _group(spark, group)
        try:
            store = CheckpointStore(spark, self.root, catalog="")
            if clock is not None:
                clock.start = time.time()
            return store, resolve(spark, files, store=store, timings=clock)
        finally:
            _group(spark, None)

    def _resolve_resume(self, spark, inp: dict, meter: Meter, tag, traced: bool,
                        quality: bool, rep: Rep) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
        clock = StageClock()   # resolve only stores seconds in it: no extra work
        try:
            with meter.timed("resolve") as cold:
                store, out = self._resolve(spark, inp, tag and f"{tag}|resolve", clock)
            rep.out["cold"] = list(fingerprint(out["clusters"], ["unique_id", "cluster_id"]))
            if quality:
                rep.out["quality"] = self._quality(spark, inp, out["clusters"])
            if traced:
                self._cold_layers(rep, inp, cold.s, store, clock, out)
        except Exception as e:
            rep.out["cold"] = _error(e)
            return
        for stage in self.dropped:
            shutil.rmtree(os.path.join(self.root, stage))
            os.remove(os.path.join(self.root, f"{stage}._lineage.json"))
        try:
            with meter.timed("resume") as resume:
                store, out = self._resolve(spark, inp, tag and f"{tag}|resume")
            rep.out["resume"] = list(fingerprint(out["clusters"], ["unique_id", "cluster_id"]))
        except Exception as e:
            rep.out["resume"] = _error(e)
            return
        if traced:
            rep.layers["checkpoint.resume_s"] = resume.s
            rep.layers["checkpoint.stages_recomputed"] = len(store.stage_seconds)
            rep.layers["checkpoint.stages_reused"] = len(STAGES) - len(store.stage_seconds)

    def _cold_layers(self, rep: Rep, inp: dict, cold_s: float, store, clock: StageClock, out: dict) -> None:
        """Stage spans from the ``timings`` recorder, stage output rows, the
        scoring layer's useful-work ratio and the store's own write times
        (all read outside the timed window)."""
        rep.windows = clock.windows()
        rows = {s: out[STAGE_KEY.get(s, s)].count() for s in STAGES}
        for stage, t0, t1 in rep.windows:
            rep.layers[f"resolve.{stage}.s"] = t1 - t0
        for s in STAGES:
            rep.layers[f"resolve.{s}.rows"] = rows[s]
            rep.layers[f"checkpoint.{s}.write_s"] = store.stage_seconds.get(s, 0.0)
        rep.layers["resolve.edge_yield"] = rows["match_edges"] / max(rows["candidate_pairs"], 1)
        rep.layers["resolve.span_gap_s"] = cold_s - sum(t1 - t0 for _, t0, t1 in rep.windows)
        rep.layers["resolve.files_per_s"] = inp["n_files"] / cold_s
        rep.layers["checkpoint.cold_s"] = cold_s
        rep.layers["checkpoint.bytes"] = directory_bytes(self.root)

    def _quality(self, spark, inp: dict, clusters) -> dict:
        """Clusters count, pairwise F1 on the labeled pairs, sha256 audit."""
        from entity_resolution_spark.plans.pipeline import audit_content_sha
        from entity_resolution_spark.qa.metrics import pairwise_f1

        return {
            "clusters": clusters.select("cluster_id").distinct().count(),
            "f1": pairwise_f1(spark.read.parquet(inp["pairs"]), clusters)["f1"],
            "audit_violations": audit_content_sha(spark.read.parquet(inp["files"]), clusters),
        }

    def _prep(self, spark, inp: dict, meter: Meter, tag, traced: bool, rep: Rep) -> None:
        buf, argv = io.StringIO(), sys.argv
        try:
            with meter.timed("prep"):
                _group(spark, tag and f"{tag}|prep")
                sys.argv = inp["argv"]
                try:
                    with contextlib.redirect_stdout(buf):
                        rc = self.job.main()
                finally:
                    sys.argv = argv
                    _group(spark, None)
            if rc:
                raise RuntimeError(f"corpus_prep_job exited {rc}")
            n, h = fingerprint(spark.read.parquet(self.prep_out), ["doc_id", "chunk_text"])
        except Exception as e:
            rep.out["prep"] = _error(e)
            return
        rep.out["prep"] = {"chunks": n, "fp": h}
        if not traced:
            return
        funnel = {}
        for line in buf.getvalue().splitlines():
            m = _FUNNEL.match(line)
            if m:
                funnel[m.group(1)] = (int(m.group(2)), float(m.group(3)))
        for s in PREP_STAGES:
            rows, sec = funnel.get(s, (0, 0.0))
            rep.layers[f"prep.{s}.s"] = sec
            rep.layers[f"prep.{s}.rows"] = rows
        if funnel.get("quality", (0,))[0]:
            rep.layers["prep.dedup.drop_frac"] = 1 - funnel["dedup"][0] / funnel["quality"][0]

    def check(self, spark, rep: Rep) -> list[str]:
        """Invariants of one op's output beyond matching the record."""
        bad = []
        q = rep.out.get("quality")
        if q and q["f1"] < 0.99:
            bad.append(f"pairwise F1 {q['f1']:.4f} < 0.99")
        if q and q["audit_violations"]:
            bad.append(f"{q['audit_violations']} content_sha audit violations")
        if "resume" in rep.out and rep.out["resume"] != rep.out["cold"]:
            bad.append("resumed clusters differ from the cold run's")
        return bad

    def job_layers(self, log, rep: Rep) -> dict:
        """Attribute the cold run's jobs to resolve stages by the instant each
        was submitted: a job belongs to the stage whose ``timings`` window
        holds its submission time."""
        cold = log.jobs_in({f"{rep.tag}|resolve"})
        out = {"_jobs": cold | log.jobs_in({f"{rep.tag}|resume", f"{rep.tag}|prep"})}
        for stage, t0, t1 in rep.windows:
            js = log.jobs_between(cold, t0, t1)
            out[f"resolve.{stage}.jobs"] = len(js)
            out[f"resolve.{stage}.shuffle_write_bytes"] = log.totals(js)["shuffle_write_bytes"]
        return out


WORKLOADS = {w.name: w for w in (QuerySuite, ResolvePrep)}
