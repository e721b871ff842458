"""Benchmark runner for the entity-resolution engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. One closed-loop client (this process)
issues one operation at a time against the session the library ships,
``session.get_spark(master="local[4]")``. Seeded inputs are generated into
``.perfbench_work/`` (cached per input); the program only reads parquet.

The session is set up once in a new JVM (``setup.first_s``), then
``SETUPS`` more times after a ``spark.stop()``, and ``setup_s`` is the median
of those. The last session runs the operations: a first one that warms the
JVM, then the workload's ``measured_ops``, more only if they took less than
``--seconds`` in all. The end-to-end
``wall_s`` and ``cpu_s`` are medians over the measured operations, and
cover only the calls into the program (see ``measure.Meter``). Every output
is checked outside those windows, against the outputs recorded in
``expected.json`` and against the workload's own invariants.

``--trace 1`` alternates traced and untraced measured operations and reports
the per-layer metrics: spans recorded around public calls, Spark job groups,
task metrics from the event log, and peak RSS from ``/proc``. The spans are
written to ``.perfbench_work/trace/``. The last line of stdout is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

from measure import EventLog, Meter, descendants, peak_rss_mb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
EXPECTED = os.path.join(HERE, "expected.json")
MASTER = "local[4]"
SETUPS = 3
# on a very slow host, no measured op starts that would, at the pace of the
# last one, end after this many seconds of the process
FINISH_BY_S = 120.0
CLK_TCK = os.sysconf("SC_CLK_TCK")


def _environment() -> None:
    """Keep every file Spark and Python write inside the checkout."""
    shutil.rmtree(os.path.join(WORK, "eventlog"), ignore_errors=True)
    for sub in ("tmp", "spark-local", "eventlog", "trace"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(WORK, "tmp")
    # the Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    sys.path.insert(0, ROOT)


def _launch(traced: bool):
    """A new JVM and session, and the seconds ``get_spark`` plus the warm-up
    action took."""
    from entity_resolution_spark.session import get_spark

    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(WORK, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    t0 = time.perf_counter()
    spark = get_spark("perfbench", master=MASTER, extra_conf=conf)
    spark.range(1000).selectExpr("sum(id)").collect()   # warm-up action
    return spark, time.perf_counter() - t0


def _cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by this process, the JVM and the JVM's
    descendants (the Python worker daemon, its live workers and, through the
    daemon's child times, the workers it has reaped)."""
    total = time.process_time()
    for pid in [jvm_pid, *descendants(jvm_pid)]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime, stime (+ cutime, cstime for the workers' reaped children)
        total += sum(int(x) for x in fields[11:13 if pid == jvm_pid else 15]) / CLK_TCK
    return total


def _steal_s() -> float:
    """CPU seconds the hypervisor gave to other guests, over all CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / CLK_TCK


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _shut_down(spark) -> None:
    """Stop the session, then the JVM (it exits when its stdin closes), and
    wait until the JVM and the Python workers it started have ended."""
    proc = spark.sparkContext._gateway.proc
    workers = descendants(proc.pid)
    spark.stop()
    proc.stdin.close()
    proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while any(_alive(p) for p in workers) and time.monotonic() < deadline:
        time.sleep(0.1)


def _compare(out: dict, ref: dict | None, ops: list[str]) -> tuple[set, list[str]]:
    """The ops whose outputs are errors or differ from the reference."""
    bad, msgs = set(), []
    if ref is None:
        return set(ops), ["no recorded outputs for this input in expected.json"]
    for k, v in out.items():
        if isinstance(v, dict) and "error" in v:
            bad.add(k)
            msgs.append(f"{k}: {v['error']}")
        elif v != ref.get(k):
            bad.add(k)
            msgs.append(f"{k}: {v} != recorded {ref.get(k)}")
    return bad, msgs


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", action="store_true",
                    help="store this input's outputs in expected.json when the "
                         "measured operations agree and every invariant holds")
    args = ap.parse_args()
    t_start = time.perf_counter()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if not os.path.isfile(os.path.join(ROOT, "entity_resolution_spark", "session.py")):
        print("perfbench: no entity_resolution_spark package next to perfbench/; "
              "run from the root of a checkout", file=sys.stderr)
        return 2
    _environment()
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]()
    t0 = time.perf_counter()
    wl.prepare(WORK, args.seed)
    print(f"# input {wl.key} ready in {time.perf_counter() - t0:.2f}s (generated once)",
          file=sys.stderr)

    with open(EXPECTED) as f:
        expected = json.load(f)
    records = expected.get(wl.name, {})

    # the first set-up launches the JVM; the later ones follow a spark.stop()
    spark, first_setup = _launch(bool(args.trace))
    setups = []
    for _ in range(SETUPS):
        spark.stop()
        spark, dt = _launch(bool(args.trace))
        setups.append(dt)
    jvm_pid = spark.sparkContext._gateway.proc.pid

    reps, failures = [], []
    attempted = failed = 0
    # op 0 warms the new JVM and is checked but not measured; the measured
    # ops of a traced run alternate traced / untraced, so the tracing
    # overhead compares equally warm ops
    while True:
        i = len(reps)
        warm_up, traced = i == 0, bool(args.trace) and i % 2 == 1
        meter, st0 = Meter(lambda: _cpu_s(jvm_pid)), _steal_s()
        rep = wl.op(spark, meter, f"op{i}" if args.trace else None, traced, warm_up)
        rep.tag, rep.traced, rep.sections = f"op{i}", traced, meter.sections
        rep.wall, rep.cpu = meter.wall, meter.cpu
        if traced:
            rep.layers["host.steal_s"] = _steal_s() - st0
        reps.append(rep)
        print(f"# op {i} {'warm-up' if warm_up else 'traced' if traced else 'untraced'}: "
              f"{rep.wall:.3f}s, cpu {rep.cpu:.2f}s, host steal {_steal_s() - st0:.2f}s",
              file=sys.stderr)
        key = wl.warm_up_key if warm_up else wl.key
        ref = reps[min(i, 1)].out if args.record else records.get(key)
        ops = [k for k in rep.out if k != "quality"]
        bad, msgs = _compare(rep.out, ref, ops)
        problems = wl.check(spark, rep)
        failures += msgs + problems
        if problems:
            bad.update(ops)
        attempted += len(ops)
        failed += len(bad & set(ops))
        measured = reps[1:]
        # a traced run needs a traced and an untraced op for trace.overhead_s
        if (len(measured) >= 1 + args.trace
                and time.perf_counter() - t_start + rep.wall > FINISH_BY_S):
            break
        if (len(measured) >= max(wl.measured_ops, 1 + args.trace)
                and sum(r.wall for r in measured) >= args.seconds):
            break

    for msg in dict.fromkeys(failures):
        print(f"# CHECK FAILED {msg}", file=sys.stderr)
    if args.record and not failures:
        records[wl.warm_up_key] = reps[0].out
        records[wl.key] = reps[1].out
        expected[wl.name] = records
        with open(EXPECTED, "w") as f:
            json.dump(expected, f, indent=1, sort_keys=True)
            f.write("\n")

    median = statistics.median
    untraced = [r for r in measured if not r.traced]
    values = {
        "setup_s": median(setups),
        "wall_s": median(r.wall for r in untraced),
        "cpu_s": median(r.cpu for r in untraced),
        "failed_ops_frac": failed / max(attempted, 1),
    }
    if args.trace:
        traced = [r for r in measured if r.traced]
        values["trace.overhead_s"] = (median(r.wall for r in traced)
                                      - median(r.wall for r in untraced))
        values["setup.first_s"] = first_setup
        values["op.first_s"] = reps[0].wall
        values["mem.jvm_peak_rss_mb"] = peak_rss_mb(jvm_pid)
        values["mem.pyworker_peak_rss_mb"] = max(
            [peak_rss_mb(p) for p in descendants(jvm_pid)] or [0.0])
        app_id = spark.sparkContext.applicationId
        _shut_down(spark)
        log = EventLog(os.path.join(WORK, "eventlog"), app_id)
        layers = []
        for r in traced:
            d = dict(r.layers)
            jobs = wl.job_layers(log, r)
            d.update({f"spark.{k}": v for k, v in log.totals(jobs.pop("_jobs")).items()})
            layers.append({**d, **jobs})
        for key in (layers[0] if layers else ()):
            values[key] = median(d.get(key, 0.0) for d in layers)
        spans = []
        for r in reps:
            spans.append({"name": r.tag, "parent": None, "start": r.sections[0].start,
                          "end": r.sections[-1].end, "traced": r.traced})
            spans += [{"name": s.name, "parent": r.tag, "start": s.start, "end": s.end}
                      for s in r.sections]
            spans += [{"name": n, "parent": f"{r.tag}.resolve", "start": a, "end": b}
                      for n, a, b in r.windows]
        with open(os.path.join(WORK, "trace", f"{wl.name}-{args.seed}.json"), "w") as f:
            json.dump(spans, f)
    else:
        _shut_down(spark)

    names = spec["per_layer" if args.trace else "end_to_end"]
    missing = [m["name"] for m in names if m["name"] not in values]
    if missing:
        print(f"# {len(missing)} metrics not measured on {wl.name}, reported as 0",
              file=sys.stderr)
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in names}
    for m in spec["end_to_end"] + [{"name": "failed_ops_frac", "unit": "ratio"}]:
        if m["name"] in values:
            print(f"# {wl.name} {m['name']} = {values[m['name']]:.4f} {m['unit']}")
    print(f"# {len(reps)} ops ({len(measured)} measured), "
          f"process {time.perf_counter() - t_start:.1f}s", file=sys.stderr)
    print(json.dumps({"correct": not failures, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
