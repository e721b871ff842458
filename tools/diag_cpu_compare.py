"""Compare per-stage executor CPU / GC / shuffle volume between two event logs
(e.g. a 4-core and a 16-core run of the identical job) to locate per-task CPU
inflation — the memory-contention signal that caps N->4N scaling efficiency
when Amdahl serial fraction alone can't explain the gap.

Usage: python tools/diag_cpu_compare.py /tmp/evlog_4 /tmp/evlog_16
"""

from __future__ import annotations

import sys

from eventlog import iter_events, stage_scopes


def load(evdir: str) -> dict:
    stages: dict[int, dict] = {}
    names: dict[int, str] = {}
    for ev in iter_events(evdir):
        k = ev.get("Event")
        if k == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            names[si["Stage ID"]] = ",".join(stage_scopes(si))[:70]
        elif k == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            m = ev.get("Task Metrics") or {}
            st = stages.setdefault(
                sid,
                {"cpu": 0.0, "run": 0.0, "gc": 0.0, "tasks": 0,
                 "sh_read": 0, "sh_write": 0, "spill": 0, "py": 0.0},
            )
            st["tasks"] += 1
            st["cpu"] += m.get("Executor CPU Time", 0) / 1e9
            st["run"] += m.get("Executor Run Time", 0) / 1e3
            st["gc"] += m.get("JVM GC Time", 0) / 1e3
            st["sh_read"] += (m.get("Shuffle Read Metrics") or {}).get("Total Records Read", 0)
            st["sh_write"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            st["spill"] += m.get("Memory Bytes Spilled", 0)
    for sid, st in stages.items():
        st["name"] = names.get(sid, "?")
    return stages


def main() -> int:
    a_dir, b_dir = sys.argv[1], sys.argv[2]
    A, B = load(a_dir), load(b_dir)

    # group stages by name signature (stage IDs differ between runs)
    def by_name(stages: dict) -> dict:
        g: dict[str, dict] = {}
        for st in stages.values():
            d = g.setdefault(
                st["name"], {"cpu": 0.0, "run": 0.0, "gc": 0.0, "tasks": 0, "sh_write": 0}
            )
            for k in d:
                d[k] += st[k]
        return g

    ga, gb = by_name(A), by_name(B)
    tot_a = sum(s["cpu"] for s in ga.values())
    tot_b = sum(s["cpu"] for s in gb.values())
    print(f"total executor-CPU  A={tot_a:.0f}s  B={tot_b:.0f}s  inflation {tot_b/tot_a:.2f}x")
    print(f"total GC            A={sum(s['gc'] for s in ga.values()):.0f}s  "
          f"B={sum(s['gc'] for s in gb.values()):.0f}s")
    print(f"total run-time      A={sum(s['run'] for s in ga.values()):.0f}s  "
          f"B={sum(s['run'] for s in gb.values()):.0f}s")
    print(f"{'cpuA':>8} {'cpuB':>8} {'infl':>5} {'gcB':>6} {'runB/cpuB':>9}  name")
    rows = sorted(set(ga) | set(gb), key=lambda n: -(gb.get(n, {}).get("cpu", 0)))
    for n in rows[:25]:
        a = ga.get(n, {"cpu": 0, "gc": 0, "run": 0})
        b = gb.get(n, {"cpu": 0, "gc": 0, "run": 0})
        infl = b["cpu"] / a["cpu"] if a["cpu"] > 0.5 else float("nan")
        waitr = b["run"] / b["cpu"] if b["cpu"] > 0.5 else float("nan")
        print(f"{a['cpu']:8.1f} {b['cpu']:8.1f} {infl:5.2f} {b['gc']:6.1f} {waitr:9.2f}  {n[:70]}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
