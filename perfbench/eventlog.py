"""Per-layer metrics from a Spark event log (JSON lines, uncompressed).

Jobs are attributed to benchmark calls through their job group,
``<workload>:<op>:build|force|check``, and to a pass through the job
description ``pass <n>``. Only jobs of the selected passes count.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict

PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"


def parse(path: str, passes: set[int]) -> tuple[dict, dict]:
    """Returns ``(totals, per_op)``: summed layer counters over the
    given passes, overall and per op name."""
    stage_key: dict[int, tuple[str, str]] = {}  # stage -> (op, phase)
    stage_tasks: dict[int, list[float]] = defaultdict(list)
    totals, per_op = defaultdict(float), defaultdict(lambda: defaultdict(float))

    def add(key, name, v):
        totals[name] += v
        per_op[key[0]][name] += v

    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                group = props.get("spark.jobGroup.id") or ""
                desc = props.get("spark.job.description") or ""
                parts = group.split(":")
                if len(parts) != 3 or not desc.startswith("pass "):
                    continue
                if int(desc.split()[1]) not in passes or parts[2] == "check":
                    continue
                key = (parts[1], parts[2])
                for sid in ev.get("Stage IDs", []):
                    stage_key.setdefault(sid, key)
                add(key, "exec.jobs", 1)
                add(key, f"queries.{parts[2]}_jobs", 1)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                key = stage_key.get(info["Stage ID"])
                if key is not None:
                    add(key, "exec.stages", 1)
            elif kind == "SparkListenerTaskEnd":
                key = stage_key.get(ev["Stage ID"])
                if key is None:
                    continue
                _task(ev, key, add, stage_tasks)

    skew = 1.0
    for times in stage_tasks.values():
        if len(times) >= 2:
            med = statistics.median(times)
            skew = max(skew, max(times) / med if med > 0 else 1.0)
    totals["exec.stage_skew_max"] = skew
    return dict(totals), {k: dict(v) for k, v in per_op.items()}


def _task(ev: dict, key, add, stage_tasks) -> None:
    info = ev.get("Task Info", {})
    m = ev.get("Task Metrics") or {}
    add(key, "exec.tasks", 1)
    reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
    if info.get("Failed") or reason != "Success":
        add(key, "exec.task_failures", 1)
    run_ms = m.get("Executor Run Time", 0)
    add(key, "exec.task_s", run_ms / 1000)
    add(key, "exec.gc_s", m.get("JVM GC Time", 0) / 1000)
    duration = info.get("Finish Time", 0) - info.get("Launch Time", 0)
    getting = info.get("Getting Result Time", 0)
    getting = info.get("Finish Time", 0) - getting if getting else 0
    delay = (duration - run_ms - m.get("Executor Deserialize Time", 0)
             - m.get("Result Serialization Time", 0) - getting)
    add(key, "exec.sched_delay_s", max(0, delay) / 1000)
    stage_tasks[ev["Stage ID"]].append(float(run_ms or duration))

    sr = m.get("Shuffle Read Metrics") or {}
    add(key, "shuffle.read_bytes",
        sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0))
    add(key, "shuffle.write_bytes",
        (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0))
    add(key, "shuffle.spill_bytes", m.get("Disk Bytes Spilled", 0))
    add(key, "io.scan_bytes", (m.get("Input Metrics") or {}).get("Bytes Read", 0))
    add(key, "io.write_bytes", (m.get("Output Metrics") or {}).get("Bytes Written", 0))

    sent = recv = 0
    for acc in info.get("Accumulables", []):
        name = acc.get("Name")
        if name == PY_SENT:
            sent += int(acc.get("Update") or 0)
        elif name == PY_RECV:
            recv += int(acc.get("Update") or 0)
    add(key, "operators.python_bytes_sent", sent)
    add(key, "operators.python_bytes_received", recv)
    if sent or recv:
        add(key, "operators.python_task_s", run_ms / 1000)
