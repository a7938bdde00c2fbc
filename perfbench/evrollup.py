"""Event-log rollup by ``stage:`` label, for one time window.

Reads the JSON-lines event log that ``session.py`` writes when
``SPARK_GRAFT_EVENTLOG`` is set, through ``tools/evlog.load_events``.
For the jobs of a window it reports, per pipeline stage label:

- ``wall_s``: the union of the stage's job intervals. Jobs of one stage
  can overlap (the ``dup_pairs`` and prewarm threads run beside other
  jobs), so summing job walls would count time twice;
- ``task_s``: summed executor run time of the stage's tasks;
- ``shuffle_mb``: shuffle bytes written by those tasks;
- ``jobs`` and ``tasks``.

It also reports the driver gap (window time in which no job ran) and a
partition of the window into per-label self time plus that gap, which
sums to the window length by construction.

    python perfbench/evrollup.py <eventlog-dir-or-file> [start_s end_s]
"""

from __future__ import annotations

import json
import os
import sys
from collections import defaultdict
from dataclasses import dataclass

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "tools"))
from evlog import load_events  # noqa: E402

OTHER = "other"


@dataclass
class Job:
    id: int
    desc: str
    start: float  # seconds since the epoch
    end: float
    tasks: int = 0
    task_s: float = 0.0
    shuffle_mb: float = 0.0

    @property
    def label(self) -> str | None:
        """``stage:verified_edges/bucket_membership_count`` and
        ``stage:verified_edges`` both belong to ``verified_edges``."""
        if not self.desc.startswith("stage:"):
            return None
        return self.desc[len("stage:"):].split("/", 1)[0]


def load_jobs(path: str) -> list[Job]:
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    task_stats = defaultdict(lambda: [0, 0.0, 0.0])  # stage -> tasks, run_s, shw_mb
    for ev in load_events(path):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            t = ev["Submission Time"] / 1e3
            desc = (ev.get("Properties") or {}).get("spark.job.description", "") or ""
            jobs[ev["Job ID"]] = Job(ev["Job ID"], desc, t, t)
            for s in ev.get("Stage Infos", []):
                # a stage listed again by a later job was skipped there;
                # its tasks ran under the first job that listed it
                stage_job.setdefault(s["Stage ID"], ev["Job ID"])
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]].end = ev["Completion Time"] / 1e3
        elif kind == "SparkListenerTaskEnd":
            tm = ev.get("Task Metrics") or {}
            st = task_stats[ev["Stage ID"]]
            st[0] += 1
            st[1] += tm.get("Executor Run Time", 0) / 1e3
            st[2] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / 1e6
    for sid, (n, run_s, mb) in task_stats.items():
        j = jobs.get(stage_job.get(sid, -1))
        if j is not None:
            j.tasks += n
            j.task_s += run_s
            j.shuffle_mb += mb
    return sorted(jobs.values(), key=lambda j: (j.start, j.id))


def union_length(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def in_window(jobs: list[Job], start: float, end: float) -> list[Job]:
    """Jobs submitted inside [start, end], clipped to the window."""
    out = []
    for j in jobs:
        if start <= j.start <= end:
            out.append(Job(j.id, j.desc, j.start, min(j.end, end), j.tasks, j.task_s,
                           j.shuffle_mb))
    return out


def rollup(jobs: list[Job], start: float, end: float) -> dict:
    """Per-label numbers and the driver gap for the jobs of one window."""
    sel = in_window(jobs, start, end)
    by_label: dict[str, dict] = {}
    intervals = defaultdict(list)
    for j in sel:
        lab = j.label or OTHER
        r = by_label.setdefault(lab, {"wall_s": 0.0, "task_s": 0.0, "shuffle_mb": 0.0,
                                      "jobs": 0, "tasks": 0})
        r["task_s"] += j.task_s
        r["shuffle_mb"] += j.shuffle_mb
        r["jobs"] += 1
        r["tasks"] += j.tasks
        intervals[lab].append((j.start, j.end))
    for lab, iv in intervals.items():
        by_label[lab]["wall_s"] = union_length(iv)
    busy = union_length([(j.start, j.end) for j in sel])
    return {"stages": by_label, "jobs": len(sel),
            "driver_gap_s": max(0.0, (end - start) - busy),
            "window_s": end - start}


def self_times(jobs: list[Job], start: float, end: float,
               driver_spans: list[tuple[str, float, float]] = ()) -> dict:
    """Partition [start, end] into self time per label plus driver time.

    Each instant in which jobs run is shared evenly by the labels of the
    running jobs. An instant with no job goes to the innermost driver span
    covering it (``driver_spans``: (name, start, end), later entries are
    deeper), or to ``driver_gap`` when none does. The values sum to
    ``end - start``."""
    sel = in_window(jobs, start, end)
    cuts = {start, end}
    for j in sel:
        cuts.update((max(start, j.start), j.end))
    for _, s, e in driver_spans:
        cuts.update((min(max(s, start), end), min(max(e, start), end)))
    cuts = sorted(cuts)
    out: dict[str, float] = defaultdict(float)
    for a, b in zip(cuts, cuts[1:]):
        if b <= a:
            continue
        mid = (a + b) / 2
        labels = [j.label or OTHER for j in sel if j.start <= mid < j.end]
        if labels:
            for lab in labels:
                out["job:" + lab] += (b - a) / len(labels)
            continue
        owner = "driver_gap"
        for name, s, e in driver_spans:
            if s <= mid < e:
                owner = "driver:" + name
        out[owner] += b - a
    return dict(out)


def leaked_label_jobs(jobs: list[Job], windows: list[tuple[float, float]]) -> int:
    """Jobs carrying a ``stage:`` label that start outside every window in
    which the pipeline ran."""
    return sum(1 for j in jobs if j.label is not None
               and not any(s <= j.start <= e for s, e in windows))


def main(argv: list[str]) -> None:
    jobs = load_jobs(argv[0])
    if len(argv) >= 3:
        start, end = float(argv[1]), float(argv[2])
    else:
        start = min(j.start for j in jobs)
        end = max(j.end for j in jobs)
    print(json.dumps({"rollup": rollup(jobs, start, end),
                      "self_times": self_times(jobs, start, end)}, indent=1))


if __name__ == "__main__":
    main(sys.argv[1:])
