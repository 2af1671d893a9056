"""Layer spans for the traced run, and the Spark event-log fold that turns
each span's job group into per-layer counters.

A span sets the Spark job group of the calling thread to the layer's name,
so every job the layer's public calls launch is tagged with it. Job groups
are thread-local: jobs launched from a thread the engine starts itself (the
containment overlap thread in ``all_candidate_edges``) carry no group and are
reported as untagged rather than dropped. Outside any span the thread's group
is ``bench``, the benchmark's own set-up and output checks.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

ROOT_GROUP = "bench"
UNTAGGED = None

_JOB_GROUP = "spark.jobGroup.id"
_EVENTS = (
    '{"Event":"SparkListenerStageSubmitted"',
    '{"Event":"SparkListenerJobStart"',
    '{"Event":"SparkListenerTaskEnd"',
)


class Tracer:
    """Records (name, parent, start, end) spans and tags Spark jobs with the
    innermost open span's name."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[tuple[str, str | None, float, float]] = []
        self._stack: list[str] = []
        sc.setLocalProperty(_JOB_GROUP, ROOT_GROUP)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        self.sc.setLocalProperty(_JOB_GROUP, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty(_JOB_GROUP, parent or ROOT_GROUP)
            self.spans.append((name, parent, t0, t1))


class GroupCounters:
    def __init__(self):
        self.jobs = 0
        self.tasks = 0
        self.run_ms = 0
        self.shuffle_write = 0
        self.shuffle_read = 0
        self.spill = 0
        self.output = 0
        self.stage_run_ms: dict[int, list[int]] = defaultdict(list)

    def task_skew(self) -> float:
        """max / median task run time of the group's heaviest stage (the one
        with the most executor time): per-task imbalance where it costs most."""
        if not self.stage_run_ms:
            return 0.0
        heaviest = max(self.stage_run_ms.values(), key=sum)
        return max(heaviest) / max(statistics.median(heaviest), 1)


def fold_event_log(log_dir: str) -> dict[str | None, GroupCounters]:
    """Job group -> counters, from the uncompressed, unrolled event log in
    ``log_dir``. Read after the SparkContext stops, which flushes the log."""
    stage_group: dict[int, str | None] = {}
    groups: dict[str | None, GroupCounters] = defaultdict(GroupCounters)
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as fh:
            for line in fh:
                if not line.startswith(_EVENTS):
                    continue
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerStageSubmitted":
                    props = ev.get("Properties") or {}
                    stage_group[ev["Stage Info"]["Stage ID"]] = props.get(_JOB_GROUP)
                elif kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    groups[props.get(_JOB_GROUP)].jobs += 1
                else:
                    m = ev.get("Task Metrics")
                    if not m:
                        continue
                    g = groups[stage_group.get(ev["Stage ID"])]
                    g.tasks += 1
                    run = m["Executor Run Time"]
                    g.run_ms += run
                    g.stage_run_ms[ev["Stage ID"]].append(run)
                    sr = m["Shuffle Read Metrics"]
                    g.shuffle_read += sr["Local Bytes Read"] + sr["Remote Bytes Read"]
                    g.shuffle_write += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                    g.spill += m["Disk Bytes Spilled"]
                    g.output += m["Output Metrics"]["Bytes Written"]
    return groups


def layer_metrics(
    layers: tuple[str, ...],
    spans: list[tuple[str, str | None, float, float]],
    groups: dict[str | None, GroupCounters],
    cores: int,
) -> dict[str, tuple[float, str]]:
    """Per-layer (value, unit) metrics, averaged over the layer's span
    occurrences.

    ``wall_s`` includes child spans, ``self_s`` excludes them. Job counters
    are the layer's own jobs (a child span's jobs carry the child's group).
    ``core_idle_frac`` = 1 - own task run time / (self time x cores). A layer
    that did no work in the run reports zeros."""
    wall: dict[str, float] = defaultdict(float)
    child: dict[str, float] = defaultdict(float)
    occurrences: dict[str, int] = defaultdict(int)
    for name, parent, t0, t1 in spans:
        wall[name] += t1 - t0
        occurrences[name] += 1
        if parent is not None:
            child[parent] += t1 - t0
    mb = 1 << 20
    out: dict[str, tuple[float, str]] = {}
    for name in layers:
        n = occurrences.get(name, 0)
        g = groups.get(name, GroupCounters())
        self_total = wall[name] - child[name]
        per = 1.0 / n if n else 0.0
        idle = 1.0 - g.run_ms / 1000.0 / (self_total * cores) if self_total > 0 else 0.0
        out.update(
            {
                f"{name}.wall_s": (wall[name] * per, "s"),
                f"{name}.self_s": (self_total * per, "s"),
                f"{name}.jobs": (g.jobs * per, "count"),
                f"{name}.tasks": (g.tasks * per, "count"),
                f"{name}.shuffle_write_mb": (g.shuffle_write / mb * per, "MB"),
                f"{name}.shuffle_read_mb": (g.shuffle_read / mb * per, "MB"),
                f"{name}.spill_mb": (g.spill / mb * per, "MB"),
                f"{name}.task_skew": (g.task_skew(), "ratio"),
                f"{name}.core_idle_frac": (idle, "fraction"),
            }
        )
    return out
