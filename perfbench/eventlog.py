"""Per-layer metrics from a Spark event log.

The traced run puts every layer under its own job group
(``SparkContext.setJobGroup(<layer>, ...)``). Spark writes the group into
the ``Properties`` of each ``SparkListenerJobStart`` event, and lists the
job's stage ids there; ``SparkListenerTaskEnd`` events carry the stage id
and the task metrics. This module joins the two and sums task metrics per
group. It imports nothing from Spark, so it can be tested on a canned log.
"""

from __future__ import annotations

import json
import re
from collections import defaultdict

ER_LAYERS = (
    "pipeline.ingest",
    "block.exact_key",
    "token_similarity.fit",
    "token_similarity.candidates",
    "token_similarity.score",
    "embed.vectors",
    "embed.candidates",
    "cluster.cc",
    "matchdata.unite",
    "lineage.stats",
    "write.output",
)
CORPUS_LAYERS = (
    "dedup.exact",
    "dedup.minhash",
    "dedup.clusters",
    "text.filters",
    "write.shards",
)
LAYERS = ER_LAYERS + CORPUS_LAYERS

# (suffix, unit) reported for every layer
LAYER_FIELDS = (
    ("wall_s", "s"),
    ("jobs", "count"),
    ("tasks", "count"),
    ("task_s", "s"),
    ("shuffle_write_bytes", "bytes"),
    ("spill_bytes", "bytes"),
    ("rows_out", "rows"),
)
EXTRA_METRICS = (
    ("token_similarity.score.kept_per_candidate", "ratio"),
    ("embed.candidates.kept_per_candidate", "ratio"),
    ("cluster.cc.edges_in", "count"),
    ("cluster.cc.driver_path", "bool"),
    ("trace.overhead_s", "s"),
)
NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")

_COUNTERS = ("jobs", "tasks", "task_s", "shuffle_write_bytes", "spill_bytes")


def metric_units() -> dict[str, str]:
    """Every per-layer metric name → unit, in report order."""
    units = {
        f"{layer}.{field}": unit
        for layer in LAYERS
        for field, unit in LAYER_FIELDS
    }
    units.update(EXTRA_METRICS)
    return units


def parse_event_log(lines) -> dict[str, dict[str, float]]:
    """Sum job/task metrics per job group over an iterable of event-log
    lines. Jobs without a group are ignored.

    ``spill_bytes`` is the disk spill (``Disk Bytes Spilled``);
    ``task_s`` is the summed ``Executor Run Time``."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(
        lambda: dict.fromkeys(_COUNTERS, 0)
    )
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group is None:
                continue
            out[group]["jobs"] += 1
            for sid in ev.get("Stage IDs", ()):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev.get("Stage ID"))
            if group is None:
                continue
            m = ev.get("Task Metrics") or {}
            agg = out[group]
            agg["tasks"] += 1
            agg["task_s"] += m.get("Executor Run Time", 0) / 1000.0
            agg["shuffle_write_bytes"] += (
                m.get("Shuffle Write Metrics") or {}
            ).get("Shuffle Bytes Written", 0)
            agg["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    return dict(out)


def layer_metrics(
    groups: dict[str, dict[str, float]],
    walls: dict[str, float],
    rows: dict[str, int],
    extras: dict[str, float],
) -> dict[str, dict]:
    """The full per-layer report: every name of ``metric_units()``, as
    ``{name: {"value": v, "unit": u}}``. A layer the workload does not run
    reports 0 for each of its fields."""
    values: dict[str, float] = {}
    for layer in LAYERS:
        g = groups.get(layer, {})
        values[f"{layer}.wall_s"] = walls.get(layer, 0.0)
        values[f"{layer}.rows_out"] = rows.get(layer, 0)
        for field in _COUNTERS:
            values[f"{layer}.{field}"] = g.get(field, 0)
    for name, _ in EXTRA_METRICS:
        values[name] = extras.get(name, 0.0)
    return {
        name: {"value": values[name], "unit": unit}
        for name, unit in metric_units().items()
    }
