"""Per-layer metrics of a traced run, from its spans.

Each traced write op ran its engine call under one Spark job group, so
its stages split by role:

- map stages write shuffle output. On the replays that is scan ->
  changeset projection (plans.merge) -> precombine_lww (operators.dedup)
  -> shuffle write; on entity_ingest it is lww_reduce (operators.dedup),
  the FK guard's (operators.fk_guard) and the merge join's (lake.table)
  shuffle writes.
- result stages end a job. On the replays the largest is the bucket fold
  of lake.arrow_merge (shuffle fetch -> Arrow IPC -> fold in Python
  workers -> parquet write); on entity_ingest it is lake.table.merge's
  bucket write.
- the driver turn is the write wall outside any Spark job: the runner's
  loop (streaming.runner or entities) and the lake.table manifest and
  lineage commit.

Values are medians over the traced ops of a run; sizes are per op.
"""

from __future__ import annotations

import os
import statistics

from tracing import union_seconds


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _children(tracer, span: dict) -> list[dict]:
    return [s for s in tracer.spans if s["parent"] == span["id"]]


def _state_bytes(tables) -> int:
    """Bytes of the data files the tables' current snapshots reference."""
    total = 0
    for t in tables:
        for uri in t.read().inputFiles():
            total += os.path.getsize(uri[len("file:"):] if uri.startswith("file:") else uri)
    return total


def _op_layers(tracer, op) -> dict:
    kids = _children(tracer, op.write_span)
    commit = [s for s in kids if s["attrs"].get("role") == "commit"]
    stages = [st for s in commit for st in s["spark"]["stages"]]
    maps = [s for s in stages if s["role"] == "map"]
    results = [s for s in stages if s["role"] == "result"]
    fold = max(results, key=lambda s: s["run_s"], default=None)
    job_s = sum(s["spark"]["job_s"] for s in kids)
    map_in = sum(s["input_records"] + s["shuffle_read_records"] for s in maps)
    proc = op.write_span["proc"]
    cpu = proc["jvm_cpu_s"] + proc["py_cpu_s"]
    n_commits = max(len(op.commits), 1)

    def wall(ss):
        return union_seconds([(s["start_ms"], s["end_ms"]) for s in ss
                              if s["start_ms"] is not None and s["end_ms"] is not None],
                             0, 1 << 62)

    return {
        "write.jvm_cpu_s": proc["jvm_cpu_s"],
        "python_workers.cpu_s": proc["py_cpu_s"],
        "jvm_commands.cpu_s": proc["other_cpu_s"],
        "python_workers.cpu_share": proc["py_cpu_s"] / cpu if cpu else 0.0,
        "write.driver_s": op.write_s - job_s,
        "write.jobs": sum(len(s["spark"]["jobs"]) for s in commit),
        "write.stages": len(stages),
        "map_stage.wall_s": wall(maps),
        "map_stage.run_s": sum(s["run_s"] for s in maps),
        "map_stage.cpu_s": sum(s["cpu_s"] for s in maps),
        "map_stage.task_max_s": max((s["task_max_s"] for s in maps), default=0.0),
        "map_stage.shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in maps),
        "map_stage.spill_bytes": sum(s["spill_bytes"] for s in maps),
        "map_stage.combine_ratio":
            sum(s["shuffle_write_records"] for s in maps) / map_in if map_in else 0.0,
        "result_stage.wall_s": wall(results),
        "result_stage.run_s": sum(s["run_s"] for s in results),
        "result_stage.jvm_cpu_s": sum(s["cpu_s"] for s in results),
        "result_stage.task_p50_s": fold["task_p50_s"] if fold else 0.0,
        "result_stage.task_max_s": max((s["task_max_s"] for s in results), default=0.0),
        "result_stage.shuffle_read_bytes": sum(s["shuffle_read_bytes"] for s in results),
        # the fold writes parquet from Python workers, which Spark's
        # outputBytes does not see: count the bytes the op added on disk
        "lake.table.bytes_written_per_event": op.bytes_written / max(op.events, 1),
        "lake.table.buckets_touched":
            sum(len(m.get("buckets_touched") or []) for m in op.commits) / n_commits,
        "lake.table.state_bytes": _state_bytes(op.tables),
        "lake.table.read_s": op.read_s,
        "lake.table.read.run_s": sum(s["run_s"] for s in op.read_span["spark"]["stages"]),
        "streaming.runner.plan_s": sum(s["seconds"] for s in kids
                                       if s["name"] == "streaming.runner.plan"),
        "commit.count": n_commits,
        "fk_guard.rejected": sum(int(m.get("n_fk_rejected") or 0) for m in op.commits),
        "fk_guard.kept": sum(int(m.get("n_upserts") or 0) for m in op.commits
                             if "n_fk_rejected" in m),
        "lake.table.merge.shuffle_bytes": sum(s["shuffle_write_bytes"] for s in stages),
    }


# the per-layer metrics of BENCHMARK.json, with their units
JSON_METRICS = {
    "session.start_s": "s",
    "session.jvm_peak_rss_mb": "MB",
    "python_workers.peak_rss_mb": "MB",
    "python_workers.cpu_share": "ratio",
    "generator.input_s": "s",
    "write.jvm_cpu_s": "s",
    "write.driver_s": "s",
    "write.jobs": "count",
    "write.stages": "count",
    "map_stage.run_s": "s",
    "map_stage.cpu_s": "s",
    "map_stage.task_max_s": "s",
    "map_stage.shuffle_write_bytes": "bytes",
    "map_stage.spill_bytes": "bytes",
    "map_stage.combine_ratio": "ratio",
    "result_stage.run_s": "s",
    "result_stage.jvm_cpu_s": "s",
    "result_stage.task_p50_s": "s",
    "result_stage.task_max_s": "s",
    "result_stage.shuffle_read_bytes": "bytes",
    "lake.table.bytes_written_per_event": "bytes",
    "lake.table.buckets_touched": "count",
    "lake.table.state_bytes": "bytes",
    "lake.table.read_s": "s",
    "lake.table.read.run_s": "s",
    "tracing.overhead": "ratio",
}


def layer_metrics(tracer, wl, ops) -> dict:
    traced = [o for o in ops if o.traced]
    per_op = [_op_layers(tracer, o) for o in traced]
    vals = {k: _median(p[k] for p in per_op) for k in (per_op[0] if per_op else {})}
    vals.update({k: v for k, v in wl.setup_parts.items()})
    vals["session.jvm_peak_rss_mb"] = tracer.proc.jvm_peak_rss_mb()
    vals["python_workers.peak_rss_mb"] = tracer.proc.peak_workers_kb / 1024.0
    plain = [o for o in ops if not o.traced]
    fresh_t = _median(o.write_s + o.read_s for o in traced)
    fresh_u = _median(o.write_s + o.read_s for o in plain)
    # traced vs untraced freshness of the same run; 0 when the run was
    # too short to hold an untraced op
    vals["tracing.overhead"] = fresh_t / fresh_u - 1.0 if plain else 0.0
    rejected, kept = vals.get("fk_guard.rejected", 0), vals.get("fk_guard.kept", 0)
    vals["fk_guard.reject_ratio"] = rejected / (rejected + kept) if rejected + kept else 0.0
    commits = []
    for o, p in zip(traced, per_op):
        n = p["commit.count"]
        commits.append({"wall_s": o.write_s, "commits": n,
                        "map_stage_s": p["map_stage.wall_s"],
                        "fold_stage_s": p["result_stage.wall_s"],
                        "driver_s": p["write.driver_s"],
                        "other_jobs_s": max(o.write_s - p["write.driver_s"]
                                            - p["map_stage.wall_s"]
                                            - p["result_stage.wall_s"], 0.0)})
    return {"values": vals, "commits": commits, "traced_ops": len(traced),
            "untraced_ops": len(plain),
            "metrics": {k: {"value": vals.get(k, 0.0), "unit": u}
                        for k, u in JSON_METRICS.items()}}


# the module-level names (as in ROADMAP.md) of each measured value, per workload
_REPLAY_NAMES = {
    "streaming.runner.plan_s": "streaming.runner.plan_s",
    "map_stage.run_s": "operators.dedup.map_stage.run_s",
    "map_stage.cpu_s": "operators.dedup.map_stage.cpu_s",
    "map_stage.shuffle_write_bytes": "operators.dedup.map_stage.shuffle_write_bytes",
    "map_stage.spill_bytes": "operators.dedup.map_stage.spill_bytes",
    "map_stage.task_max_s": "operators.dedup.map_stage.task_max_s",
    "map_stage.combine_ratio": "operators.dedup.combine_ratio",
    "result_stage.run_s": "lake.arrow_merge.fold.run_s",
    "result_stage.jvm_cpu_s": "lake.arrow_merge.fold.jvm_cpu_s",
    "result_stage.shuffle_read_bytes": "lake.arrow_merge.fold.shuffle_read_bytes",
    "result_stage.task_p50_s": "lake.arrow_merge.fold.task_p50_s",
    "result_stage.task_max_s": "lake.arrow_merge.fold.task_max_s",
    "python_workers.cpu_s": "lake.arrow_merge.py_cpu_s",
    "write.driver_s": "streaming.runner.driver_s",
    "lake.table.bytes_written_per_event": "lake.table.bytes_written_per_event",
    "lake.table.buckets_touched": "lake.table.buckets_touched",
    "lake.table.state_bytes": "lake.table.state_bytes",
}
LAYER_NAMES = {
    "replay_bulk": dict(_REPLAY_NAMES, **{"lake.table.read_s": "lake.table.read_s"}),
    "replay_trickle": dict(_REPLAY_NAMES, **{
        "lake.table.read_s": "lake.table.changes_between_s"}),
    "entity_ingest": {
        "result_stage.run_s": "lake.table.merge.run_s",
        "lake.table.merge.shuffle_bytes": "lake.table.merge.shuffle_bytes",
        "map_stage.spill_bytes": "lake.table.merge.spill_bytes",
        "fk_guard.rejected": "operators.fk_guard.rejected",
        "fk_guard.reject_ratio": "operators.fk_guard.reject_ratio",
        "lake.table.read_s": "lake.table.lookup_s",
        "write.driver_s": "entities.driver_s",
        "lake.table.bytes_written_per_event": "lake.table.bytes_written_per_event",
        "lake.table.buckets_touched": "lake.table.buckets_touched",
        "lake.table.state_bytes": "lake.table.state_bytes",
    },
}
_COMMON = ("session.start_s", "session.jvm_peak_rss_mb", "python_workers.peak_rss_mb",
           "generator.input_s", "setup.warmup_s", "write.jvm_cpu_s", "jvm_commands.cpu_s",
           "python_workers.cpu_share")


def print_layers(workload: str, layers: dict) -> None:
    vals = layers["values"]
    names = dict(LAYER_NAMES[workload], **{k: k for k in _COMMON})
    print(f"per-layer ({layers['traced_ops']} traced ops, "
          f"{layers['untraced_ops']} untraced; medians per write op):")
    for key, label in sorted(names.items(), key=lambda kv: kv[1]):
        if key in vals:
            print(f"  {label:<48} {vals[key]:>16.4f}")
    print(f"  {'tracing.overhead (traced/untraced freshness - 1)':<48} "
          f"{vals['tracing.overhead']:>16.4f}")
    for c in layers["commits"]:
        n = c["commits"]
        print(f"  write op: {c['wall_s']:.3f} s over {n} commit(s) = map stage "
              f"{c['map_stage_s']:.3f} + fold/result stage {c['fold_stage_s']:.3f} + "
              f"other jobs {c['other_jobs_s']:.3f} + driver turn {c['driver_s']:.3f}; "
              f"per commit {c['wall_s'] / n:.3f} = {c['map_stage_s'] / n:.3f} + "
              f"{c['fold_stage_s'] / n:.3f} + {c['other_jobs_s'] / n:.3f} + "
              f"{c['driver_s'] / n:.3f}")
