"""Per-layer metrics of a traced loop.

Every metric is aggregated per op over the ops that reach the layer
(a mean per op, or a ratio of sums where the name says so); a layer a
workload never reaches reports 0.  The per-op rows, the span tree and
each layer's self time go into the trace file, not the printed line.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from perfbench.tracer import union_ms

# span name -> layer, for the self-time table
LAYER_OF = {
    "op": "client",
    "build": "build",
    "plan": "catalyst",
    "action": "exec",
    "spec.read_spec": "sources",
    "lake.append": "lake",
    "lake.upsert": "lake",
    "lake.compact": "lake",
    "lake.scan": "lake",
    "lake.read": "lake",
    "stream.curate_to_lake": "streaming",
    "sinks.merge_upsert": "sinks",
    "sinks.compact_small_files": "sinks",
    "oracle": "oracle",
}

UNITS = {
    "build.ms": "ms", "build.py4j_calls": "count", "build.cache_hit_ratio": "ratio",
    "plan.ms": "ms",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.run_ms": "ms", "exec.cpu_ms": "ms", "exec.gc_ms": "ms",
    "exec.shuffle_read_bytes": "bytes", "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes", "exec.gap_ms": "ms",
    "arrow.bytes_to_python": "bytes", "arrow.bytes_from_python": "bytes",
    "arrow.rows": "count",
    "fetch.ms": "ms", "fetch.rows": "count",
    "mem.storage_bytes_after": "bytes", "mem.cached_rdds_after": "count",
    "spec.read_ms": "ms", "spec.partitions": "count", "spec.rows_per_s": "1/s",
    "lake.commit_ms.append": "ms", "lake.commit_ms.upsert": "ms",
    "lake.commit_ms.compact": "ms", "lake.files_written": "count",
    "lake.write_amp": "ratio", "lake.files_live": "count",
    "lake.scan_kept_ratio": "ratio",
    "stream.batches": "count", "stream.batch_ms": "ms",
    "sinks.merge_upsert_ms": "ms", "sinks.compact_ms": "ms",
    "trace.overhead_ms": "ms", "trace.counters_ms": "ms",
}


def _mean(xs: list[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(run, wl, untraced: tuple[list[dict], list[dict]],
              files_live: int) -> tuple[dict, dict]:
    """``untraced`` holds the ops of the untraced loops run before and
    after the traced one; ``files_live`` is the lake's live file count
    at the end of the traced loop."""
    tr = run.tracer
    ops = tr.ops
    selfs = tr.self_ms()
    by_op: dict[int, list[dict]] = defaultdict(list)
    for s in tr.spans:
        if s["op"] is not None and s["end"] is not None:
            by_op[s["op"]].append(s)

    def dur(s: dict) -> float:
        return (s["end"] - s["start"]) * 1000.0

    def spans(rec: dict, name: str) -> list[dict]:
        return [s for s in by_op[rec["op"]] if s["name"] == name]

    def per_op(name: str, f=dur) -> list[float]:
        """Per op that has ``name`` spans: the sum of f over them."""
        out = []
        for rec in ops:
            ss = spans(rec, name)
            if ss:
                out.append(sum(f(s) for s in ss))
        return out

    m: dict[str, float] = {}
    m["build.ms"] = _mean(per_op("build"))
    m["build.py4j_calls"] = _mean(per_op("build", lambda s: s.get("py4j_calls", 0)))
    hits = [rec["cache_hit"] for rec in ops if "cache_hit" in rec]
    builds = sum(len(spans(rec, "build")) for rec in ops if "cache_hit" not in rec)
    m["build.cache_hit_ratio"] = sum(hits) / (len(hits) + builds) if hits or builds else 0.0
    m["plan.ms"] = _mean(per_op("plan"))

    execd = [rec for rec in ops if rec.get("exec", {}).get("jobs")]
    for k in ("jobs", "stages", "tasks", "run_ms", "cpu_ms", "gc_ms",
              "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
        m[f"exec.{k}"] = _mean([rec["exec"][k] for rec in execd])
    gaps, fetch_ms, fetch_rows = [], [], []
    for rec in execd:
        acts = spans(rec, "action") or [s for s in by_op[rec["op"]] if s["name"] == "op"]
        windows = [(s["start"], s["end"]) for s in acts]
        clipped = [(max(a, w0), min(b, w1)) for a, b in rec["_stage_spans"]
                   for w0, w1 in windows if b > w0 and a < w1]
        gaps.append(sum(dur(s) for s in acts) - union_ms(clipped))
        collects = [s for s in spans(rec, "action") if "rows" in s]
        if collects and rec["_last_job_end"] is not None:
            fetch_ms.append((collects[-1]["end"] - rec["_last_job_end"]) * 1000.0)
            fetch_rows.append(collects[-1]["rows"])
    m["exec.gap_ms"] = _mean(gaps)
    for k in ("bytes_to_python", "bytes_from_python", "rows"):
        m[f"arrow.{k}"] = _mean([rec["arrow"][k] for rec in execd if rec["arrow"]["rows"]
                                 or rec["arrow"]["bytes_to_python"]])
    m["fetch.ms"] = _mean(fetch_ms)
    m["fetch.rows"] = _mean(fetch_rows)
    m["mem.storage_bytes_after"] = _mean([rec["mem"]["storage_bytes_after"] for rec in ops])
    m["mem.cached_rdds_after"] = _mean([rec["mem"]["cached_rdds_after"] for rec in ops])

    appends = [rec for rec in ops if rec["kind"] == "append"]
    m["spec.read_ms"] = _mean(per_op("spec.read_spec"))
    m["spec.partitions"] = _mean([rec["spec_partitions"] for rec in appends
                                  if "spec_partitions" in rec])
    wall_s = sum(rec["wall_ms"] for rec in appends) / 1000.0
    m["spec.rows_per_s"] = sum(rec["spec_rows"] for rec in appends) / wall_s if wall_s else 0.0
    for kind in ("append", "upsert", "compact"):
        m[f"lake.commit_ms.{kind}"] = _mean(per_op(f"lake.{kind}"))
    commits = [rec for rec in ops if "files_written" in rec]
    m["lake.files_written"] = _mean([rec["files_written"] for rec in commits])
    in_bytes = sum(rec.get("in_bytes", 0) for rec in commits)
    m["lake.write_amp"] = (sum(rec["bytes_written"] for rec in commits
                               if rec["kind"] != "compact") / in_bytes) if in_bytes else 0.0
    m["lake.files_live"] = float(files_live)
    m["lake.scan_kept_ratio"] = _mean([rec["scan_kept_ratio"] for rec in ops
                                       if "scan_kept_ratio" in rec])
    streams = [rec for rec in ops if rec["kind"] == "stream"]
    m["stream.batches"] = _mean([len(rec.get("progress", [])) for rec in streams])
    m["stream.batch_ms"] = _mean([p["ms"] for rec in streams for p in rec.get("progress", [])])
    m["sinks.merge_upsert_ms"] = _mean(
        [dur(s) for s in tr.spans if s["name"] == "sinks.merge_upsert" and s["end"]])
    m["sinks.compact_ms"] = _mean(
        [dur(s) for s in tr.spans if s["name"] == "sinks.compact_small_files" and s["end"]])
    # in-op cost of tracing: the traced loop's median op wall minus the
    # mean of the medians of the untraced loops on either side of it
    # (the JIT keeps warming from loop to loop)
    base = _mean([statistics.median([r["wall_ms"] for r in u]) for u in untraced])
    m["trace.overhead_ms"] = statistics.median([r["wall_ms"] for r in ops]) - base
    # the status-store reads after each op, outside every op wall
    m["trace.counters_ms"] = _mean([rec.get("counters_ms", 0.0) for rec in ops])
    metrics = {k: {"value": float(v), "unit": UNITS[k]} for k, v in m.items()}

    # trace file: per-op rows with layer self times, and every span
    self_by_op: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for s in tr.spans:
        if s["op"] is not None and s["id"] in selfs:
            self_by_op[s["op"]][LAYER_OF.get(s["name"], s["name"])] += selfs[s["id"]]
    rows = []
    for rec in ops:
        row = {k: v for k, v in rec.items() if not k.startswith("_")}
        row["self_ms"] = dict(self_by_op[rec["op"]])
        parts = sum(dur(s) for name in ("build", "plan", "action") for s in spans(rec, name))
        if parts:
            row["accounted"] = parts / rec["wall_ms"]
        rows.append(row)
    layer_self: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for row in rows:
        for layer, v in row["self_ms"].items():
            layer_self[row["kind"]][layer] += v
    detail = {
        "workload": wl.name,
        "seed": run.seed,
        "metrics": metrics,
        "layer_self_ms_by_kind": {k: dict(v) for k, v in layer_self.items()},
        "untraced_op_walls_ms": {"before": [r["wall_ms"] for r in untraced[0]],
                                 "after": [r["wall_ms"] for r in untraced[1]]},
        "ops": rows,
        "spans": tr.spans,
    }
    return metrics, detail
