"""Span recorder and engine counters for the traced benchmark run.

Spans are recorded from the benchmark's own code around each call into
an engine layer (builders, ``executedPlan()``, the action, ``read_spec``,
the ``lake_*`` functions, ``curate_to_lake``, the ``sinks`` merge and
compaction, the oracle check).  They stay in memory and are written out
once, when the run ends.  Counters are read at the same op boundaries
from outside the engine: Spark's status store (jobs, stages, tasks,
executor time, shuffle and spill bytes), the SQL status store (rows and
bytes that crossed the Python/Arrow boundary), the block manager's
storage info, and a counting wrapper on the py4j client.

With tracing off, ``op`` only times the op wall and ``span`` records
nothing, so the untraced run pays no tracer cost beyond two clock reads.
"""

from __future__ import annotations

import functools
import re
import sys
import threading
import time
from contextlib import contextmanager
from typing import Any

# Plan-graph nodes whose SQL metrics count rows and bytes crossing the
# Python/Arrow boundary (mapInArrow, pandas UDFs, applyInPandas, ...).
_PY_NODE = re.compile(r"Python|Arrow|Pandas")
_SPEC_NODE = "BatchScan specfile"
_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def parse_metric(text: str | None) -> float:
    """Value of a formatted SQL metric ("1,234", "12.5 KiB", or the
    multi-task "total (min, med, max ...)\\n12.5 KiB (...)" form)."""
    if not text:
        return 0.0
    line = text.split("\n")[-1] if "\n" in text else text
    m = re.match(r"\s*([-\d.,]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    return v * _SIZE.get(m.group(2), 1)


def union_ms(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of (start, end) intervals, in ms."""
    tot, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                tot += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        tot += cur_e - cur_s
    return tot * 1000.0


class Tracer:
    """Per-run span store plus op records.  One instance per run."""

    def __init__(self, spark: Any, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self.py4j_calls = 0
        self._local = threading.local()
        self._main_top: int | None = None
        self._op_id: int | None = None
        self._next_job = 0
        self._next_exec = 0
        self.stream_progress: list[dict] = []
        self._seen_progress = 0
        self._restore: list[tuple[Any, str, Any]] = []
        if enabled:
            self._install()

    # ------------------------------------------------------------ spans
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, **attrs: Any):
        """Record one span; its parent is the enclosing span on this
        thread, or for a callback thread (foreachBatch) the main
        thread's innermost open span."""
        if not self.enabled:
            yield None
            return
        st = self._stack()
        parent = st[-1] if st else self._main_top
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": parent, "op": self._op_id,
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        main = threading.current_thread() is threading.main_thread()
        st.append(sid)
        if main:
            self._main_top = sid
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            st.pop()
            if main:
                self._main_top = st[-1] if st else None

    def wrap(self, owner: Any, attr: str, span_name: str) -> None:
        """Replace ``owner.attr`` by a span-recording wrapper for this
        run (undone by ``close``)."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*a: Any, **k: Any) -> Any:
            with self.span(span_name):
                return fn(*a, **k)

        self._restore.append((owner, attr, fn))
        setattr(owner, attr, traced)

    # -------------------------------------------------------------- ops
    @contextmanager
    def op(self, workload: str, kind: str, name: str):
        """One timed op of the closed loop.  Yields the op record; the
        caller sets ``rec["ok"]`` and may add fields.  An exception in
        the op body is logged and kept in ``rec["error"]`` instead of
        propagating, so the op counts as failed and the loop goes on;
        code after the ``with`` must skip its checks when it is set."""
        rec = {"op": len(self.ops), "workload": workload, "kind": kind,
               "name": name, "ok": False, "error": None}
        sc = self.spark.sparkContext
        if self.enabled:
            sc.setJobGroup(f"op-{rec['op']}", f"{kind}:{name}")
            self._op_id = rec["op"]
            calls0 = self.py4j_calls
        t0 = time.perf_counter()
        try:
            with self.span("op", kind=kind, qname=name) as sp:
                yield rec
        except Exception as e:
            rec["ok"] = False
            rec["error"] = f"{type(e).__name__}: {e}"
            print(f"[perfbench] op raised: {kind} {name}: {rec['error']}",
                  file=sys.stderr, flush=True)
        finally:
            rec["wall_ms"] = (time.perf_counter() - t0) * 1000.0
            self.ops.append(rec)
            if self.enabled:
                rec["span"] = sp["id"]
                rec["py4j_calls"] = self.py4j_calls - calls0
                self._op_id = None
                sc.setLocalProperty("spark.jobGroup.id", None)

    # ------------------------------------------------------- counters
    def _install(self) -> None:
        client = self.spark.sparkContext._gateway._gateway_client
        send = client.send_command

        def counting(*a: Any, **k: Any) -> Any:
            self.py4j_calls += 1
            return send(*a, **k)

        client.send_command = counting
        self._restore.append((client, "send_command", send))

        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class _Progress(StreamingQueryListener):
            def onQueryStarted(self, event: Any) -> None:
                pass

            def onQueryProgress(self, event: Any) -> None:
                p = event.progress
                tracer.stream_progress.append(
                    {"batch": p.batchId, "rows": p.numInputRows,
                     "ms": float(p.durationMs.get("triggerExecution", 0))}
                )

            def onQueryIdle(self, event: Any) -> None:
                pass

            def onQueryTerminated(self, event: Any) -> None:
                pass

        self._listener = _Progress()
        self.spark.streams.addListener(self._listener)
        jsc = self.spark.sparkContext._jsc.sc()
        self._store = jsc.statusStore()
        self._sql = self.spark._jsparkSession.sharedState().statusStore()
        self._bus = jsc.listenerBus()
        self.drain()
        self._next_exec = self._sql.executionsCount()
        while self._job(self._next_job) is not None:
            self._next_job += 1

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status stores (and the streaming listener) are up to date."""
        if self.enabled:
            self._bus.waitUntilEmpty()

    def _job(self, jid: int) -> Any:
        try:
            return self._store.job(jid)
        except Exception:  # py4j NoSuchElementException: not submitted
            return None

    def read_counters(self, rec: dict) -> None:
        """Attach the status-store counters of every job and SQL
        execution the op started (closed loop, one client: the new ids
        since the previous op belong to this op).  The reads run after
        the op's wall; their own time goes into ``rec["counters_ms"]``."""
        if not self.enabled:
            return
        t0 = time.perf_counter()
        self._read_counters(rec)
        rec["counters_ms"] = (time.perf_counter() - t0) * 1000.0

    def _read_counters(self, rec: dict) -> None:
        self.drain()
        if len(self.stream_progress) > self._seen_progress:
            rec["progress"] = self.stream_progress[self._seen_progress:]
            self._seen_progress = len(self.stream_progress)
        jobs, stages = [], []
        while (jd := self._job(self._next_job)) is not None:
            self._next_job += 1
            end = jd.completionTime()
            jobs.append(end.get().getTime() / 1000.0 if end.isDefined() else None)
            sids = jd.stageIds()
            for i in range(sids.size()):
                try:
                    sd = self._store.lastStageAttempt(sids.apply(i))
                except Exception:  # stage never attempted
                    continue
                if sd.status().toString() != "COMPLETE":
                    continue
                sub, comp = sd.submissionTime(), sd.completionTime()
                stages.append({
                    "tasks": sd.numTasks(),
                    "run_ms": sd.executorRunTime(),
                    "cpu_ms": sd.executorCpuTime() / 1e6,
                    "gc_ms": sd.jvmGcTime(),
                    "shuffle_read_bytes": sd.shuffleReadBytes(),
                    "shuffle_write_bytes": sd.shuffleWriteBytes(),
                    "spill_bytes": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
                    "span": (sub.get().getTime() / 1000.0, comp.get().getTime() / 1000.0)
                    if sub.isDefined() and comp.isDefined() else None,
                })
        rec["exec"] = {
            "jobs": len(jobs),
            "stages": len(stages),
            **{k: sum(s[k] for s in stages) for k in (
                "tasks", "run_ms", "cpu_ms", "gc_ms", "shuffle_read_bytes",
                "shuffle_write_bytes", "spill_bytes")},
        }
        rec["_stage_spans"] = [s["span"] for s in stages if s["span"]]
        done = [j for j in jobs if j is not None]
        rec["_last_job_end"] = max(done) if done else None
        arrow = {"bytes_to_python": 0.0, "bytes_from_python": 0.0, "rows": 0.0}
        spec = {"rows": 0.0}
        count = self._sql.executionsCount()
        if count > self._next_exec:
            execs = self._sql.executionsList(self._next_exec, count - self._next_exec)
            for i in range(execs.size()):
                self._plan_metrics(execs.apply(i).executionId(), arrow, spec)
            self._next_exec = count
        rec["arrow"] = arrow
        rec["spec_rows"] = spec["rows"]
        storage = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        rec["mem"] = {
            "storage_bytes_after": sum(r.memSize() + r.diskSize() for r in storage),
            "cached_rdds_after": sum(1 for r in storage if r.numCachedPartitions() > 0),
        }

    def _plan_metrics(self, eid: int, arrow: dict, spec: dict) -> None:
        vals = self._sql.executionMetrics(eid)
        nodes = self._sql.planGraph(eid).allNodes()
        for i in range(nodes.size()):
            node = nodes.apply(i)
            name = node.name()
            is_spec = name == _SPEC_NODE
            if not is_spec and not _PY_NODE.search(name):
                continue
            ms = node.metrics()
            for j in range(ms.size()):
                m = ms.apply(j)
                v = vals.get(m.accumulatorId())
                val = parse_metric(v.get() if v.isDefined() else None)
                mname = m.name()
                if is_spec:
                    if mname == "number of output rows":
                        spec["rows"] += val
                elif mname == "data sent to Python workers":
                    arrow["bytes_to_python"] += val
                elif mname == "data returned from Python workers":
                    arrow["bytes_from_python"] += val
                elif mname == "number of output rows":
                    arrow["rows"] += val

    # ---------------------------------------------------------- results
    def self_ms(self) -> dict[int, float]:
        """Self time of every closed span: its duration minus the part
        of it that its children cover."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            clipped = [(max(a, s["start"]), min(b, s["end"]))
                       for a, b in kids.get(s["id"], []) if b > s["start"] and a < s["end"]]
            out[s["id"]] = (s["end"] - s["start"]) * 1000.0 - union_ms(clipped)
        return out

    def close(self) -> None:
        for owner, attr, fn in reversed(self._restore):
            setattr(owner, attr, fn)
        self._restore.clear()
        if self.enabled:
            self.spark.streams.removeListener(self._listener)
