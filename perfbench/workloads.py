"""The benchmark's workloads.  Each is a closed loop with one client,
driven by a seeded op sequence; NOTES.md says why each was chosen and
which layers it stresses or bypasses.

A workload has:

- ``prepare(run)``: make the inputs from the seed (part of set-up).
- ``begin(run)``: reset before each loop (the untimed warm-up cycle,
  the measured loop, the traced loop).
- ``cycle(run)``: one pass of the op mix.  The first cycle is the
  warm-up; the measured loop runs whole cycles until ``--seconds``
  have elapsed.
- ``verify(run)``: untimed checks after the loops.  For the query
  workloads this is the correctness gate: every query once against its
  DuckDB oracle through ``pyspec_spark.oracle.check_query``.

Ops are timed by ``Tracer.op``; ``run.after_op`` and ``run.gate`` count
ops and checks, and the ones that failed.  An op that raises counts as
failed and the loop goes on (``rec["error"]`` is set, and the code after
the op skips its checks); a check that raises counts as a failed check.
"""

from __future__ import annotations

import hashlib
import os
from typing import Any

import numpy as np
import pandas as pd

from perfbench import datagen

# ---------------------------------------------------------------- helpers


def digest(rows: list) -> str:
    """Order-insensitive fingerprint of collected rows."""
    h = hashlib.sha1()
    for r in sorted(repr(tuple(r)) for r in rows):
        h.update(r.encode())
    return h.hexdigest()


def _same_values(got: dict, want: dict) -> bool:
    """Same keys, and values equal to 1e-9 relative."""
    return got.keys() == want.keys() and all(
        abs(got[k] - v) <= 1e-9 * max(1.0, abs(v)) for k, v in want.items())


def release(spark: Any) -> None:
    """Between ops: drop cached relations and tracked persists."""
    from pyspec_spark import registry

    spark.catalog.clearCache()
    registry.release_persisted()


def run_query(run: Any, df_fn, sink: str) -> tuple[Any, list | None]:
    """Build (span ``build``), plan (span ``plan``, traced runs only) and
    execute (span ``action``) one declared query; returns (df, rows)."""
    tr = run.tracer
    calls0 = tr.py4j_calls
    with tr.span("build") as sp:
        df = df_fn()
    if sp is not None:
        sp["py4j_calls"] = tr.py4j_calls - calls0
        with tr.span("plan"):
            df._jdf.queryExecution().executedPlan()
    with tr.span("action") as sp:
        if sink == "noop":
            df.write.format("noop").mode("overwrite").save()
            rows = None
        else:
            rows = df.collect()
    if sp is not None and rows is not None:
        sp["rows"] = len(rows)
    return df, rows


class Workload:
    """Common shape; ``small=True`` shrinks the inputs for the self-test."""

    SMALL: dict[str, Any] = {"SF": 0.001, "DOCS": 100}

    def __init__(self, small: bool = False) -> None:
        if small:
            for k, v in self.SMALL.items():
                setattr(self, k, v)

    def prepare(self, run: Any) -> None:
        """Make the inputs (part of set-up)."""

    def begin(self, run: Any) -> None:
        """Called before each loop: the warm-up cycle, the measured loop
        and the traced loop."""

    def verify(self, run: Any) -> None:
        """Untimed checks after the loops."""


class QueryWorkload(Workload):
    """Declared queries over generated tables, gated by their oracles."""

    QUERIES: tuple[str, ...] = ()

    def prepare(self, run: Any) -> None:
        from pyspec_spark import registry

        self.registry = registry
        self.sf_dir = datagen.write_tables(
            os.path.join(run.root, "tables"), run.seed, self.SF, self.DOCS
        )

    def verify(self, run: Any) -> None:
        """The correctness gate: every query once against its DuckDB
        oracle through ``check_query`` (which runs the registry's
        prepared plan)."""
        from pyspec_spark.oracle import check_query, duckdb_connect

        con = duckdb_connect(self.sf_dir)
        try:
            for q in self.QUERIES:
                with run.tracer.span("oracle", qname=q):
                    try:
                        res = check_query(run.spark, con, q, self.sf_dir)
                    except Exception as e:  # a query that raises fails the gate
                        run.log(f"oracle check {q} raised {type(e).__name__}: {e}")
                        res = None
                if res is not None and not res.ok:
                    run.log(str(res))
                run.gate(res is not None and res.ok, q)
                release(run.spark)
        finally:
            con.close()


# --------------------------------------------------------- curation_batch


class CurationBatch(QueryWorkload):
    """Cold runs of the heavy LLM-curation headliners: each job rebuilds
    its plan through ``__wrapped__``, runs every stage into the noop
    sink, and releases its persists.  A cycle is one pass over the jobs
    in a seeded order."""

    name = "curation_batch"
    QUERIES = (
        "q_minhash_neardup",
        "q_pagerank",
        "q_train_mix_curated",
        "q_substr_dup_spans",
    )
    SF, DOCS = 0.01, 500
    COLD_KINDS = ("cold",)

    def cycle(self, run: Any) -> None:
        for q in run.rng.permutation(self.QUERIES):
            q = str(q)
            build = self.registry.QUERIES[q].__wrapped__
            run.spark.catalog.clearCache()
            with run.tracer.op(self.name, "cold", q) as rec:
                run_query(run, lambda: build(run.spark, self.sf_dir), "noop")
                rec["ok"] = True
            release(run.spark)
            run.after_op(rec)


# -------------------------------------------------------- adhoc_analytics


class AdhocAnalytics(QueryWorkload):
    """A seeded sequence of light queries on small data.  A cycle is
    four rounds; each round requests every query once in a seeded
    order, a quarter of them cold (fresh build + collect, as a new
    notebook cell) and the rest prepared (collect of the registry's
    cached plan).  Over a cycle every query is requested cold exactly
    once and prepared three times."""

    name = "adhoc_analytics"
    QUERIES = (
        # the paper's gridder and scan family
        "q_grid3d",
        "q_grid_cut",
        "q_rot3",
        "q_scan_select",
        "q_fit_gauss_groups",
        # relational, window and event queries
        "q_pricing_summary",
        "q_join_5way",
        "q_window_rank",
        "q_events_tumbling",
        "q_arr_l2",
        # a wide builder (hundreds of py4j calls per build)
        "q_bitext_mine",
    )
    ROUNDS = 4
    SF, DOCS = 0.01, 500
    COLD_KINDS = ("cold",)

    def prepare(self, run: Any) -> None:
        super().prepare(run)
        # the registry's prepared plans, which prepared requests reuse
        self.prepared = {q: self.registry.QUERIES[q](run.spark, self.sf_dir)
                         for q in self.QUERIES}
        self.ref: dict[str, str] = {}

    def cycle(self, run: Any) -> None:
        qs = list(self.QUERIES)
        cold_order = [str(q) for q in run.rng.permutation(qs)]
        per_round = -(-len(qs) // self.ROUNDS)
        for r in range(self.ROUNDS):
            cold = set(cold_order[r * per_round:(r + 1) * per_round])
            for q in run.rng.permutation(qs):
                q = str(q)
                kind = "cold" if q in cold else "prepared"
                wrapped = self.registry.QUERIES[q]
                fn = wrapped.__wrapped__ if kind == "cold" else wrapped
                with run.tracer.op(self.name, kind, q) as rec:
                    df, rows = run_query(run, lambda: fn(run.spark, self.sf_dir), "collect")
                if rec["error"] is None:
                    rec["rows"] = len(rows)
                    rec["cache_hit"] = df is self.prepared[q]
                    # every request of a query must return the same rows;
                    # verify() ties those rows to the oracle-checked plan
                    d = digest(rows)
                    rec["ok"] = self.ref.setdefault(q, d) == d
                release(run.spark)
                run.after_op(rec)

    def verify(self, run: Any) -> None:
        super().verify(run)
        for q in self.QUERIES:
            run.check(f"{q} rows",
                      lambda: digest(self.prepared[q].collect()) == self.ref.get(q))
        # q_fit_gauss_groups has no SQL oracle (check_query passes it
        # unchecked): its fit is of a noise-free peak, so the closed form
        # is the reference
        run.check("q_fit_gauss_groups closed form", lambda: self._gauss_ok(run))

    def _gauss_ok(self, run: Any) -> bool:
        """Per ``l_returnflag``: the points the group holds, and the peak
        ``y = 10 exp(-(q-25)^2 / 128)`` recovered (amp 10, mu 25,
        sigma 8 after the query's rounding to four decimals)."""
        li = pd.read_parquet(os.path.join(self.sf_dir, "lineitem.parquet"),
                             columns=["l_returnflag"])
        want = li["l_returnflag"].value_counts().to_dict()
        rows = self.prepared["q_fit_gauss_groups"].collect()
        return {r.series_id: r.n_points for r in rows} == want and all(
            r.models == "gauss" and r.converged
            and abs(r.amp - 10.0) <= 1e-3 and abs(r.mu - 25.0) <= 1e-3
            and abs(r.sigma - 8.0) <= 1e-3
            for r in rows)


# ------------------------------------------------------------ scan_ingest


class ScanIngest(Workload):
    """Writes beside reads over the SPEC source, the lake, the sinks
    merge/compaction and the micro-batch path.  A cycle is a fixed op
    order (the seed drives the data, the corrections, the scan keys and
    the document chunks): the ``COMMITS`` (appends of SPEC files,
    upserts of re-measured points, a compaction), each followed by point
    scans by scan number, then a grid3d over the lake and one streamed
    curation of document chunks into a fresh target.  Each loop starts
    on a fresh, empty lake."""

    name = "scan_ingest"
    SCANS_PER_FILE, POINTS = 6, 40
    # The mix is an assumption chosen for coverage, not measured
    # traffic: both upserts and the scans land before and after the
    # compaction, and the file count grows under the reader.  It sets
    # what op_p50_ms (the scan median) and cold_mean_ms (the commit
    # mean) measure; NOTES.md lists what depends on it.
    COMMITS = ("append", "append", "upsert", "compact", "upsert")
    SCANS_AFTER_COMMIT = 5
    BUCKETS = 4
    CHUNKS, CHUNK_DOCS = 2, 60
    GRID = ((-7.0, -7.0, -7.0), (8.0, 8.0, 8.0), (10, 10, 10))
    SMALL = {"SCANS_PER_FILE": 2, "POINTS": 10, "CHUNK_DOCS": 20}
    COLD_KINDS = ("append", "upsert")

    def prepare(self, run: Any) -> None:
        from pyspec_spark.operators.gridder import GridSpec

        self.spec = GridSpec(*self.GRID)
        self.inputs = os.path.join(run.root, "inputs")
        os.makedirs(self.inputs)
        self.n_files = 0
        self.n_streams = 0
        self.n_lakes = 0
        self.lake = ""
        self.model: dict[int, float] = {}  # point key -> last written intensity
        self.truth_points: dict[int, tuple] = {}  # point key -> (qx, qy, qz)
        self.committed_scans: list[int] = []
        self._live: dict[str, int] = {}
        self._wrapped = False

    def begin(self, run: Any) -> None:
        """A fresh lake, so every loop does the same work; on the traced
        loop, spans on the sinks functions the streaming path calls."""
        import pyspec_spark.sinks as sinks

        self.n_lakes += 1
        self.lake = os.path.join(run.root, f"lake{self.n_lakes}")
        self.model.clear()
        self.truth_points.clear()
        self.committed_scans.clear()
        self._live = {}
        if run.tracer.enabled:
            run.tracer.wrap(sinks, "merge_upsert", "sinks.merge_upsert")
            run.tracer.wrap(sinks, "compact_small_files", "sinks.compact_small_files")

    def _manifest_files(self) -> dict[str, int]:
        """Live data files of the latest snapshot -> size in bytes."""
        import json

        from pyspec_spark import lake

        v = lake.latest_version(self.lake)
        if v is None:
            return {}
        with open(os.path.join(self.lake, "_manifests", f"v{v:08d}.json")) as fh:
            files = json.load(fh)["files"]
        return {e["path"]: os.path.getsize(os.path.join(self.lake, e["path"])) for e in files}

    def files_live(self) -> int:
        return len(self._manifest_files())

    def _commit_stats(self, run: Any, rec: dict) -> None:
        """Traced runs: files and bytes the commit added to the lake."""
        if not run.tracer.enabled:
            return
        live = self._manifest_files()
        new = set(live) - set(self._live)
        rec["files_written"] = len(new)
        rec["bytes_written"] = sum(live[p] for p in new)
        self._live = live

    # ---- op bodies
    def _points(self, run: Any, path: str):
        from pyspark.sql import functions as F

        from pyspec_spark.sources.spec_datasource import read_spec

        with run.tracer.span("spec.read_spec"):
            raw = read_spec(run.spark, path)
        v = F.col("values")
        two_pi = 2 * np.pi
        return raw.select(
            (F.col("scan_number").cast("long") * 100000 + F.col("point_index")).alias("pkey"),
            "scan_number",
            "point_index",
            (v["H"] * two_pi).alias("qx"),
            (v["K"] * two_pi).alias("qy"),
            (v["L"] * two_pi).alias("qz"),
            (v["Detector"] / v["Monitor"] * 1e5).alias("intensity"),
            (F.col("scan_number") % self.BUCKETS).alias("bucket"),
        )

    def _append(self, run: Any) -> None:
        from pyspec_spark import lake

        first = 1 + self.n_files * self.SCANS_PER_FILE
        path = os.path.join(self.inputs, f"scan{self.n_files:04d}.spec")
        truth = datagen.spec_file(path, run.rng, first, self.SCANS_PER_FILE, self.POINTS)
        self.n_files += 1
        with run.tracer.op(self.name, "append", os.path.basename(path)) as rec:
            pts = self._points(run, path)
            with run.tracer.span("lake.append"):
                lake.lake_append(run.spark, self.lake, pts, partition_col="bucket")
            rec["ok"] = True
        if rec["error"] is not None:
            run.after_op(rec)
            return
        rec["rows"] = len(truth)
        rec["in_bytes"] = os.path.getsize(path)
        self._commit_stats(run, rec)
        if run.tracer.enabled:
            rec["spec_partitions"] = pts.rdd.getNumPartitions()
        two_pi = 2 * np.pi
        for r in truth.itertuples(index=False):
            key = r.scan_number * 100000 + r.point_index
            self.model[key] = r.Detector / r.Monitor * 1e5
            self.truth_points[key] = (r.H * two_pi, r.K * two_pi, r.L * two_pi)
        self.committed_scans.extend(range(first, first + self.SCANS_PER_FILE))
        run.after_op(rec)

    def _upsert(self, run: Any) -> None:
        from pyspec_spark import lake

        keys = sorted(self.model)
        pick = run.rng.choice(len(keys), size=max(1, len(keys) // 10), replace=False)
        fix = pd.DataFrame({"pkey": np.array([keys[i] for i in sorted(pick)], dtype=np.int64)})
        fix["scan_number"] = (fix.pkey // 100000).astype(np.int32)
        fix["point_index"] = (fix.pkey % 100000).astype(np.int32)
        pts = np.array([self.truth_points[k] for k in fix.pkey])
        fix["qx"], fix["qy"], fix["qz"] = pts[:, 0], pts[:, 1], pts[:, 2]
        fix["intensity"] = np.round(run.rng.uniform(0, 5000, len(fix)), 3)
        fix["bucket"] = (fix.scan_number % self.BUCKETS).astype(np.int32)
        path = os.path.join(self.inputs, f"fix{len(os.listdir(self.inputs)):04d}.parquet")
        fix.to_parquet(path, index=False)
        with run.tracer.op(self.name, "upsert", os.path.basename(path)) as rec:
            upd = run.spark.read.parquet(path)
            with run.tracer.span("lake.upsert"):
                lake.lake_upsert(run.spark, self.lake, upd, key="pkey", partition_col="bucket")
            rec["ok"] = True
        if rec["error"] is not None:
            run.after_op(rec)
            return
        rec["rows"] = len(fix)
        rec["in_bytes"] = os.path.getsize(path)
        self._commit_stats(run, rec)
        for k, v in zip(fix.pkey, fix.intensity):
            self.model[int(k)] = float(v)
        run.after_op(rec)

    def _scan(self, run: Any) -> None:
        from pyspec_spark import lake

        s = int(run.rng.choice(self.committed_scans))
        where = [("scan_number", "=", s)]
        want = {k: v for k, v in self.model.items() if k // 100000 == s}
        with run.tracer.op(self.name, "scan", f"scan_number={s}") as rec:
            with run.tracer.span("lake.scan"):
                rows = lake.lake_scan(run.spark, self.lake, where).select(
                    "pkey", "intensity").collect()
        if rec["error"] is None:
            rec["ok"] = _same_values({r.pkey: r.intensity for r in rows}, want)
            rec["rows"] = len(rows)
        if run.tracer.enabled:
            kept, total = lake.lake_scan_file_counts(self.lake, where)
            rec["scan_kept_ratio"] = kept / total if total else 0.0
        run.after_op(rec)

    def _grid(self, run: Any) -> None:
        from pyspec_spark import lake
        from pyspec_spark.operators.gridder import grid3d

        def build():
            with run.tracer.span("lake.read"):
                pts = lake.lake_read(run.spark, self.lake)
            return grid3d(pts, self.spec)

        with run.tracer.op(self.name, "grid", "grid3d") as rec:
            _, rows = run_query(run, build, "collect")
        if rec["error"] is None:
            rec["ok"] = self._grid_ok(rows)
            rec["rows"] = len(rows)
        run.after_op(rec)

    def _compact(self, run: Any) -> None:
        from pyspec_spark import lake

        with run.tracer.op(self.name, "compact", "lake_compact") as rec:
            with run.tracer.span("lake.compact"):
                lake.lake_compact(run.spark, self.lake, partition_col="bucket")
            rec["ok"] = True
        if rec["error"] is None:
            self._commit_stats(run, rec)
        run.after_op(rec)

    def _stream(self, run: Any) -> None:
        import pyspec_spark.streaming.corpus as sc

        self.n_streams += 1
        base = os.path.join(run.root, f"stream{self.n_streams}")
        src, target = os.path.join(base, "src"), os.path.join(base, "lake")
        os.makedirs(src)
        first, prev = 0, None
        for c in range(self.CHUNKS):
            docs = datagen.documents(run.rng, self.CHUNK_DOCS, first_id=first)
            if prev is not None:
                # re-crawled documents: the first fifth of the chunk
                # re-delivers ids (and languages) of the previous one
                k = self.CHUNK_DOCS // 5
                docs.loc[: k - 1, ["doc_id", "lang"]] = prev[["doc_id", "lang"]].tail(k).values
                docs["doc_id"] = docs["doc_id"].astype(np.int64)
            docs.to_parquet(os.path.join(src, f"chunk{c:03d}.parquet"), index=False)
            first += self.CHUNK_DOCS
            prev = docs
        with run.tracer.op(self.name, "stream", f"chunks={self.CHUNKS}") as rec:
            with run.tracer.span("stream.curate_to_lake"):
                stream = sc.read_document_stream(run.spark, src, max_files_per_trigger=1)
                sc.curate_to_lake(stream, run.spark, target, min_quality=0.78,
                                  compact_every=2,
                                  checkpoint=os.path.join(base, "checkpoint"))
            rec["ok"] = True
        self.last_stream = (src, target)
        run.after_op(rec)

    # ---- checks
    def _grid_ok(self, rows: list) -> bool:
        """Compare lake-gridded voxels with a numpy gridding of the
        points the model says the lake holds."""
        keys = sorted(self.model)
        q = np.array([self.truth_points[k] for k in keys])
        val = np.array([self.model[k] for k in keys])
        mins, maxs, sizes = (np.array(a, dtype=float) for a in self.GRID)
        idx = np.floor((q - mins) / ((maxs - mins) / sizes)).astype(np.int64)
        idx = np.where(idx == sizes.astype(np.int64), sizes.astype(np.int64) - 1, idx)
        keep = np.all((idx >= 0) & (idx < sizes.astype(np.int64)), axis=1)
        want: dict[tuple, list] = {}
        for (gx, gy, gz), v in zip(idx[keep], val[keep]):
            want.setdefault((int(gx), int(gy), int(gz)), []).append(v)
        got = {(r.gx, r.gy, r.gz): (r.n, r.mean_i) for r in rows}
        if got.keys() != want.keys():
            return False
        return all(
            got[k][0] == len(v) and abs(got[k][1] - np.mean(v)) <= 1e-6 * max(1.0, abs(np.mean(v)))
            for k, v in want.items()
        )

    def cycle(self, run: Any) -> None:
        ops = []
        for c in self.COMMITS:
            ops += [c] + ["scan"] * self.SCANS_AFTER_COMMIT
        ops += ["grid", "stream"]
        body = {"append": self._append, "upsert": self._upsert, "scan": self._scan,
                "grid": self._grid, "compact": self._compact, "stream": self._stream}
        for op in ops:
            body[op](run)
            release(run.spark)

    def verify(self, run: Any) -> None:
        """Final lake snapshot against the closed form (row count and
        last written value per point key); final grid against numpy;
        streamed end state against batch ``curate()`` of the same
        chunks."""
        from pyspec_spark import lake
        from pyspec_spark.operators.gridder import grid3d
        from pyspec_spark.streaming.corpus import curate

        spark = run.spark

        def snapshot_ok() -> bool:
            snap = lake.lake_read(spark, self.lake).select("pkey", "intensity").collect()
            return len(snap) == len(self.model) and _same_values(
                {r.pkey: r.intensity for r in snap}, self.model)

        def grid_ok() -> bool:
            return self._grid_ok(grid3d(lake.lake_read(spark, self.lake), self.spec).collect())

        def stream_ok() -> bool:
            # batch curate() of each chunk, applied in arrival order as
            # upserts by doc_id, is the state the stream must leave
            src, target = self.last_stream
            want: dict = {}
            for chunk in sorted(os.listdir(src)):
                cur = curate(spark.read.parquet(os.path.join(src, chunk)), min_quality=0.78)
                cols = sorted(cur.columns)
                for r in cur.select(*cols).collect():
                    want[r.doc_id] = tuple(r)
            got_df = spark.read.parquet(target)
            return sorted(got_df.columns) == cols and sorted(
                map(tuple, got_df.select(*cols).collect())) == sorted(want.values())

        for what, fn in (("lake snapshot", snapshot_ok), ("grid3d", grid_ok),
                         ("stream end state", stream_ok)):
            with run.tracer.span("oracle", qname=what):
                run.check(what, fn)


WORKLOADS = {w.name: w for w in (CurationBatch, AdhocAnalytics, ScanIngest)}
