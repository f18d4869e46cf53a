"""Traced run: per-layer metrics, measured from outside the package.

The tracer

- wraps module attributes of the package's public layer functions, so
  each call records a span (layer, function, start, end, depth);
- counts and times py4j ``send_command`` round trips;
- sets one Spark job group per op, so the op's jobs can be found in the
  event log;
- reads the Spark event log after the session stops, for jobs, stages,
  tasks and the executed plans' SQL metrics.

Execution time is attributed to the layer that owns the plan nodes a
stage runs, not to the function whose action happened to submit the
job: a stage in which the parse ``mapInPandas`` produced rows belongs to
``extract``, one in which the merge's per-key aggregate produced rows
belongs to ``merge`` (plan-node row metrics, so a stage that reads a
cached frame is not charged for the plan that built the cache), and a
file-write stage belongs to ``state`` when it writes into the state
table and to ``sinks`` otherwise; any other stage belongs to the layer
whose call submitted it. Every instant from the op's start (or its
group's first job, if earlier) to its end (or its group's last stage,
if later) goes to exactly one owner: the running stages (split evenly),
else the running job's layer, else the innermost span, else
``layers.unattributed_s``. The run fails when the partition's sum
differs from the op's own wall time (the runner's ``perf_counter``) by
more than ``SUM_TOLERANCE``, which also catches a job of the op's group
that runs outside the op, and when a job starts during an op under
another job group. ``sinks.*`` come from the files an op writes in the
work directory outside the state table, its inputs and Spark's
scratch, on every workload.

Traced and untraced ops alternate within the run (the wrappers and the
py4j hook are switched off for untraced ops), and ``layers.overhead_s``
is the difference of their medians.
"""

from __future__ import annotations

import glob
import importlib
import json
import os
import re
import statistics
import sys
import time
from collections import defaultdict

from perfbench.workloads import file_stats, written

PKG = "rental_data_pipeline_spark"

# layer -> (module, function) pairs whose calls are that layer's spans
LAYER_FUNCS = {
    "pipeline": [("jobs.pipeline", "run_pipeline")],
    "extract": [("operators.extract", f) for f in
                ("split_cards", "parse_listing_pages", "quarantine_split")],
    "merge": [("operators.merge", "merge_listings")],
    "state": [("streaming.incremental", f) for f in
              ("bucketed_keyed_fold", "read_state_or_legacy", "read_state",
               "read_state_buckets", "_prune_versions", "_ensure_meta", "_mark_full")],
    "sinks": [("operators.sinks", f) for f in
              ("write_state_json", "write_csv_snapshot", "write_filtered_csv")],
    "dedup": [("operators.dedup", f) for f in
              ("minhash_lsh_pairs", "connected_components")],
    "prepared": [("prepared", "session_artifact")],
}
# the layer that owns a job no span covers (the op's own final action)
WORKLOAD_LAYER = {"hourly_batch": "pipeline", "stream_fold": "state",
                  "corpus_dedup": "dedup"}
PARTITION = ("pipeline", "extract", "merge", "state", "sinks", "dedup", "prepared")
SUM_TOLERANCE = 0.01  # share of op wall time
# work-dir entries that are not sink output: the state table, the
# benchmark's landed inputs, Spark's scratch and the event log
NOT_SINKS = ("state", "landing", "geo", "spark-local", "tmp", "eventlog", "warehouse")

# per-layer metric -> (unit, better, end-to-end metric it should move,
# on which workloads); every traced run reports all of them, zero where
# a workload does not use the layer
_ALL = "hourly_batch corpus_dedup stream_fold"
_STATE = "stream_fold; state_mb also on hourly_batch"
METRICS = {
    "session.start_s": ("s", "lower", "setup_s", _ALL),
    "py4j.calls": ("count", "lower", "op_p50_s", "stream_fold corpus_dedup"),
    "py4j.s": ("s", "lower", "op_p50_s", "stream_fold corpus_dedup"),
    "py4j.idle_s": ("s", "lower", "op_p50_s", "stream_fold corpus_dedup"),
    "pipeline.construct_s": ("s", "lower", "op_p50_s", "hourly_batch"),
    "pipeline.jobs": ("count", "lower", "op_p50_s", "hourly_batch"),
    "extract.pages": ("count", "lower", "op_p50_s rows_per_s", "hourly_batch"),
    "extract.task_s": ("s", "lower", "op_p50_s rows_per_s", "hourly_batch"),
    "extract.py_bytes": ("bytes", "lower", "op_p50_s rows_per_s", "hourly_batch"),
    "merge.calls": ("count", "lower", "op_p50_s", "stream_fold hourly_batch"),
    "merge.construct_s": ("s", "lower", "op_p50_s", "stream_fold hourly_batch"),
    "merge.task_s": ("s", "lower", "op_p50_s", "stream_fold hourly_batch"),
    "merge.exchanges": ("count", "lower", "op_p50_s", "stream_fold hourly_batch"),
    "merge.shuffle_bytes": ("bytes", "lower", "op_p50_s", "stream_fold hourly_batch"),
    "state.touched_bucket_ratio": ("ratio", "lower", "op_p50_s rows_per_s state_mb", _STATE),
    "state.read_rows_per_input_row": ("ratio", "lower", "op_p50_s rows_per_s state_mb", _STATE),
    "state.bytes_written": ("bytes", "lower", "op_p50_s rows_per_s state_mb", _STATE),
    "state.files_written": ("count", "lower", "op_p50_s rows_per_s state_mb", _STATE),
    "state.full_commits": ("count", "lower", "op_p50_s rows_per_s state_mb", _STATE),
    "state.commit_s": ("s", "lower", "op_p50_s rows_per_s state_mb", _STATE),
    "sinks.write_s": ("s", "lower", "op_p50_s", "hourly_batch"),
    "sinks.bytes_written": ("bytes", "lower", "op_p50_s", "hourly_batch"),
    "sinks.files": ("count", "lower", "op_p50_s", "hourly_batch"),
    "dedup.construct_s": ("s", "lower", "op_p50_s", "corpus_dedup"),
    "dedup.construct_jobs": ("count", "lower", "op_p50_s", "corpus_dedup"),
    "dedup.task_s": ("s", "lower", "op_p50_s", "corpus_dedup"),
    "dedup.candidate_rows": ("count", "lower", "op_p50_s", "corpus_dedup"),
    "dedup.verified_ratio": ("ratio", "higher", "op_p50_s", "corpus_dedup"),
    "prepared.builds": ("count", "lower", "setup_s", _ALL),
    "prepared.build_s": ("s", "lower", "setup_s", _ALL),
    "spark.jobs": ("count", "lower", "op_p50_s", _ALL),
    "spark.stages": ("count", "lower", "op_p50_s", _ALL),
    "spark.tasks": ("count", "lower", "op_p50_s", _ALL),
    "spark.task_s": ("s", "lower", "op_p50_s", _ALL),
    "spark.cpu_s": ("s", "lower", "op_p50_s", _ALL),
    "spark.gc_s": ("s", "lower", "op_p50_s peak_rss_mb", _ALL),
    "spark.sched_wait_s": ("s", "lower", "op_p50_s", _ALL),
    "spark.shuffle_read_bytes": ("bytes", "lower", "op_p50_s", _ALL),
    "spark.shuffle_write_bytes": ("bytes", "lower", "op_p50_s", _ALL),
    "spark.spill_bytes": ("bytes", "lower", "op_p50_s peak_rss_mb", _ALL),
    "spark.exchanges": ("count", "lower", "op_p50_s", _ALL),
    "spark.failed_tasks": ("count", "lower", "op_p50_s", _ALL),
    **{f"time.{layer}_s": ("s", "lower", "op_p50_s", _ALL) for layer in PARTITION},
    "layers.unattributed_s": ("s", "lower", "op_p50_s", _ALL),
    "layers.overhead_s": ("s", "lower", "op_p50_s", _ALL),
}


def _under(path: str | None, root: str) -> bool:
    return bool(path) and os.path.abspath(path).startswith(os.path.abspath(root) + os.sep)


class Tracer:
    def __init__(self, workload: str, work: str):
        self.workload = workload
        self.work = work
        self.event_log_dir = os.path.join(work, "eventlog")
        self.on = False            # recording spans and round trips
        self.spans: list[tuple] = []   # (layer, func, t0, t1, depth)
        self.py4j: list[tuple] = []    # (t0, t1)
        self._depth = 0
        self._py4j_depth = 0
        self.ops: list[dict] = []
        self.untraced_walls: list[float] = []
        self.session_s = 0.0
        self.prepared_builds: list[float] = []
        self.report: dict = {}

    # -- installation -------------------------------------------------

    def attach(self, spark, session_s: float) -> None:
        self.spark = spark
        self.session_s = session_s
        self._hook_py4j()
        for layer, funcs in LAYER_FUNCS.items():
            for mod, name in funcs:
                self._wrap(layer, importlib.import_module(f"{PKG}.{mod}"), name)
        self._wrap_builds()

    def _wrap(self, layer: str, module, name: str) -> None:
        orig = getattr(module, name)
        tracer = self

        def traced(*args, **kwargs):
            if not tracer.on:
                return orig(*args, **kwargs)
            t0 = time.time()
            depth = tracer._depth
            tracer._depth += 1
            try:
                return orig(*args, **kwargs)
            finally:
                tracer._depth = depth
                tracer.spans.append((layer, name, t0, time.time(), depth))

        traced.__wrapped__ = orig
        # every module that imported the function by name holds its own
        # reference: replace them all
        for mname, m in list(sys.modules.items()):
            if mname.startswith(PKG) and getattr(m, name, None) is orig:
                setattr(m, name, traced)

    def _wrap_builds(self) -> None:
        """Time every prepared-artifact build, traced or not, from
        session start on; most land in set-up. A build is a call that
        grows a process memo: ``prepared.session_artifact`` artifacts,
        the merge's per-schema expression bundles and the minhash/LSH
        expression sets."""
        def memo_size(mod, attr):
            return lambda: len(getattr(mod, attr) or ())

        merge = importlib.import_module(f"{PKG}.operators.merge")
        dedup = importlib.import_module(f"{PKG}.operators.dedup")
        prepared = importlib.import_module(f"{PKG}.prepared")
        memos = [
            (prepared, "session_artifact", memo_size(prepared, "_ARTIFACTS")),
            (merge, "_merge_exprs", memo_size(merge, "_MERGE_EXPR_CACHE")),
            (dedup, "_minhash_agg_exprs", memo_size(dedup, "_MINHASH_AGG_EXPRS")),
            (dedup, "_lsh_bands_expr", lambda: dedup._LSH_BANDS_EXPR is not None),
        ]
        for module, name, size in memos:
            orig = getattr(module, name)

            def counted(*args, _orig=orig, _size=size, **kwargs):
                before = _size()
                t0 = time.perf_counter()
                try:
                    return _orig(*args, **kwargs)
                finally:
                    if _size() != before:
                        self.prepared_builds.append(time.perf_counter() - t0)

            for m in list(sys.modules.values()):
                if m.__name__.startswith(PKG) and getattr(m, name, None) is orig:
                    setattr(m, name, counted)

    def _hook_py4j(self) -> None:
        from py4j.java_gateway import GatewayClient

        orig = GatewayClient.send_command
        tracer = self

        def send_command(client, command, *args, **kwargs):
            if not tracer.on or tracer._py4j_depth:
                return orig(client, command, *args, **kwargs)
            tracer._py4j_depth += 1
            t0 = time.time()
            try:
                return orig(client, command, *args, **kwargs)
            finally:
                tracer._py4j_depth -= 1
                tracer.py4j.append((t0, time.time()))

        GatewayClient.send_command = send_command

    # -- per op -------------------------------------------------------

    def _fs_state(self) -> dict:
        return {
            "state": file_stats(os.path.join(self.work, "state")),
            # whatever an op writes anywhere in the work dir outside the
            # state table, its inputs and Spark's own scratch is sink output
            "sinks": file_stats(self.work, skip=NOT_SINKS),
            "versions": set(glob.glob(os.path.join(self.work, "state", "v_*"))),
        }

    def begin_op(self, op) -> None:
        # odd ops run untraced, for the overhead baseline
        self._traced_op = op.index % 2 == 0
        self._fs_before = self._fs_state() if self._traced_op else None
        self.spark.sparkContext.setJobGroup(f"perfbench-op-{op.index}", self.workload)
        self.on = self._traced_op
        self._span0 = len(self.spans)
        self._py0 = len(self.py4j)
        self._t0 = time.time()

    def end_op(self, op, wall: float) -> None:
        t1 = time.time()
        self.on = False
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        if not self._traced_op:
            self.untraced_walls.append(wall)
            return
        after = self._fs_state()
        before = self._fs_before
        new_state = written(before["state"], after["state"])
        new_sinks = written(before["sinks"], after["sinks"])
        new_versions = after["versions"] - before["versions"]
        buckets = set()
        for v in new_versions:
            buckets.update(n for n in os.listdir(v) if n.startswith("state_bucket="))
        self.ops.append({
            "index": op.index,
            "group": f"perfbench-op-{op.index}",
            "t0": self._t0, "t1": t1, "wall": wall,
            "records": op.records,
            "spans": self.spans[self._span0:],
            "py4j": self.py4j[self._py0:],
            "state_files": len(new_state),
            "state_bytes": sum(new_state.values()),
            "state_buckets": len(buckets),
            "full_commits": sum(os.path.exists(os.path.join(v, "_FULL")) for v in new_versions),
            "sink_files": len(new_sinks),
            "sink_bytes": sum(new_sinks.values()),
        })

    # -- after the session stops -------------------------------------

    def finish(self) -> dict:
        events = EventLog(self.event_log_dir)
        per_op = [self._op_metrics(o, events) for o in self.ops]
        keys = [k for k in per_op[0] if not k.startswith("_")] if per_op else []
        metrics = {k: statistics.fmean(m[k] for m in per_op) for k in keys}
        traced_p50 = statistics.median(o["wall"] for o in self.ops)
        metrics["layers.overhead_s"] = traced_p50 - statistics.median(self.untraced_walls)
        metrics["session.start_s"] = self.session_s
        metrics["prepared.builds"] = float(len(self.prepared_builds))
        metrics["prepared.build_s"] = sum(self.prepared_builds)
        bad = [m["_sum_error"] for m in per_op if abs(m["_sum_error"]) > SUM_TOLERANCE]
        foreign = [j for m in per_op for j in m["_foreign_jobs"]]
        self.report = {
            "traced_ops": len(self.ops),
            "untraced_ops": len(self.untraced_walls),
            "traced_op_p50_s": traced_p50,
            "sum_tolerance": SUM_TOLERANCE,
            "sum_errors": [round(m["_sum_error"], 5) for m in per_op],
            "outside_op_s": [round(m["_outside_s"], 4) for m in per_op],
            "foreign_jobs": foreign,
            "attribution_ok": not bad and not foreign,
            "nonzero_unused_layers": sorted({k for m in per_op for k in m["_nonzero_unused"]}),
            "targets": {k: v[2:] for k, v in METRICS.items()},
        }
        if bad:
            raise RuntimeError(f"layer times do not sum to op wall time: {bad}")
        if foreign:
            raise RuntimeError(f"jobs ran during an op outside its job group: {foreign}")
        if self.report["nonzero_unused_layers"]:
            raise RuntimeError("layers this workload does not use reported work: "
                               f"{self.report['nonzero_unused_layers']}")
        return {k: (metrics[k], METRICS[k][0]) for k in METRICS}

    def _op_metrics(self, op: dict, ev: "EventLog") -> dict:
        from rental_data_pipeline_spark.streaming.incremental import N_STATE_BUCKETS

        wl = self.workload
        t0, t1 = op["t0"], op["t1"]
        jobs = [j for j in ev.jobs.values() if j.get("group") == op["group"]]
        # a later job lists the stages it reuses (skipped) too: count
        # each stage once, under the job that ran it
        stages = [ev.stages[s] for j in jobs for s in j["stage_ids"]
                  if s in ev.stages and ev.stages[s]["job"] == j["id"]]
        spans = op["spans"]
        state_dir = os.path.join(self.work, "state")

        def span_layer_at(t: float) -> str | None:
            best = None
            for layer, _, a, b, d in spans:
                if a <= t < b and (best is None or d > best[1]):
                    best = (layer, d)
            return best[0] if best else None

        for j in jobs:
            j["owner"] = span_layer_at(j["start"]) or WORKLOAD_LAYER[wl]
        def ran(stage, pred) -> bool:
            """A plan node matching ``pred`` produced rows in the stage
            (a stage reading a cached frame lists the cached plan's
            operators among its RDD scopes without running them)."""
            for acc_id, value in stage["accums"].items():
                n = ev.nodes.get(acc_id)
                if value > 0 and n and n["metric"] == "number of output rows" and pred(n):
                    return True
            return False

        for s in stages:
            job = ev.jobs[s["job"]]
            if ran(s, lambda n: n["node"] == "MapInPandas"):
                s["owner"] = "extract"
            elif ran(s, lambda n: "__is_src" in n["desc"]):  # the merge's own column
                s["owner"] = "merge"
            elif s["writes"]:
                s["owner"] = "state" if _under(job.get("write_path"), state_dir) else "sinks"
            else:
                s["owner"] = job["owner"]

        # -- wall-time partition ---------------------------------------
        # The partition covers the op's window widened to every job and
        # stage of its group, so JVM-clock time outside the op is not
        # dropped: it makes the partition exceed the op's perf_counter
        # wall time, which the sum check then catches.
        lo = min([t0] + [j["start"] for j in jobs] + [s["submit"] for s in stages])
        hi = max([t1] + [j["end"] for j in jobs] + [s["complete"] for s in stages])
        cuts = {lo, hi}
        for _, _, a, b, _ in spans:
            cuts.update((a, b))
        for j in jobs:
            cuts.update((j["start"], j["end"]))
        for s in stages:
            cuts.update((s["submit"], s["complete"]))
        cuts = sorted(cuts)
        part: dict[str, float] = defaultdict(float)
        for a, b in zip(cuts, cuts[1:]):
            if b <= a:
                continue
            m = (a + b) / 2
            running = [s["owner"] for s in stages if s["submit"] <= m < s["complete"]]
            if running:
                for o in running:
                    part[o] += (b - a) / len(running)
                continue
            job = next((j for j in jobs if j["start"] <= m < j["end"]), None)
            owner = job["owner"] if job else span_layer_at(m)
            part[owner or "_unattributed"] += b - a
        sum_error = (sum(part.values()) - op["wall"]) / op["wall"]
        # jobs that ran inside the op's window under another group (or
        # none) escaped the op's group and would go uncounted
        foreign = [j["id"] for j in ev.jobs.values()
                   if t0 <= j["start"] < t1 and j.get("group") != op["group"]]

        # -- py4j ------------------------------------------------------
        busy: list[list[float]] = []  # job intervals, merged
        for a, b in sorted((j["start"], j["end"]) for j in jobs):
            if busy and a <= busy[-1][1]:
                busy[-1][1] = max(busy[-1][1], b)
            else:
                busy.append([a, b])

        def overlap(a: float, b: float) -> float:
            return sum(max(0.0, min(b, y) - max(a, x)) for x, y in busy)

        py4j_s = sum(b - a for a, b in op["py4j"])
        py4j_idle = sum((b - a) - overlap(a, b) for a, b in op["py4j"])

        # -- stages by owner -------------------------------------------
        def task_s(owner=None):
            return sum(s["task_s"] for s in stages if owner is None or s["owner"] == owner)

        def outermost(layer):
            ls = [sp for sp in spans if sp[0] == layer]
            return [sp for sp in ls if not any(
                o is not sp and o[2] <= sp[2] and sp[3] <= o[3] and o[4] < sp[4] for o in ls)]

        def jobs_in(sps):
            return [j for j in jobs if any(a <= j["start"] < b for _, _, a, b, _ in sps)]

        def idle_in(sps):
            """Span time during which none of the op's jobs ran."""
            return sum((b - a) - overlap(a, b) for _, _, a, b, _ in sps)

        pipe = outermost("pipeline")
        pipe_jobs = jobs_in(pipe)
        first_job = min((j["start"] for j in pipe_jobs), default=None)
        if not pipe:
            construct = 0.0
        elif first_job is None:
            construct = pipe[0][3] - pipe[0][2]
        else:
            construct = first_job - pipe[0][2]
        accum = ev.plan_metrics(stages)
        parse_nodes = [n for n in accum if n["node"] == "MapInPandas" and "error" in n["desc"]]
        dedup_spans = outermost("dedup")
        merge_spans = outermost("merge")
        merge_stages = [s for s in stages if s["owner"] == "merge"]
        rows = [n for n in accum if n["metric"] == "number of output rows"]
        # LSH candidates: the (doc_a, doc_b) distinct; its partial and
        # final aggregates both report rows, the final one the fewer
        cand = min((n["value"] for n in rows if n["node"] == "HashAggregate"
                    and n["desc"].startswith("HashAggregate(keys=[doc_a")
                    and "functions=[]" in n["desc"]), default=0.0)
        # verified: rows out of the node that applies the Jaccard test
        # (a filter, or a join condition once pushed into the join)
        verified = sum(n["value"] for n in rows if "array_intersect" in n["desc"]
                       and n["node"] in ("Filter", "BroadcastHashJoin", "SortMergeJoin",
                                         "ShuffledHashJoin", "BroadcastNestedLoopJoin"))
        state_reads = sum(n["value"] for n in accum
                          if n["metric"] == "number of output rows" and n["node"].startswith("Scan")
                          and _under(n.get("location"), state_dir))
        m = {
            "py4j.calls": float(len(op["py4j"])),
            "py4j.s": py4j_s,
            "py4j.idle_s": py4j_idle,
            "pipeline.construct_s": construct,
            "pipeline.jobs": float(len(pipe_jobs)),
            "extract.pages": float(sum(n["value"] for n in parse_nodes
                                       if n["metric"] == "number of output rows")),
            "extract.task_s": task_s("extract"),
            "extract.py_bytes": float(sum(n["value"] for n in accum if n["node"] == "MapInPandas"
                                          and n["metric"] == "data sent to Python workers")),
            "merge.calls": float(len(merge_spans)),
            "merge.construct_s": idle_in(merge_spans),
            "merge.task_s": task_s("merge"),
            "merge.exchanges": float(sum(1 for s in merge_stages if s["shuffle_read"] > 0)),
            "merge.shuffle_bytes": float(sum(s["shuffle_read"] for s in merge_stages)),
            "state.touched_bucket_ratio": op["state_buckets"] / N_STATE_BUCKETS,
            "state.read_rows_per_input_row": state_reads / max(op["records"], 1),
            "state.bytes_written": float(op["state_bytes"]),
            "state.files_written": float(op["state_files"]),
            "state.full_commits": float(op["full_commits"]),
            "state.commit_s": part.get("state", 0.0),
            "sinks.write_s": part.get("sinks", 0.0),
            "sinks.bytes_written": float(op["sink_bytes"]),
            "sinks.files": float(op["sink_files"]),
            "dedup.construct_s": idle_in(dedup_spans),
            "dedup.construct_jobs": float(len(jobs_in(dedup_spans))),
            "dedup.task_s": task_s("dedup"),
            "dedup.candidate_rows": float(cand),
            "dedup.verified_ratio": verified / cand if cand else 0.0,
            "spark.jobs": float(len(jobs)),
            "spark.stages": float(len(stages)),
            "spark.tasks": float(sum(s["tasks"] for s in stages)),
            "spark.task_s": task_s(),
            "spark.cpu_s": sum(s["cpu_s"] for s in stages),
            "spark.gc_s": sum(s["gc_s"] for s in stages),
            "spark.sched_wait_s": sum(s["wait_s"] for s in stages),
            "spark.shuffle_read_bytes": float(sum(s["shuffle_read"] for s in stages)),
            "spark.shuffle_write_bytes": float(sum(s["shuffle_write"] for s in stages)),
            "spark.spill_bytes": float(sum(s["spill"] for s in stages)),
            "spark.exchanges": float(sum(1 for s in stages if s["shuffle_write"] > 0)),
            "spark.failed_tasks": float(sum(s["failed"] for s in stages)),
            "layers.unattributed_s": part.get("_unattributed", 0.0),
            **{f"time.{layer}_s": part.get(layer, 0.0) for layer in PARTITION},
            "_sum_error": sum_error,
            "_outside_s": (t0 - lo) + (hi - t1),
            "_foreign_jobs": foreign,
        }
        # layers a workload does not use must report no work at all
        unused = {
            "hourly_batch": ("dedup.",),
            "stream_fold": ("extract.", "sinks.", "dedup."),
            "corpus_dedup": ("extract.", "sinks.", "pipeline.", "merge.", "state."),
        }[wl]
        m["_nonzero_unused"] = sorted(k for k, v in m.items() if k.startswith(unused) and v != 0)
        return m


# the output path of a file write, in the plan text of both explain
# modes: "Execute InsertIntoHadoopFsRelationCommand file:/p, ..." and the
# formatted mode's node details, "...Command\nInput: [..]\nArguments: file:/p, ..."
_WRITE_PATH = re.compile(
    r"Execute InsertIntoHadoopFsRelationCommand(?:\nInput: [^\n]*\nArguments:)? file:([^,\s]+)"
)


class EventLog:
    """Jobs, stages and SQL plan metrics from one Spark event log."""

    def __init__(self, log_dir: str):
        paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
        if len(paths) != 1:
            raise RuntimeError(f"expected one event log in {log_dir}, found {paths}")
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        self.exec_write: dict[int, str] = {}
        self.nodes: dict[int, dict] = {}   # accumulator id -> plan node
        stage_job: dict[int, int] = {}
        with open(paths[0], encoding="utf-8") as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    exec_id = props.get("spark.sql.execution.id")
                    jid = e["Job ID"]
                    self.jobs[jid] = {
                        "id": jid,
                        "start": e["Submission Time"] / 1000.0,
                        "end": e["Submission Time"] / 1000.0,
                        "group": props.get("spark.jobGroup.id"),
                        "exec": int(exec_id) if exec_id is not None else None,
                        "stage_ids": e["Stage IDs"],
                    }
                    for sid in e["Stage IDs"]:
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd":
                    self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    sid = info["Stage ID"]
                    st = self.stages.setdefault(sid, _new_stage(sid, stage_job.get(sid)))
                    st["submit"] = info["Submission Time"] / 1000.0
                    st["complete"] = info["Completion Time"] / 1000.0
                    # time tasks waited for a core after stage submission
                    st["wait_s"] = sum(max(0.0, t - st["submit"]) for t in st["launches"])
                    for rdd in info.get("RDD Info", []):
                        scope = rdd.get("Scope")
                        if scope:
                            name = json.loads(scope).get("name", "")
                            st["scopes"].add(name.split(" (")[0])
                    st["writes"] = any(s.startswith(("WriteFiles", "Execute InsertInto"))
                                       for s in st["scopes"])
                    for acc in info.get("Accumulables", []):
                        try:
                            st["accums"][int(acc["ID"])] = float(acc["Value"])
                        except (KeyError, TypeError, ValueError):
                            pass
                elif kind == "SparkListenerTaskEnd":
                    sid = e["Stage ID"]
                    st = self.stages.setdefault(sid, _new_stage(sid, stage_job.get(sid)))
                    _add_task(st, e)
                elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                        "SparkListenerSQLAdaptiveExecutionUpdate"):
                    ex = e["executionId"]
                    w = _WRITE_PATH.search(e.get("physicalPlanDescription") or "")
                    if w:
                        self.exec_write[ex] = w.group(1)
                    self._walk(e["sparkPlanInfo"])
        for j in self.jobs.values():
            j["write_path"] = self.exec_write.get(j["exec"])
        for sid, st in self.stages.items():
            if st["job"] is None:
                st["job"] = stage_job.get(sid)

    def _walk(self, node: dict) -> None:
        meta = node.get("metadata") or {}
        location = meta.get("Location", "")
        if "file:" in location:
            location = location.split("file:", 1)[1].split("]")[0].split(",")[0]
        else:
            location = None
        for metric in node.get("metrics", []):
            self.nodes[int(metric["accumulatorId"])] = {
                "node": node["nodeName"].split(" (")[0].strip(),
                "desc": node.get("simpleString", ""),
                "metric": metric["name"],
                "location": location,
            }
        for child in node.get("children", []):
            self._walk(child)

    def plan_metrics(self, stages: list[dict]) -> list[dict]:
        """Plan-node metric values summed over the given stages."""
        out = []
        totals: dict[int, float] = defaultdict(float)
        for s in stages:
            for acc_id, v in s["accums"].items():
                if acc_id in self.nodes:
                    totals[acc_id] += v
        for acc_id, v in totals.items():
            out.append({**self.nodes[acc_id], "value": v})
        return out


def _new_stage(sid: int, job: int | None) -> dict:
    return {"id": sid, "job": job, "submit": 0.0, "complete": 0.0, "scopes": set(),
            "writes": False, "accums": {}, "tasks": 0, "task_s": 0.0, "cpu_s": 0.0,
            "gc_s": 0.0, "wait_s": 0.0, "shuffle_read": 0, "shuffle_write": 0,
            "spill": 0, "failed": 0, "launches": []}


def _add_task(st: dict, e: dict) -> None:
    info = e.get("Task Info") or {}
    tm = e.get("Task Metrics") or {}
    st["tasks"] += 1
    if info.get("Failed"):
        st["failed"] += 1
    st["task_s"] += tm.get("Executor Run Time", 0) / 1000.0
    st["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
    st["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
    sr = tm.get("Shuffle Read Metrics") or {}
    st["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    st["shuffle_write"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    st["spill"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
    st["launches"].append(info.get("Launch Time", 0) / 1000.0)
