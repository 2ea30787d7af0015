"""Spans around the package's public functions, and per-layer counters
folded from Spark's event log.

The wrappers are installed from here, at run time, on the traced run
only; the package's own files are untouched.  Each span records name,
start, end, parent and op id.  While a span is open its name and op id
are the Spark job group, so every job, stage and SQL execution it
submits can be attributed to that layer when the event log is folded.
Spans stay in memory until :meth:`Tracer.dump`.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import time
from collections import defaultdict

# (layer) -> generic counters reported for every layer.
LAYERS = ["manifest", "planner", "writer", "deletes", "orchestrator", "dedup", "minhash", "read"]
GENERIC = ["jobs", "tasks", "executor_run_ms", "executor_cpu_ms", "gc_ms",
           "shuffle_read_bytes", "shuffle_write_bytes"]
JOINS = {"BroadcastHashJoin": "broadcast", "ShuffledHashJoin": "shuffled_hash",
         "SortMergeJoin": "sort_merge"}
CORPORA = ["uniform", "skew"]


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.op: int | None = None
        self.last_op: int | None = None
        self.measured_ops: set[int] = set()
        self._patched: list[tuple[object, str, object]] = []
        # op id -> the corpus a minhash op ran on
        self.corpus_of: dict[int, str] = {}
        self.counts: dict[str, list[float]] = {}
        # Op timings of the traced iterations, kept apart from the
        # untraced ones.
        self.samples: dict[str, list[float]] = defaultdict(list)
        # Candidate frames checkpointed by the current minhash op.
        self.candidates: list = []

    # -- spans ---------------------------------------------------------

    def _set_group(self) -> None:
        top = self.stack[-1]["name"] if self.stack else None
        group = f"{top}#{self.op}" if top is not None and self.op is not None else None
        self.sc.setLocalProperty("spark.jobGroup.id", group)
        self.sc.setLocalProperty("spark.job.description", group)

    def open(self, name: str) -> dict:
        span = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self.stack[-1]["id"] if self.stack else None,
            "op": self.op,
            "id": len(self.spans),
        }
        self.spans.append(span)
        self.stack.append(span)
        self._set_group()
        return span

    def close(self, span: dict) -> None:
        # Spans close in stack order; a stage span left open by a
        # wrapper closes with its parent at the latest.
        while self.stack:
            top = self.stack.pop()
            top["end"] = time.perf_counter()
            if top is span:
                break
        self._set_group()

    def begin_op(self, op: int, measured: bool) -> None:
        self.op = self.last_op = op
        if measured:
            self.measured_ops.add(op)

    def end_op(self) -> None:
        """Spans and jobs between ops belong to no op and are not
        reported."""
        self.op = None
        self._set_group()

    def count(self, name: str, value: float) -> None:
        """A count taken right after the last op, kept if it was measured."""
        if self.last_op in self.measured_ops:
            self.counts.setdefault(name, []).append(float(value))

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a call inside a span."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def spanned(*args, **kwargs):
            span = tracer.open(name)
            try:
                return orig(*args, **kwargs)
            finally:
                tracer.close(span)

        setattr(owner, attr, spanned)
        self._patched.append((owner, attr, orig))

    def unwrap(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)

    # -- span statistics ---------------------------------------------

    def _measured(self, name: str) -> list[dict]:
        return [s for s in self.spans
                if s["name"] == name and s["op"] in self.measured_ops and s["end"]]

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self._measured(name)]

    def self_times(self, name: str, minus: tuple[str, ...]) -> list[float]:
        """Span duration minus the time its direct children named in
        ``minus`` cover."""
        out = []
        for s in self._measured(name):
            kids = [c for c in self.spans
                    if c["parent"] == s["id"] and c["name"] in minus and c["end"]]
            out.append(s["end"] - s["start"] - sum(c["end"] - c["start"] for c in kids))
        return out


def install(tracer: Tracer) -> None:
    """Span every public entry point of the layers the benchmark drives."""
    import ic_spark.compaction.deletes as deletes
    import ic_spark.compaction.orchestrator as orch
    import ic_spark.compaction.planner as planner
    import ic_spark.compaction.writer as writer
    import ic_spark.plans.checkpoint as checkpoint
    import ic_spark.queries.llm as llm
    from ic_spark.compaction.manifest import ManifestTable

    for attr in ("scan_tasks", "append_snapshot", "commit_rewrite", "expire_snapshots"):
        tracer.wrap(ManifestTable, attr, f"manifest.{attr}")
    tracer.wrap(orch.Compaction, "full_compact", "orchestrator.full_compact")
    tracer.wrap(orch.Compaction, "expire_snapshot", "orchestrator.expire_snapshot")
    # planner.build_merge_on_read is bound by name in writer.py and
    # looked up at call time by deletes.read_table.
    tracer.wrap(planner, "build_merge_on_read", "planner.build_merge_on_read")
    tracer.wrap(writer, "build_merge_on_read", "planner.build_merge_on_read")
    tracer.wrap(orch, "rewrite_files", "writer.rewrite_files")
    for attr in ("merge_upsert", "write_position_deletes", "write_equality_deletes"):
        tracer.wrap(deletes, attr, f"deletes.{attr}")
    tracer.wrap(deletes, "read_table", "read.plan")

    # The minhash pipeline has three stages that run eagerly at its two
    # checkpoints and at the final action: a stage span opens when the
    # stage's operator is called and closes when the checkpoint that
    # materializes it returns.  Verify is the rest of the pipeline.
    def stage_opener(stage: str, op_attr: str):
        orig = getattr(llm, op_attr)

        @functools.wraps(orig)
        def call(*args, **kwargs):
            tracer.open(f"minhash.{stage}")
            span = tracer.open(f"dedup.{op_attr}")
            try:
                return orig(*args, **kwargs)
            finally:
                tracer.close(span)

        setattr(llm, op_attr, call)
        tracer._patched.append((llm, op_attr, orig))

    stage_opener("signatures", "minhash_signatures")
    stage_opener("candidates", "minhash_lsh_candidates")
    orig_ckpt = checkpoint.stable_checkpoint

    @functools.wraps(orig_ckpt)
    def ckpt(df, *args, **kwargs):
        out = orig_ckpt(df, *args, **kwargs)
        top = tracer.stack[-1] if tracer.stack else None
        if top is not None and top["name"] == "minhash.signatures":
            tracer.close(top)
        elif top is not None and top["name"] == "minhash.candidates":
            tracer.close(top)
            tracer.candidates.append(out)
            tracer.open("minhash.verify")
        return out

    checkpoint.stable_checkpoint = ckpt
    tracer._patched.append((checkpoint, "stable_checkpoint", orig_ckpt))


# ------------------------------------------------------------- event log


def _acc(stage_info: dict) -> dict[str, float]:
    out: dict[str, float] = {}
    for a in stage_info.get("Accumulables", []):
        name, v = a.get("Name"), a.get("Value")
        if name is None or v is None:
            continue
        try:
            out[name] = out.get(name, 0.0) + float(v)
        except (TypeError, ValueError):
            continue
    return out


def _walk(plan: dict):
    yield plan
    for child in plan.get("children", []):
        yield from _walk(child)


def fold_event_log(log_dir: str) -> dict:
    """Per job group: job count, stage accumulables, plan join nodes.

    Returns ``{group: {"jobs": n, "acc": {...}, "scan_acc": {...},
    "joins": {...}}}`` where ``group`` is ``"<span name>#<op>"``;
    ``scan_acc`` sums only stages that read table files.
    """
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if not f.endswith(".inprogress")]
    if not files:
        files = glob.glob(os.path.join(log_dir, "*"))
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    groups: dict[str, dict] = {}
    final_plan: dict[int, dict] = {}

    def g(name: str) -> dict:
        return groups.setdefault(
            name, {"jobs": 0, "acc": {}, "scan_acc": {},
                   "joins": {v: 0 for v in JOINS.values()}})

    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    group = props.get("spark.jobGroup.id")
                    if not group:
                        continue
                    g(group)["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                    eid = props.get("spark.sql.execution.id")
                    if eid is not None:
                        exec_group.setdefault(int(eid), group)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    group = stage_group.get(info["Stage ID"])
                    if group is None:
                        continue
                    acc = _acc(info)
                    acc["tasks"] = float(info.get("Number of Tasks", 0))
                    rec = g(group)
                    for k, v in acc.items():
                        rec["acc"][k] = rec["acc"].get(k, 0.0) + v
                    if any(r.get("Name") == "FileScanRDD" for r in info.get("RDD Info", [])):
                        for k, v in acc.items():
                            rec["scan_acc"][k] = rec["scan_acc"].get(k, 0.0) + v
                elif kind in (
                    "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
                    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
                ):
                    final_plan[int(ev["executionId"])] = ev["sparkPlanInfo"]
    for eid, plan in final_plan.items():
        group = exec_group.get(eid)
        if group is None:
            continue
        for node in _walk(plan):
            strat = JOINS.get(node.get("nodeName"))
            if strat and "LeftAnti" in node.get("simpleString", ""):
                g(group)["joins"][strat] += 1
    return groups


# ------------------------------------------------------------- metrics


def _med(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def layer_metrics(tracer: Tracer, groups: dict) -> dict[str, float]:
    """Every per-layer metric, with 0 where the workload never enters
    that layer.  Times are medians per call; counters are per measured
    op (run totals divided by the op count)."""
    measured = tracer.measured_ops
    per_layer: dict[str, dict] = {
        lay: {"jobs": 0.0, "acc": {}, "scan_acc": {}, "joins": {v: 0 for v in JOINS.values()}}
        for lay in LAYERS
    }
    for group, rec in groups.items():
        name, _, op = group.rpartition("#")
        if not op.isdigit() or int(op) not in measured:
            continue
        lay = per_layer.get(name.split(".")[0])
        if lay is None:
            continue
        lay["jobs"] += rec["jobs"]
        for key in ("acc", "scan_acc"):
            for k, v in rec[key].items():
                lay[key][k] = lay[key].get(k, 0.0) + v
        for k, v in rec["joins"].items():
            lay["joins"][k] += v
    ops = max(1, len(measured))
    m: dict[str, float] = {}

    def acc(lay: str, *names: str, key: str = "acc") -> float:
        return sum(per_layer[lay][key].get(n, 0.0) for n in names)

    for lay in LAYERS:
        m[f"{lay}.jobs"] = per_layer[lay]["jobs"] / ops
        m[f"{lay}.tasks"] = acc(lay, "tasks") / ops
        m[f"{lay}.executor_run_ms"] = acc(lay, "internal.metrics.executorRunTime") / ops
        m[f"{lay}.executor_cpu_ms"] = acc(lay, "internal.metrics.executorCpuTime") / 1e6 / ops
        m[f"{lay}.gc_ms"] = acc(lay, "internal.metrics.jvmGCTime") / ops
        m[f"{lay}.shuffle_read_bytes"] = acc(
            lay, "internal.metrics.shuffle.read.remoteBytesRead",
            "internal.metrics.shuffle.read.localBytesRead") / ops
        m[f"{lay}.shuffle_write_bytes"] = acc(
            lay, "internal.metrics.shuffle.write.bytesWritten") / ops

    # manifest
    m["manifest.scan_tasks_s"] = _med(tracer.durations("manifest.scan_tasks"))
    m["manifest.commit_s"] = _med(
        tracer.durations("manifest.append_snapshot") + tracer.durations("manifest.commit_rewrite"))
    m["manifest.json_bytes"] = _med(tracer.counts.get("manifest.json_bytes", []))
    m["manifest.live_delete_files"] = _med(tracer.counts.get("manifest.live_delete_files", []))
    # planner: plan build in the Spark JVM; scan and anti-join counts; the
    # executor time of the stages that read table files; join choices.
    m["planner.build_s"] = _med(tracer.durations("planner.build_merge_on_read"))
    for k in ("scan_rows", "delete_rows", "rows_out"):
        m[f"planner.{k}"] = _med(tracer.counts.get(f"planner.{k}", []))
    m["planner.keep_ratio"] = (m["planner.rows_out"] / m["planner.scan_rows"]
                               if m["planner.scan_rows"] else 0.0)
    m["planner.exec_ms"] = sum(
        acc(lay, "internal.metrics.executorRunTime", key="scan_acc")
        for lay in ("writer", "read", "planner")) / ops
    for strat in JOINS.values():
        m[f"planner.join_strategy.{strat}"] = sum(
            per_layer[lay]["joins"][strat] for lay in LAYERS) / ops
    # writer
    m["writer.rewrite_s"] = _med(
        tracer.self_times("writer.rewrite_files", ("planner.build_merge_on_read",)))
    m["writer.files_out"] = _med(tracer.counts.get("writer.files_out", []))
    m["writer.bytes_out"] = _med(tracer.counts.get("writer.bytes_out", []))
    m["writer.spill_bytes"] = acc(
        "writer", "internal.metrics.memoryBytesSpilled", "internal.metrics.diskBytesSpilled") / ops
    # deletes: each op minus its manifest commit
    m["deletes.upsert_self_s"] = _med(
        tracer.self_times("deletes.merge_upsert", ("manifest.append_snapshot",)))
    m["deletes.delete_self_s"] = _med(
        tracer.self_times("deletes.write_position_deletes", ("manifest.append_snapshot",))
        + tracer.self_times("deletes.write_equality_deletes", ("manifest.append_snapshot",)))
    # read: lazy plan (read_table) and the action that runs it
    m["read.plan_s"] = _med(tracer.durations("read.plan"))
    m["read.exec_s"] = _med(tracer.durations("read.exec"))
    # minhash stages, per corpus
    for corpus in CORPORA:
        for stage in ("signatures", "candidates", "verify"):
            m[f"minhash.{stage}_s.{corpus}"] = _med(
                tracer.counts.get(f"minhash.{stage}_s.{corpus}", []))
    for corpus in CORPORA:
        cand = _med(tracer.counts.get(f"minhash.candidate_pairs.{corpus}", []))
        ver = _med(tracer.counts.get(f"minhash.verified_pairs.{corpus}", []))
        m[f"minhash.candidate_pairs.{corpus}"] = cand
        m[f"minhash.verified_pairs.{corpus}"] = ver
        m[f"minhash.verify_yield.{corpus}"] = ver / cand if cand else 0.0
        # Shuffle written while the verify span was open, per op on
        # this corpus.
        corpus_ops = [op for op in measured if tracer.corpus_of.get(op) == corpus]
        m[f"minhash.verify_shuffle_bytes.{corpus}"] = sum(
            groups.get(f"minhash.verify#{op}", {}).get("acc", {}).get(
                "internal.metrics.shuffle.write.bytesWritten", 0.0)
            for op in corpus_ops) / max(1, len(corpus_ops))
    m["minhash.python_bytes"] = sum(
        acc(lay, "data sent to Python workers", "data returned from Python workers")
        for lay in ("minhash", "dedup")) / ops
    return m


def units() -> dict[str, str]:
    """Unit of every per-layer metric, by its name."""
    names = [f"{lay}.{g}" for lay in LAYERS for g in GENERIC] + [
        "manifest.scan_tasks_s", "manifest.commit_s", "manifest.json_bytes",
        "manifest.live_delete_files", "planner.build_s", "planner.scan_rows",
        "planner.delete_rows", "planner.rows_out", "planner.keep_ratio", "planner.exec_ms",
        *[f"planner.join_strategy.{s}" for s in JOINS.values()],
        "writer.rewrite_s", "writer.files_out", "writer.bytes_out", "writer.spill_bytes",
        "deletes.upsert_self_s", "deletes.delete_self_s", "read.plan_s", "read.exec_s",
        *[f"minhash.{st}.{c}" for c in CORPORA for st in (
            "signatures_s", "candidates_s", "verify_s", "candidate_pairs", "verified_pairs",
            "verify_yield", "verify_shuffle_bytes")],
        "minhash.python_bytes", "trace.op_s", "trace.overhead_ratio",
    ]

    def unit(n: str) -> str:
        n = n.removesuffix(".uniform").removesuffix(".skew")
        if n.endswith("_s"):
            return "s"
        if n.endswith("_ms"):
            return "ms"
        if "bytes" in n:
            return "bytes"
        if n.endswith(("_ratio", "_yield")):
            return "ratio"
        return "count"

    return {n: unit(n) for n in names}
