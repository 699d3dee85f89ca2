"""Outside-in span recorder for the traced run.

Spans are recorded around calls into the package's public functions by
replacing those functions, from this file, for the life of the run; no
file of the package changes. Each span keeps name, start, end, parent
and op id in memory; the run writes them out at exit. A span's name is
``<layer>.<function>``, where the layer is the package module it
wraps, so self times add up per module.

Only every other op of each kind is traced; the untraced ones give the
tracing overhead (traced minus untraced median wall). Spark execution
counts come from the driver's status stores around each traced op,
read outside the op's timed interval.
"""

from __future__ import annotations

import functools
import json
import os
import re
import statistics
import time
from collections import defaultdict

# A written data file below the maintenance policy's binpack cut is small.
from workloads import MIXED_SMALL_FILE as SMALL_FILE_BYTES

_UNIT_SCALE = {
    "ms": 1e-3, "s": 1.0, "min": 60.0, "h": 3600.0,
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
}
_METRIC_VALUE = re.compile(r"([0-9][0-9.,]*)\s*(ms|s|min|h|B|KiB|MiB|GiB|TiB)\b")


def _sql_metric_total(text: str) -> float:
    """Total from a formatted SQL metric value ('1.9 s' or 'total (min,
    med, max)\\n1.9 s (...)')."""
    m = _METRIC_VALUE.search(text.split("\n")[-1])
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT_SCALE[m.group(2)]


class Tracer:
    """Span recorder plus per-op counters. ``active`` is true only
    inside a traced op; wrappers pass straight through otherwise."""

    def __init__(self) -> None:
        self.spans: list[list] = []  # [name, start, end, parent, op_id]
        self.stack: list[int] = []
        self.active = False
        self.op_id = -1
        self.ops: list[dict] = []  # one record per traced op
        self.stash: dict = {}
        self.metadata_sizes: list[int] = []  # per traced metadata write

    # -- spans ---------------------------------------------------------
    def open(self, name: str) -> list:
        rec = [name, time.perf_counter(), None,
               self.stack[-1] if self.stack else None, self.op_id]
        self.stack.append(len(self.spans))
        self.spans.append(rec)
        return rec

    def close(self, rec: list) -> None:
        rec[2] = time.perf_counter()
        self.stack.pop()

    def span(self, name: str, fn, *args, **kwargs):
        """Run ``fn`` inside a span when tracing is active."""
        if not self.active:
            return fn(*args, **kwargs)
        rec = self.open(name)
        try:
            return fn(*args, **kwargs)
        finally:
            self.close(rec)

    def count(self, key: str, value: float = 1) -> None:
        if self.active:
            self.ops[-1]["counts"][key] += value

    # -- patching ------------------------------------------------------
    def wrap(self, owner, attr: str, name: str, on_result=None, on_error=None):
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not self.active:
                return orig(*args, **kwargs)
            rec = self.open(name)
            try:
                out = orig(*args, **kwargs)
            except Exception as exc:
                if on_error is not None:
                    on_error(self, exc)
                raise
            finally:
                self.close(rec)
            if on_result is not None:
                on_result(self, args, kwargs, out)
            return out

        setattr(owner, attr, wrapper)

    def install(self) -> None:
        """Wrap the public functions behind the per-layer metrics."""
        import py4j.java_gateway

        from bergloom_spark.lake import compaction, fileio, maintenance
        from bergloom_spark.lake import metadata as md
        from bergloom_spark.lake import skipping, table, validator
        from bergloom_spark.lake import writer as wr
        from bergloom_spark.lake.commit import RewriteFilesCommitManager
        from bergloom_spark.operators import dedup, mor

        def on_read(t, a, kw, out):
            t.count("metadata.reads")

        def on_write(t, a, kw, out):
            meta = a[0]
            path = md.version_path(meta.table_root, meta.version)
            size = os.path.getsize(path)
            t.count("metadata.writes")
            t.count("metadata.bytes_written", size)
            t.metadata_sizes.append(size)
            t.count("commit.attempts")

        def on_write_error(t, exc):
            t.count("commit.attempts")
            if isinstance(exc, md.CommitConflict):
                t.count("commit.conflicts")

        self.wrap(md, "read_current", "metadata.read_current", on_read)
        self.wrap(md, "write_version", "metadata.write_version", on_write,
                  on_write_error)

        def on_list(t, a, kw, out):
            t.count("fileio.list_calls")
            t.count("fileio.listed_entries", len(out))

        for cls in (fileio.LocalFileIO, fileio.HadoopFileIO):
            self.wrap(cls, "list_names", "fileio.list_names", on_list)

        self.wrap(RewriteFilesCommitManager, "rewrite_files", "commit.rewrite_files")
        self.wrap(table.LakeTable, "_commit_with_retry", "commit.commit_with_retry")

        for method in ("append", "delete_where", "delete_matching",
                       "merge_into", "read", "scan_data", "clone_to"):
            self.wrap(table.LakeTable, method, f"table.{method}")

        def on_group(t, a, kw, out):
            files = a[2] if len(a) > 2 else kw["files"]
            t.count("table.files_scanned", len(files))

        self.wrap(table.LakeTable, "_scan_file_group", "table.scan_file_group",
                  on_group)

        def on_prune(t, a, kw, out):
            t.count("skipping.files_considered", len(a[0]))
            t.count("skipping.files_pruned", len(a[0]) - len(out))

        self.wrap(skipping, "prune_entries", "skipping.prune_entries", on_prune)

        def on_pos(t, a, kw, out):
            t.count("mor.pos_delete_files", len(a[1].files(md.POS_DELETE)))

        def on_eq(t, a, kw, out):
            t.count("mor.eq_delete_groups", len(out))

        self.wrap(table.LakeTable, "_pos_delete_frame", "mor.pos_delete_frame", on_pos)
        self.wrap(table.LakeTable, "_eq_delete_groups", "mor.eq_delete_groups", on_eq)
        self.wrap(mor, "merge_on_read", "mor.merge_on_read")

        def on_files(t, a, kw, out):
            t.count("writer.files", len(out))
            t.count("writer.bytes", sum(e.file_size_bytes for e in out))
            t.count("writer.small_files", sum(
                1 for e in out
                if e.content == md.DATA and e.file_size_bytes < SMALL_FILE_BYTES))

        for fn in ("write_data_files", "write_data_files_presized",
                   "write_position_delete_files", "write_deletion_vector_files",
                   "write_equality_delete_files"):
            self.wrap(wr, fn, f"writer.{fn}", on_files)

        # validate_compaction is imported by name into lake.compaction.
        self.wrap(validator, "validate_compaction", "validator.validate_compaction")
        self.wrap(compaction, "validate_compaction", "validator.validate_compaction")

        def on_compact(t, a, kw, out):
            t.count("compaction.rewritten_bytes", out.stat.rewritten_bytes)
            t.count("compaction.added_files", out.stat.added_files_count)

        # BinpackCompaction inherits compact(), so this one wrapper covers
        # the maintenance binpack too.
        self.wrap(compaction.Compaction, "compact", "compaction.compact", on_compact)
        # The maintenance steps maintenance.py imported by name.
        for mod in (compaction, maintenance):
            self.wrap(mod, "rewrite_position_deletes",
                      "compaction.rewrite_position_deletes", on_compact)
            self.wrap(mod, "expire_snapshots", "compaction.expire_snapshots")
            self.wrap(mod, "remove_orphan_files", "compaction.remove_orphan_files")

        def on_maint(t, a, kw, out):
            t.count("maintenance.binpacked", int(out.binpacked))
            t.count("maintenance.deletes_rewritten", int(out.deletes_rewritten))
            t.count("maintenance.snapshots_expired", out.snapshots_expired)
            t.count("maintenance.orphans_removed", out.orphans_removed)

        self.wrap(maintenance, "run_maintenance", "maintenance.run_maintenance",
                  on_maint)

        def stash(key):
            def keep(t, a, kw, out):
                t.stash[key] = out
            return keep

        self.wrap(dedup, "minhash_verified_pairs", "dedup.minhash_verified_pairs",
                  stash("verified"))
        self.wrap(dedup, "minhash_lsh_pairs_from_sigs", "dedup.lsh_pairs",
                  stash("candidates"))
        self.wrap(dedup, "keep_best_per_cluster", "dedup.keep_best_per_cluster")
        self.wrap(dedup, "connected_components", "dedup.connected_components")

        send = py4j.java_gateway.GatewayClient.send_command

        @functools.wraps(send)
        def counting_send(client, *args, **kwargs):
            if self.active:
                self.ops[-1]["counts"]["py4j.calls"] += 1
            return send(client, *args, **kwargs)

        py4j.java_gateway.GatewayClient.send_command = counting_send

    # -- ops -----------------------------------------------------------
    def begin(self, kind: str, probe: "SparkProbe") -> None:
        self.op_id = len(self.ops)
        self.stash = {}
        self.ops.append({"kind": kind, "counts": defaultdict(float),
                         "probe": probe.before()})

    def start(self, t0: float) -> None:
        self.stack = [len(self.spans)]
        self.spans.append(["op", t0, None, None, self.op_id])
        self.ops[-1]["epoch0"] = time.time()
        self.active = True

    def finish(self, t1: float, probe: "SparkProbe") -> None:
        self.active = False
        root = self.spans[self.stack[0]]
        root[2] = t1
        self.stack = []
        op = self.ops[-1]
        op["epoch1"] = time.time()
        op["wall"] = t1 - root[1]
        op["exec"] = probe.after(op.pop("probe"), op["epoch0"], op["epoch1"])

    # -- results -------------------------------------------------------
    def self_times(self) -> dict[str, float]:
        """Total self time per layer over all traced ops."""
        child = defaultdict(float)
        for name, s, e, parent, _ in self.spans:
            if parent is not None and e is not None:
                child[parent] += e - s
        out = defaultdict(float)
        for i, (name, s, e, parent, _) in enumerate(self.spans):
            if e is not None:
                out[name.split(".")[0]] += (e - s) - child[i]
        return dict(out)

    def inclusive(self, layer: str) -> float:
        """Total time inside spans of ``layer``, counting a span nested
        in another span of the same layer once."""
        total = 0.0
        for name, s, e, parent, _ in self.spans:
            if name.split(".")[0] != layer or e is None:
                continue
            p = parent
            while p is not None and self.spans[p][0].split(".")[0] != layer:
                p = self.spans[p][3]
            if p is None:
                total += e - s
        return total

    def span_total(self, name: str) -> float:
        return sum(e - s for n, s, e, _, _ in self.spans if n == name and e)

    def nested_total(self, name: str, outer: str, inside: bool = True) -> float:
        """Time in ``name`` spans that are (or, with ``inside=False``,
        are not) nested in an ``outer`` span."""
        total = 0.0
        for n, s, e, parent, _ in self.spans:
            if n != name or e is None:
                continue
            p = parent
            while p is not None and self.spans[p][0] != outer:
                p = self.spans[p][3]
            if (p is not None) == inside:
                total += e - s
        return total

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "ops": self.ops}, fh, default=float)


class SparkProbe:
    """Spark-side deltas around one op, read from the driver's status
    stores: stage totals through ``plans.runtime_metrics``, plus job
    intervals, task counts, CPU and skew of the op's new jobs, and
    Python-worker metrics of its new SQL executions."""

    def __init__(self, spark) -> None:
        from bergloom_spark.plans.runtime_metrics import StageMetricsCapture

        self.spark = spark
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self._capture_cls = StageMetricsCapture
        self.last_job = max(self._job_ids(), default=-1)
        self.next_exec = self._first_free_execution(0)

    def _job_ids(self) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(None))

    def _first_free_execution(self, start: int) -> int:
        i = start
        while self.sql_store.execution(i).isDefined():
            i += 1
        return i

    @staticmethod
    def _registry() -> tuple[float, float]:
        """Compaction and commit seconds the package's own metrics
        registry has recorded so far."""
        from bergloom_spark.lake.metrics import GLOBAL_REGISTRY

        items = [m for _, m in GLOBAL_REGISTRY._items()]
        return (sum(m.compaction_duration.total for m in items),
                sum(m.compaction_commit_duration.total for m in items))

    def before(self) -> dict:
        # Jobs and executions of untraced work since the last traced op
        # belong to no op.
        self.last_job = max(self._job_ids(), default=self.last_job)
        self.next_exec = self._first_free_execution(self.next_exec)
        cap = self._capture_cls(self.spark)
        cap.__enter__()
        return {"cap": cap, "registry": self._registry()}

    def after(self, state: dict, epoch0: float, epoch1: float) -> dict:
        cap = state["cap"]
        cap.__exit__(None, None, None)
        reg = self._registry()
        registry = (reg[0] - state["registry"][0], reg[1] - state["registry"][1])
        stages = cap.metrics
        jobs = sorted(j for j in self._job_ids() if j > self.last_job)
        if jobs:
            self.last_job = jobs[-1]
        intervals, stage_ids = [], set()
        for j in jobs:
            data = self.store.job(j)
            sub, done = data.submissionTime(), data.completionTime()
            if sub.isDefined():
                t0 = sub.get().getTime() / 1000.0
                t1 = done.get().getTime() / 1000.0 if done.isDefined() else epoch1
                intervals.append((max(t0, epoch0), min(t1, epoch1)))
            it = data.stageIds().iterator()
            while it.hasNext():
                stage_ids.add(int(it.next()))
        tasks, cpu_ns, skews = 0, 0, []
        gw = self.sc._gateway
        quantiles = gw.new_array(gw.jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        for sid in sorted(stage_ids):
            try:
                st = self.store.lastStageAttempt(sid)
            except Exception:  # skipped stage: never ran
                continue
            n = int(st.numCompleteTasks())
            tasks += n
            cpu_ns += int(st.executorCpuTime())
            if n >= 2:
                summary = self.store.taskSummary(sid, st.attemptId(), quantiles)
                if summary.isDefined():
                    q = summary.get().executorRunTime()
                    med, mx = float(q.apply(0)), float(q.apply(1))
                    if med > 0:
                        skews.append(mx / med)
        covered = _union_length(intervals)
        py_s, py_bytes = self._python_metrics()
        return {
            "jobs": len(jobs),
            "stages": stages.get("n_stages", 0),
            "tasks": tasks,
            "cpu_s": cpu_ns / 1e9,
            "shuffle_bytes": stages.get("shuffle_write_bytes", 0),
            "spill_bytes": stages.get("memory_spill_bytes", 0)
            + stages.get("disk_spill_bytes", 0),
            "skews": skews,
            "job_s": covered,
            "python_s": py_s,
            "python_bytes": py_bytes,
            "registry": registry,
        }

    def _python_metrics(self) -> tuple[float, float]:
        seconds = nbytes = 0.0
        i = self.next_exec
        while True:
            opt = self.sql_store.execution(i)
            if not opt.isDefined():
                break
            wanted = {}
            it = opt.get().metrics().iterator()
            while it.hasNext():
                m = it.next()
                name = m.name()
                if "Python workers" in name:
                    wanted[m.accumulatorId()] = name
            if wanted:
                values = self.sql_store.executionMetrics(i)
                for acc, name in wanted.items():
                    v = values.get(acc)
                    if v is None:
                        continue
                    total = _sql_metric_total(str(v))
                    if name.startswith("time"):
                        seconds += total
                    else:
                        nbytes += total
            i += 1
        self.next_exec = i
        return seconds, nbytes


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def layer_metrics(tracer: Tracer, walls: dict[str, list[float]]) -> dict:
    """Per-layer metrics over the traced ops (times and counts per op,
    ratios over all ops); ``walls`` maps op kind to the untraced op
    walls, for the tracing overhead."""
    ops = tracer.ops
    n = max(1, len(ops))
    counts = defaultdict(float)
    ex = defaultdict(float)
    skews = []
    for op in ops:
        for k, v in op["counts"].items():
            counts[k] += v
        e = op["exec"]
        for k in ("jobs", "stages", "tasks", "cpu_s", "shuffle_bytes",
                  "spill_bytes", "python_s", "python_bytes"):
            ex[k] += e[k]
        ex["driver_s"] += max(0.0, op["wall"] - e["job_s"])
        skews.extend(e["skews"])
    total_wall = sum(op["wall"] for op in ops)
    selfs = tracer.self_times()
    named = sum(v for k, v in selfs.items() if k != "op")

    overheads = []
    for kind in {op["kind"] for op in ops}:
        traced = [op["wall"] for op in ops if op["kind"] == kind]
        plain = walls.get(kind, [])
        if traced and plain:
            overheads.append(statistics.median(traced) - statistics.median(plain))

    considered = counts["skipping.files_considered"]
    writes = counts["metadata.writes"]
    cands = counts["dedup.candidate_pairs"]
    out = {
        "metadata.read_s": tracer.span_total("metadata.read_current") / n,
        "metadata.reads": counts["metadata.reads"] / n,
        "metadata.write_s": tracer.span_total("metadata.write_version") / n,
        "metadata.bytes_written": counts["metadata.bytes_written"] / writes
        if writes else 0.0,
        "fileio.list_calls": counts["fileio.list_calls"] / n,
        "fileio.listed_entries": counts["fileio.listed_entries"] / n,
        "commit.s": tracer.inclusive("commit") / n,
        "commit.attempts": counts["commit.attempts"] / n,
        "commit.conflicts": counts["commit.conflicts"] / n,
        "table.plan_s": (tracer.span_total("table.read") + tracer.nested_total(
            "table.scan_data", "table.read", inside=False)) / n,
        "table.files_scanned": counts["table.files_scanned"] / n,
        "skipping.files_pruned_ratio": counts["skipping.files_pruned"] / considered
        if considered else 0.0,
        "mor.build_s": tracer.inclusive("mor") / n,
        "mor.pos_delete_files": counts["mor.pos_delete_files"] / n,
        "mor.eq_delete_groups": counts["mor.eq_delete_groups"] / n,
        "writer.s": tracer.inclusive("writer") / n,
        "writer.files": counts["writer.files"] / n,
        "writer.bytes": counts["writer.bytes"] / n,
        "writer.mean_file_bytes": counts["writer.bytes"] / counts["writer.files"]
        if counts["writer.files"] else 0.0,
        "writer.small_files": counts["writer.small_files"] / n,
        "validator.s": tracer.inclusive("validator") / n,
        "compaction.s": tracer.inclusive("compaction") / n,
        "compaction.rewritten_bytes": counts["compaction.rewritten_bytes"] / n,
        "compaction.added_files": counts["compaction.added_files"] / n,
        "maintenance.s": tracer.inclusive("maintenance") / n,
        "maintenance.binpacked": counts["maintenance.binpacked"] / n,
        "maintenance.deletes_rewritten": counts["maintenance.deletes_rewritten"] / n,
        "maintenance.snapshots_expired": counts["maintenance.snapshots_expired"] / n,
        "maintenance.orphans_removed": counts["maintenance.orphans_removed"] / n,
        "dedup.s": tracer.inclusive("dedup") / n,
        "dedup.candidate_pairs": cands / n,
        "dedup.verified_pairs": counts["dedup.verified_pairs"] / n,
        "dedup.verify_yield": counts["dedup.verified_pairs"] / cands if cands else 0.0,
        "exec.jobs": ex["jobs"] / n,
        "exec.stages": ex["stages"] / n,
        "exec.tasks": ex["tasks"] / n,
        "exec.cpu_s": ex["cpu_s"] / n,
        "exec.shuffle_bytes": ex["shuffle_bytes"] / n,
        "exec.spill_bytes": ex["spill_bytes"] / n,
        "exec.task_skew": statistics.mean(skews) if skews else 1.0,
        "exec.driver_s": ex["driver_s"] / n,
        "exec.python_s": ex["python_s"] / n,
        "exec.python_bytes": ex["python_bytes"] / n,
        "py4j.calls": counts["py4j.calls"] / n,
        "trace.coverage": named / total_wall if total_wall else 0.0,
        "trace.overhead_s": statistics.median(overheads) if overheads else 0.0,
    }
    return out

