"""The two lake-operations workloads.

Each is one client in a closed loop: the next operation starts when the
previous one has returned. Inputs are generated from the seed and
staged as parquet before an operation's timer starts; every operation's
result is checked against the DuckDB oracle after its timer stops.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import traceback
from collections import defaultdict

import numpy as np
import pyarrow.parquet as pq

import gen
import oracle

# lake_mixed: a partitioned table under a fixed op mix.
MIXED_BASE_ROWS = 30_000
MIXED_APPEND_ROWS = 2_000
MIXED_MERGE_MATCHED = 150
MIXED_MERGE_NEW = 50
MIXED_DELETE_SPAN = 1_000
# One round: a validated full compaction folds the previous round's
# debt, DML and reads add new debt, maintenance closes the round. The
# order is fixed and only the ops' keys, predicates and rows come from
# the seed: with a seeded order, what maintenance finds to do (and so
# its cost) would depend on the seed more than on the code.
MIXED_ROUND = ["compact", "append", "point", "delete", "full", "append",
               "merge", "point", "full", "maintain"]
MIXED_RETAIN = 12
MIXED_SMALL_FILE = 512 * 1024
MIXED_TARGET_FILE = 4 * 1024 * 1024
# write_amp and space_amp are taken after this many rounds (warm-up
# included), so they do not depend on how fast a run goes.
MIXED_AMP_ROUNDS = 2

# curate: docs corpus with planted duplicates.
CURATE_DOCS = 1_000
CURATE_EXACT_SHARE = 0.08
CURATE_NEAR_SHARE = 0.12
CURATE_TAU = 0.7
# The pass after the cold one is still ~10% slower than later ones.
CURATE_WARMUP = 2


def tree_bytes(root: str) -> int:
    total = 0
    for d, _, files in os.walk(root):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def gmean_of_medians(walls: dict[str, list[float]], kinds) -> float:
    """Geometric mean over op kinds of each kind's median latency."""
    meds = [median(walls[k]) for k in kinds if walls[k]]
    return statistics.geometric_mean(meds) if meds else 0.0


def tail(xs: list[float]) -> tuple[str, float]:
    """The highest percentile with at least ten samples beyond it, as
    (label, value); the median when fewer than 20 samples exist."""
    n = len(xs)
    if n < 20:
        return "p50", median(xs)
    q = 1.0 - 10.0 / n
    s = sorted(xs)
    return f"p{100 * q:.4g}", s[min(n - 1, int(q * n))]


class Ctx:
    """One run: session, scratch root, counters and samples."""

    def __init__(self, spark, work: str, seed: int, seconds: float, tracer, probe):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.probe = probe
        self.attempted = 0
        self.failed = 0
        self.walls: dict[str, list[float]] = defaultdict(list)
        self.untraced: dict[str, list[float]] = defaultdict(list)
        self.report: dict[str, tuple[float, str, int]] = {}
        # workload-specific metrics, printed but not gated
        self.extra: dict[str, tuple[float, str, int]] = {}
        self._n: dict[str, int] = defaultdict(int)
        self._staged = 0

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def stage(self, table) -> str:
        """Write a generated arrow table as parquet; return its path."""
        self._staged += 1
        path = self.path("inputs", f"in{self._staged:05d}.parquet")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(table, path)
        return path

    def op(self, kind: str, timed: bool = True) -> "Op":
        traced = False
        if timed and self.tracer is not None:
            traced = self._n[kind] % 2 == 1
            self._n[kind] += 1
        return Op(self, kind, timed, traced)

    def action(self, fn, *args):
        """A Spark action the benchmark itself issues."""
        if self.tracer is None:
            return fn(*args)
        return self.tracer.span("exec.action", fn, *args)

    def read_input(self, path: str):
        if self.tracer is None:
            return self.spark.read.parquet(path)
        return self.tracer.span("spark.read", self.spark.read.parquet, path)

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.failed += 1
            print(f"oracle mismatch: {what}", file=sys.stderr, flush=True)

    def metric(self, name: str, value: float, unit: str, n: int) -> None:
        self.report[name] = (value, unit, n)


class Op:
    """Times one operation; a traced op also records spans and Spark
    deltas. An exception inside counts as a failed op and is raised."""

    def __init__(self, ctx: Ctx, kind: str, timed: bool, traced: bool):
        self.ctx, self.kind, self.timed, self.traced = ctx, kind, timed, traced
        self.wall = 0.0

    def __enter__(self) -> "Op":
        t = self.ctx.tracer
        if self.traced:
            t.begin(self.kind, self.ctx.probe)
        self.t0 = time.perf_counter()
        if self.traced:
            t.start(self.t0)
        return self

    def __exit__(self, exc_type, exc, tb) -> bool:
        t1 = time.perf_counter()
        self.wall = t1 - self.t0
        if self.traced:
            self.ctx.tracer.finish(t1, self.ctx.probe)
        self.ctx.attempted += 1
        if exc_type is not None:
            self.ctx.failed += 1
            traceback.print_exception(exc_type, exc, tb, file=sys.stderr)
            return False
        if self.timed:
            self.ctx.walls[self.kind].append(self.wall)
            if not self.traced:
                self.ctx.untraced[self.kind].append(self.wall)
        return False


def _deadline(ctx: Ctx) -> float:
    return time.perf_counter() + ctx.seconds


# ---------------------------------------------------------------------------
# lake_mixed
# ---------------------------------------------------------------------------
def lake_mixed(ctx: Ctx) -> None:
    """Rounds of a validated full compaction, appends, point and full
    reads, a delete and a merge on a partitioned table, each round
    closed by maintenance."""
    from pyspark.sql import functions as F

    from bergloom_spark.config import CompactionConfig
    from bergloom_spark.lake.compaction import Compaction
    from bergloom_spark.lake.maintenance import MaintenancePolicy, run_maintenance
    from bergloom_spark.lake.table import LakeTable

    t_setup = time.perf_counter()
    rng = np.random.default_rng(ctx.seed)
    base = ctx.stage(gen.lineitem(rng, gen.key_range(0, MIXED_BASE_ROWS)))
    next_key = MIXED_BASE_ROWS
    user_bytes = os.path.getsize(base)
    mirror = oracle.LakeMirror(base)
    root = ctx.path("mixed")
    table = LakeTable.create(
        ctx.spark, root, ctx.spark.read.parquet(base).schema,
        partition_spec=["l_returnflag"],
    )
    table.append(ctx.spark.read.parquet(base))
    policy = MaintenancePolicy(
        small_file_threshold=MIXED_SMALL_FILE,
        min_small_files=4,
        max_delete_files=0,
        expire_keep_last=MIXED_RETAIN,
        orphan_older_than_s=0.0,
        compaction=CompactionConfig(target_file_size=MIXED_TARGET_FILE),
    )
    full_compaction = CompactionConfig(target_file_size=MIXED_TARGET_FILE,
                                       enable_validate_compaction=True)
    compact_rows: list[float] = []
    written: dict[str, int] = {}

    def note_writes() -> None:
        for d, _, files in os.walk(root):
            for f in files:
                p = os.path.join(d, f)
                if p not in written:
                    written[p] = os.path.getsize(p)

    note_writes()
    amps: dict[str, float] = {}

    def run_op(kind: str, timed: bool) -> None:
        nonlocal next_key, user_bytes
        if kind == "append":
            path = ctx.stage(gen.lineitem(rng, gen.key_range(next_key, MIXED_APPEND_ROWS)))
            next_key += MIXED_APPEND_ROWS
            user_bytes += os.path.getsize(path)
            with ctx.op(kind, timed):
                table.append(ctx.read_input(path))
            mirror.append(path)
        elif kind == "point":
            key = int(rng.integers(0, next_key))
            with ctx.op(kind, timed):
                df = table.read(filters=[("row_key", "=", key)])
                rows = sorted(tuple(r) for r in ctx.action(df.collect))
            ctx.check(rows == mirror.point(key), f"point read of row_key {key}")
        elif kind == "delete":
            lo = int(rng.integers(0, next_key - MIXED_DELETE_SPAN))
            pred = (f"row_key >= {lo} AND row_key < {lo + MIXED_DELETE_SPAN}"
                    " AND l_quantity <= 12")
            with ctx.op(kind, timed):
                table.delete_where(F.expr(pred))
            mirror.delete(pred)
        elif kind == "merge":
            old = rng.choice(next_key, MIXED_MERGE_MATCHED, replace=False)
            keys = np.concatenate([np.sort(old), gen.key_range(next_key, MIXED_MERGE_NEW)])
            next_key += MIXED_MERGE_NEW
            path = ctx.stage(gen.lineitem(rng, keys))
            user_bytes += os.path.getsize(path)
            update = {c: f"s.{c}" for c in oracle.MERGE_UPDATE_COLS}
            with ctx.op(kind, timed):
                table.merge_into(ctx.read_input(path), ["row_key"],
                                 when_matched_update=update)
            mirror.merge(path)
        elif kind == "full":
            with ctx.op(kind, timed):
                got = ctx.action(oracle.spark_checksum, table.read())
            ctx.check(got == mirror.checksum(), "full read checksum")
        elif kind == "compact":
            rows = sum(e.record_count for e in table.meta.current_snapshot().files("data"))
            with ctx.op(kind, timed) as op:
                Compaction(table, full_compaction).compact()
            if timed:
                compact_rows.append(rows / op.wall)
            ctx.check(oracle.spark_checksum(table.read()) == mirror.checksum(),
                      "checksum after compaction")
        else:
            with ctx.op(kind, timed):
                run_maintenance(table, policy)
        note_writes()

    def run_round(r: int, timed: bool) -> None:
        for kind in MIXED_ROUND:
            run_op(kind, timed)
        if r + 1 == MIXED_AMP_ROUNDS:
            live = table.meta.current_snapshot().files("data")
            amps["write"] = sum(written.values()) / user_bytes
            amps["space"] = tree_bytes(root) / sum(e.file_size_bytes for e in live)

    run_round(0, timed=False)
    setup_s = time.perf_counter() - t_setup
    end, r = _deadline(ctx), 1
    while time.perf_counter() < end or r < MIXED_AMP_ROUNDS:
        run_round(r, timed=True)
        r += 1

    pooled = [w for k in set(MIXED_ROUND) for w in ctx.walls[k]]
    ctx.metric("setup_s", setup_s, "s", 1)
    ctx.metric("throughput_per_s", len(pooled) / sum(pooled), "1/s", len(pooled))
    ctx.metric("op_p50_gmean_s", gmean_of_medians(ctx.walls, set(MIXED_ROUND)), "s",
               len(pooled))
    ctx.metric("read_p50_s", median(ctx.walls["full"]), "s", len(ctx.walls["full"]))
    ctx.metric("write_amp", amps["write"], "ratio", 1)
    ctx.metric("space_amp", amps["space"], "ratio", 1)
    dml = [w for k in ("append", "delete", "merge") for w in ctx.walls[k]]
    label, value = tail(dml)
    ctx.extra = {
        "compact_rows_per_s": (median(compact_rows), "rows/s", len(compact_rows)),
        "read_full_p50_s": (median(ctx.walls["full"]), "s", len(ctx.walls["full"])),
        "read_point_p50_s": (median(ctx.walls["point"]), "s", len(ctx.walls["point"])),
        "append_p50_s": (median(ctx.walls["append"]), "s", len(ctx.walls["append"])),
        "delete_p50_s": (median(ctx.walls["delete"]), "s", len(ctx.walls["delete"])),
        "merge_p50_s": (median(ctx.walls["merge"]), "s", len(ctx.walls["merge"])),
        "maintain_p50_s": (median(ctx.walls["maintain"]), "s",
                           len(ctx.walls["maintain"])),
        f"dml_tail_s ({label})": (value, "s", len(dml)),
    }


# ---------------------------------------------------------------------------
# curate
# ---------------------------------------------------------------------------
def curate(ctx: Ctx) -> None:
    """Near-dup curation of a clone of the docs table: verified MinHash
    pairs, keep the best of each cluster, delete the rest as deletion
    vectors, read back."""
    from bergloom_spark.lake.table import LakeTable
    from bergloom_spark.operators import dedup

    t_setup = time.perf_counter()
    rng = np.random.default_rng(ctx.seed)
    docs, planted = gen.documents(
        rng, CURATE_DOCS, CURATE_EXACT_SHARE, CURATE_NEAR_SHARE, CURATE_TAU + 0.02
    )
    path = ctx.stage(docs)
    ids = docs.column("doc_id").to_pylist()
    shingles = {i: gen.shingle_set(t) for i, t in zip(ids, docs.column("text").to_pylist())}
    check = oracle.DedupOracle(shingles, planted, CURATE_TAU)
    root = ctx.path("docs")
    table = LakeTable.create(ctx.spark, root, ctx.spark.read.parquet(path).schema)
    table.append(ctx.spark.read.parquet(path))
    user_bytes = os.path.getsize(path)
    fixture_bytes = tree_bytes(root)
    all_ids = set(ids)
    recalls: list[float] = []
    iterations: list[float] = []
    amps: dict[str, list[float]] = defaultdict(list)

    def iteration(i: int, timed: bool) -> None:
        clone = table.clone_to(ctx.path(f"curate{i}"))
        ctx.spark.catalog.clearCache()
        with ctx.op("curate", timed) as cur:
            frame = clone.read()
            pairs = dedup.minhash_verified_pairs(frame, "text", "doc_id",
                                                 threshold=CURATE_TAU)
            keep = dedup.keep_best_per_cluster(frame.select("doc_id", "score"),
                                               pairs, "score")
            losers = frame.select("doc_id").join(keep.select("doc_id"), "doc_id",
                                                 "left_anti")
            clone.delete_matching(losers, ["doc_id"], as_vectors=True)
        if cur.traced:
            # Pair counts cost extra jobs, so they run after the op.
            counts = ctx.tracer.ops[-1]["counts"]
            counts["dedup.candidate_pairs"] += ctx.tracer.stash["candidates"].count()
            counts["dedup.verified_pairs"] += ctx.tracer.stash["verified"].count()
        with ctx.op("read", timed) as read:
            remaining = [r[0] for r in ctx.action(clone.read().select("doc_id").collect)]
        if timed:
            iterations.append(cur.wall + read.wall)
        removed = all_ids - set(remaining)
        ctx.check(len(remaining) == len(set(remaining)), "duplicate doc ids after delete")
        problems, recall = check.check(removed)
        for p in problems:
            ctx.check(False, p)
        recalls.append(recall)
        clone_bytes = tree_bytes(clone.meta.table_root)
        live = clone.meta.current_snapshot()
        live_bytes = sum(e.file_size_bytes for e in live.files("data"))
        amps["write"].append((fixture_bytes + clone_bytes) / user_bytes)
        amps["space"].append((live_bytes + clone_bytes) / live_bytes)
        shutil.rmtree(clone.meta.table_root)

    for w in range(CURATE_WARMUP):
        iteration(-1 - w, timed=False)
    setup_s = time.perf_counter() - t_setup
    end, i = _deadline(ctx), 1
    while time.perf_counter() < end:
        iteration(i, timed=True)
        i += 1

    n_docs = len(ids)
    reads = ctx.walls["read"]
    ctx.metric("setup_s", setup_s, "s", 1)
    ctx.metric("throughput_per_s", n_docs / median(iterations), "1/s", len(iterations))
    ctx.metric("op_p50_gmean_s", median(iterations), "s", len(iterations))
    ctx.metric("read_p50_s", median(reads), "s", len(reads))
    ctx.metric("write_amp", median(amps["write"]), "ratio", len(amps["write"]))
    ctx.metric("space_amp", median(amps["space"]), "ratio", len(amps["space"]))
    ctx.extra = {
        "curate_docs_per_s": (n_docs / median(iterations), "docs/s", len(iterations)),
        "dup_recall": (median(recalls), "ratio", len(recalls)),
    }


WORKLOADS = {"lake_mixed": lake_mixed, "curate": curate}
