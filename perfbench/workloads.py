"""Workload definitions and the functions that run, time and trace them.

An operation is one pipeline execution (batch workloads) or one micro-batch
(incremental). Timed operations materialize every output column through
Spark's ``noop`` sink, with an order-independent digest observed on the way.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation

import checks
import gen
from extractors_metadata_spark.plans import pipeline as pipeline_mod
from extractors_metadata_spark.plans.pipeline import datapoints, run_pipeline
from extractors_metadata_spark.sources.snapshot import live_snapshots, read_table
from extractors_metadata_spark.streaming import stream as stream_mod
from extractors_metadata_spark.streaming.stream import stream_pipeline
from tracing import Tracer

DP_COLS = ["url", "plot_id", "matched_via", "centroid_lon", "centroid_lat", "footprint",
           "scan_time", "date", "stream", "properties", "cell_r9", "s2_cell"]
TILE_COLS = ["url", "z", "x", "y"]
TABLE_COLS = ["url", "plot_id", "matched_via", "centroid_lat", "centroid_lon"]
CHECK_SAMPLE = 2000
TILE_SAMPLE = 300
OP_TIMEOUT_S = 90.0


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    kind: str  # "batch" or "incremental"
    mix: gen.Mix
    docs: int  # batch: docs per operation; incremental: docs per delivery file
    warm_docs: int  # docs of the warm-up operation (batch: a superset of the timed docs)
    files: int  # batch: parquet files of the input; incremental: most delivery files
    zooms: tuple[int, ...] = ()


WORKLOADS = {
    w.name: w
    for w in [
        Workload(
            "backfill",
            "bulk batch in the default mix: parse, the Arrow footprint kernel and the "
            "containment path of resolve_plots do most of the work",
            "batch", gen.Mix(), docs=6_000, warm_docs=20_000, files=8, zooms=tuple(range(9, 15)),
        ),
        Workload(
            "scatter",
            "aerial survey: half the positions off the grid and 30x FOV footprints, so "
            "pip_knn's full-dim fallback and tile_assign's fan-out dominate",
            "batch", gen.Mix(far=0.5, far_spread_m=2_000.0, fov_scale=30.0),
            docs=6_000, warm_docs=20_000, files=8, zooms=tuple(range(9, 18)),
        ),
        Workload(
            "incremental",
            "event-driven: 1k-doc files with 10% redelivery drained one per micro-batch "
            "into a snapshot table, where fixed per-batch cost dominates",
            "incremental", gen.Mix(redeliver=0.1), docs=1_000, warm_docs=2_000, files=12,
        ),
    ]
}


@dataclass
class Result:
    """What one run measured and how many operations failed."""

    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    e2e: dict[str, tuple[float, str]] = field(default_factory=dict)
    layers: dict[str, tuple[float, str]] = field(default_factory=dict)
    digest: str = ""
    tracer: Tracer | None = None

    def op(self, errs: list[str]) -> None:
        self.attempted += 1
        if errs:
            self.failed += 1
            self.errors.extend(errs)


def log(msg: str) -> None:
    """Progress on stderr, so the last stdout line stays the result."""
    print(f"perfbench [{time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


# --------------------------------------------------------------------- batch


@dataclass
class BatchOp:
    wall_s: float
    plan_s: float
    dp_digest: str
    tile_digest: str
    outputs: tuple[pd.DataFrame, pd.DataFrame] | None = None


def batch_op(spark, path: str, plots, zooms, collect: bool = False) -> BatchOp:
    """One pipeline execution, parquet read through both outputs materialized
    with an observed digest each: into the noop sink, or with ``collect``
    into pandas (plus each row's hash, ``_h``) for the checks."""
    t0 = time.perf_counter()
    pages = spark.read.parquet(path)
    dp, tiles = run_pipeline(spark, pages, plots, zooms=zooms)
    plan_s = time.perf_counter() - t0
    o_dp, o_tiles = Observation("dp"), Observation("tiles")
    h_dp, h_tiles = checks.row_hash(DP_COLS), checks.row_hash(TILE_COLS)
    dp = dp.observe(o_dp, *checks.digest_exprs(h_dp))
    tiles = tiles.observe(o_tiles, *checks.digest_exprs(h_tiles))
    outputs = None
    if collect:
        outputs = (dp.withColumn("_h", h_dp).toPandas(), tiles.withColumn("_h", h_tiles).toPandas())
    else:
        _noop(dp)
        _noop(tiles)
    wall = time.perf_counter() - t0
    return BatchOp(wall, plan_s, checks.digest_str(o_dp.get), checks.digest_str(o_tiles.get),
                   outputs)


def check_batch_outputs(op: BatchOp, truth: pd.DataFrame, zooms, rng) -> list[str]:
    dp, tiles = op.outputs
    errs = checks.check_datapoints(dp, truth, CHECK_SAMPLE, rng)
    urls = rng.choice(dp["url"].to_numpy(), min(TILE_SAMPLE, len(dp)), replace=False)
    errs += checks.check_tiles(dp[dp["url"].isin(urls)], tiles[tiles["url"].isin(urls)], zooms)
    for name, df, observed in (("datapoint", dp, op.dp_digest), ("tile", tiles, op.tile_digest)):
        if checks.digest_of(df["_h"]) != observed:
            errs.append(f"collected {name} digest {checks.digest_of(df['_h'])} != observed {observed}")
    return errs


def run_batch(spark, w: Workload, work: str, seed: int, seconds: float, trace: bool,
              plots, clock) -> Result:
    res = Result()
    path, warm_path = os.path.join(work, "pages"), os.path.join(work, "warm")
    t = time.perf_counter()
    truth = gen.write_batch({warm_path: w.warm_docs, path: w.docs}, seed, w.mix, w.files)
    gen_s = time.perf_counter() - t
    log(f"generated {w.warm_docs} docs in {gen_s:.1f} s")

    # warm-up: one operation over warm_docs, checked in full. The JIT settles
    # with rows processed, not with passes, so it runs over several times the
    # timed input, which is its first `docs` documents: the timed digests
    # are then known from the collected row hashes.
    first = batch_op(spark, warm_path, plots, w.zooms, collect=True)
    setup_s = clock() - gen_s
    log(f"warm-up operation {first.wall_s:.1f} s, set-up {setup_s:.1f} s")
    res.op(check_batch_outputs(first, truth, w.zooms, np.random.default_rng(seed)))
    timed_urls = set(truth["url"][: w.docs])
    dp, tiles = first.outputs
    ref = tuple(checks.digest_of(df.loc[df["url"].isin(timed_urls), "_h"]) for df in (dp, tiles))
    res.digest = f"datapoints={ref[0]} tiles={ref[1]}"

    # traced runs: the timed operations also run under a job group, which
    # costs nothing measurable and yields the fused pipeline's job counts
    tracer = res.tracer = Tracer(spark, f"{w.name}-traced") if trace else None
    fused: list[tuple[BatchOp, dict]] = []

    def timed_op() -> BatchOp | None:
        try:
            if tracer is None:
                op = batch_op(spark, path, plots, w.zooms)
            else:
                with tracer.span("pipeline") as s:
                    op = batch_op(spark, path, plots, w.zooms)
                fused.append((op, s.counts))
        except Exception as e:  # noqa: BLE001 — a failed operation is counted, not fatal
            res.op([f"operation raised {type(e).__name__}: {e}"])
            return None
        errs = []
        if (op.dp_digest, op.tile_digest) != ref:
            errs.append(f"digest {op.dp_digest}/{op.tile_digest} != expected {ref}")
        if op.wall_s > OP_TIMEOUT_S:
            errs.append(f"operation took {op.wall_s:.1f} s > {OP_TIMEOUT_S} s")
        res.op(errs)
        return op

    walls = []
    t_end = time.perf_counter() + seconds
    while time.perf_counter() < t_end or not walls:
        op = timed_op()
        if op is None:
            break
        walls.append(op.wall_s)
        log(f"timed operation {op.wall_s:.2f} s (plan {op.plan_s:.2f} s)")
    if not walls:
        return res
    wall = statistics.median(walls)
    res.e2e = {
        "setup_s": (setup_s, "s"),
        "docs_per_s": (w.docs / wall, "docs/s"),
        "batch_p50_s": (wall, "s"),
    }
    if tracer is not None:
        res.layers = trace_batch(spark, tracer, w, path, plots, fused)
    return res


class LayerTrace:
    """Wraps the layer functions ``plans.pipeline`` calls. With ``isolate``,
    each layer's input is materialized first and a span covers the call plus
    the materialization of its output; without, only the time spent inside
    each call (``plan_s``) is recorded and the plan runs as it would."""

    LAYERS = {
        "parse": "parse_metadata",
        "functions": "with_footprint_cells",
        "pip_knn": "resolve_plots",
        "tile_assign": "tile_assign",
    }

    def __init__(self, tracer: Tracer, parent: str, isolate: bool = True):
        self.tracer = tracer
        self.parent = parent
        self.isolate = isolate
        self.cached: list[DataFrame] = []
        self.stats: dict[str, list[dict]] = {k: [] for k in self.LAYERS}

    def _materialize(self, df: DataFrame) -> tuple[DataFrame, int]:
        df = df.persist()
        self.cached.append(df)
        return df, df.count()

    def _wrap(self, layer: str, fn):
        def timed(*args, **kwargs):
            t = time.perf_counter()
            out = fn(*args, **kwargs)
            self.stats[layer].append({"plan_s": time.perf_counter() - t})
            return out

        def traced(*args, **kwargs):
            args = list(args)
            i = next(i for i, a in enumerate(args) if isinstance(a, DataFrame))
            args[i], rows_in = self._materialize(args[i])
            with self.tracer.span(layer, self.parent) as s:
                t = time.perf_counter()
                out = fn(*args, **kwargs)
                plan_s = time.perf_counter() - t
                out, rows_out = self._materialize(out)
            st = {"busy_s": s.seconds, "plan_s": plan_s, "rows_in": rows_in,
                  "rows_out": rows_out, **s.counts}
            if layer == "pip_knn":
                by = dict(out.groupBy("matched_via").count().collect())
                st["contains"] = by.get("contains", 0)
                st["nearest"] = by.get("nearest", 0)
            self.stats[layer].append(st)
            return out

        return traced if self.isolate else timed

    @contextmanager
    def installed(self):
        saved = {name: getattr(pipeline_mod, name) for name in self.LAYERS.values()}
        for layer, name in self.LAYERS.items():
            setattr(pipeline_mod, name, self._wrap(layer, saved[name]))
        try:
            yield self
        finally:
            for name, fn in saved.items():
                setattr(pipeline_mod, name, fn)

    def release(self) -> None:
        for df in self.cached:
            df.unpersist()
        self.cached.clear()

    def metrics(self) -> dict[str, tuple[float, str]]:
        def med(layer: str, key: str) -> float:
            vals = [s[key] for s in self.stats[layer]]
            return float(statistics.median(vals)) if vals else 0.0

        def tot(layer: str, key: str) -> float:
            return float(sum(s.get(key, 0) for s in self.stats[layer]))

        return {
            "parse.busy_s": (tot("parse", "busy_s"), "s"),
            "parse.rows_in": (tot("parse", "rows_in"), "count"),
            "parse.rows_out": (tot("parse", "rows_out"), "count"),
            "parse.tasks": (tot("parse", "tasks"), "count"),
            "functions.busy_s": (tot("functions", "busy_s"), "s"),
            "functions.rows": (tot("functions", "rows_out"), "count"),
            "functions.tasks": (tot("functions", "tasks"), "count"),
            "pip_knn.plan_s": (med("pip_knn", "plan_s"), "s"),
            "pip_knn.busy_s": (tot("pip_knn", "busy_s"), "s"),
            "pip_knn.rows": (tot("pip_knn", "rows_out"), "count"),
            "pip_knn.contains": (tot("pip_knn", "contains"), "count"),
            "pip_knn.nearest": (tot("pip_knn", "nearest"), "count"),
            "pip_knn.jobs": (tot("pip_knn", "jobs"), "count"),
            "pip_knn.tasks": (tot("pip_knn", "tasks"), "count"),
            "pip_knn.failed_tasks": (tot("pip_knn", "failed_tasks"), "count"),
            "tile_assign.busy_s": (tot("tile_assign", "busy_s"), "s"),
            "tile_assign.rows_out": (tot("tile_assign", "rows_out"), "count"),
            "tile_assign.per_doc": (
                tot("tile_assign", "rows_out") / max(tot("tile_assign", "rows_in"), 1.0), "1"),
            "tile_assign.tasks": (tot("tile_assign", "tasks"), "count"),
        }

    def layer_sum_s(self) -> float:
        return sum(s.get("busy_s", 0) for v in self.stats.values() for s in v)


def trace_batch(spark, tracer: Tracer, w: Workload, path: str, plots,
                fused: list[tuple[BatchOp, dict]]) -> dict:
    """One more operation with every layer isolated, beside the fused timed
    operations' plan time and job counts."""
    lt = LayerTrace(tracer, "op")
    with tracer.span("op") as traced, lt.installed():
        batch_op(spark, path, plots, w.zooms)
    lt.release()

    def med(values) -> float:
        return float(statistics.median(values))

    wall = med(op.wall_s for op, _ in fused)
    out = lt.metrics()
    out.update({
        "pipeline.plan_s": (med(op.plan_s for op, _ in fused), "s"),
        "pipeline.fused_s": (wall, "s"),
        "pipeline.layer_sum_s": (lt.layer_sum_s(), "s"),
        **{f"pipeline.{k}": (med(c[k] for _, c in fused), "count")
           for k in ("jobs", "stages", "tasks", "failed_tasks")},
        "trace.overhead_s": (traced.seconds - wall, "s"),
    })
    return out


# --------------------------------------------------------------- incremental


def run_incremental(spark, w: Workload, work: str, seed: int, seconds: float, trace: bool,
                    plots, clock) -> Result:
    """Each delivery file is one event: it lands in the inbox and an
    AvailableNow ``stream_pipeline`` run drains it (one micro-batch) into the
    table before the next file is delivered. File 0 is the warm-up; files are
    delivered and drained until ``seconds`` have passed; with ``trace`` one
    more file is drained traced."""
    res = Result()
    inbox, table, ckpt = (os.path.join(work, d) for d in ("inbox", "table", "ckpt"))
    t = time.perf_counter()
    feed = gen.Deliveries(seed, w.mix, [w.warm_docs] + [w.docs] * (w.files - 1))
    gen_s = time.perf_counter() - t

    def wave(k: int, hooks: "_StreamHooks | None" = None) -> Wave:
        feed.deliver(k, inbox)
        wv = _drain(spark, inbox, table, ckpt, plots, hooks)
        res.op([wv.error] if wv.error else _check_wave(wv, k, feed.truth, table))
        return wv

    warm = wave(0)
    setup_s = clock() - gen_s
    log(f"warm-up batch {warm.wall_s:.1f} s, set-up {setup_s:.1f} s")

    timed: list[Wave] = []
    t_end = time.perf_counter() + seconds
    while (time.perf_counter() < t_end or not timed) and len(timed) + 2 < w.files:
        timed.append(wave(len(timed) + 1))
        log(f"timed batch {timed[-1].latency_s:.2f} s, drain {timed[-1].wall_s:.2f} s")
    walls = [wv.wall_s for wv in timed]
    res.e2e = {
        "setup_s": (setup_s, "s"),
        "docs_per_s": (sum(wv.rows for wv in timed) / sum(walls), "docs/s"),
        "batch_p50_s": (statistics.median(wv.latency_s for wv in timed), "s"),
    }
    if trace:
        res.tracer = Tracer(spark, f"{w.name}-traced")
        hooks = _StreamHooks(res.tracer)
        traced = wave(len(timed) + 1, hooks)
        res.layers = _incremental_layers(timed, traced, hooks, table, statistics.median(walls))

    # the table: each delivered url with a block exactly once, each with the
    # plot the checks compute independently
    table_rows = read_table(spark, table).select(*TABLE_COLS).toPandas()
    errs = checks.check_datapoints(table_rows, feed.truth, CHECK_SAMPLE,
                                   np.random.default_rng(seed))
    if errs:  # the table is the product of every batch
        res.errors.extend(errs)
        res.failed = res.attempted
    # every run drains files 0 and 1; later files depend on the time left
    first = feed.truth.loc[feed.truth["_file"] <= 1, "url"]
    res.digest = f"table[files 0-1]={checks.key_digest(table_rows[table_rows['url'].isin(first)])}"
    return res


@dataclass
class Wave:
    """One delivery drained: wall time of the AvailableNow run and the
    progress of its micro-batches."""

    wall_s: float = 0.0
    progress: list = field(default_factory=list)
    error: str = ""

    @property
    def rows(self) -> int:
        return sum(p.numInputRows for p in self.progress)

    @property
    def latency_s(self) -> float:
        """Trigger start to offsets committed, after the snapshot commit
        inside foreachBatch."""
        return sum(p.durationMs.get("triggerExecution", 0) for p in self.progress) / 1000.0


def _drain(spark, inbox: str, table: str, ckpt: str, plots,
           hooks: "_StreamHooks | None") -> Wave:
    """One AvailableNow ``stream_pipeline`` run over whatever is undrained."""
    wv = Wave()
    t0 = time.perf_counter()
    try:
        if hooks is None:
            q = stream_pipeline(spark, inbox, table, ckpt, plots, max_files_per_trigger=1)
            finished = q.awaitTermination(OP_TIMEOUT_S)
        else:
            with hooks.installed():
                q = stream_pipeline(spark, inbox, table, ckpt, plots,
                                    batch_fn=hooks.batch_fn(plots), max_files_per_trigger=1)
                finished = q.awaitTermination(OP_TIMEOUT_S)
        if not finished:
            q.stop()
            wv.error = f"drain did not finish within {OP_TIMEOUT_S} s"
    except Exception as e:  # noqa: BLE001 — a failed drain fails its batch, not the run
        wv.error = f"stream raised {type(e).__name__}: {e}"
        return wv
    wv.wall_s = time.perf_counter() - t0
    wv.progress = [p for p in q.recentProgress if p.numInputRows > 0]
    return wv


def _check_wave(wv: Wave, k: int, truth: pd.DataFrame, table: str) -> list[str]:
    """The drain read file ``k`` in one batch and committed exactly its block
    docs not delivered before."""
    f = truth[truth["_file"] == k]
    earlier = truth.loc[truth["_file"] < k, "url"]
    fresh = int((f["_block"] & ~f["url"].isin(earlier)).sum())
    manifests = live_snapshots(table)
    errs = []
    if len(wv.progress) != 1 or wv.rows != len(f):
        errs.append(f"file {k}: {len(wv.progress)} batches read {wv.rows} rows, file has {len(f)}")
    if len(manifests) != k + 1 or manifests[-1]["rows"] != fresh:
        errs.append(f"file {k}: snapshot {len(manifests) - 1} holds "
                    f"{manifests[-1]['rows'] if manifests else None} rows, expected {fresh}")
    if wv.latency_s > OP_TIMEOUT_S:
        errs.append(f"file {k}: batch took {wv.latency_s:.1f} s > {OP_TIMEOUT_S} s")
    return errs


class _StreamHooks:
    """Spans around the snapshot calls ``stream_pipeline`` makes per batch,
    the time spent inside the ``datapoints`` call it makes through ``batch_fn``
    and of the ``resolve_plots`` call inside it."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.layers = LayerTrace(tracer, "batch", isolate=False)
        self.resume: list[dict] = []
        self.commit: list[dict] = []
        self.execute: list[dict] = []
        self.plan_s: list[float] = []

    def batch_fn(self, plots):
        def fn(spark, pages):
            t = time.perf_counter()
            out = datapoints(spark, pages, plots)
            self.plan_s.append(time.perf_counter() - t)
            return out

        return fn

    @contextmanager
    def installed(self):
        resume_gap, write_snapshot = stream_mod.resume_gap, stream_mod.write_snapshot

        def traced_resume(spark, input_df, *args, **kwargs):
            input_df = input_df.persist()
            delivered = input_df.count()
            with self.tracer.span("snapshot.resume", "batch") as s:
                gap = resume_gap(spark, input_df, *args, **kwargs).persist()
                rows = gap.count()
            self.layers.cached += [input_df, gap]
            self.resume.append({"s": s.seconds, "delivered": delivered, "rows": rows})
            return gap

        def traced_write(df, *args, **kwargs):
            # the batch's datapoints, materialized before the commit span
            with self.tracer.span("datapoints", "batch") as s:
                df = df.persist()
                df.count()
            self.execute.append({"s": s.seconds, **s.counts})
            with self.tracer.span("snapshot.commit", "batch") as s:
                m = write_snapshot(df, *args, **kwargs)
            self.commit.append({"s": s.seconds, "jobs": s.counts["jobs"], "rows": m["rows"]})
            df.unpersist()
            return m

        stream_mod.resume_gap, stream_mod.write_snapshot = traced_resume, traced_write
        try:
            with self.layers.installed():
                yield self
        finally:
            stream_mod.resume_gap, stream_mod.write_snapshot = resume_gap, write_snapshot
            self.layers.release()


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if not f.startswith((".", "_"))
    )


def _incremental_layers(timed: list[Wave], traced: Wave, hooks: "_StreamHooks",
                        table: str, untraced_wall: float) -> dict:
    def med(vals) -> float:
        vals = list(vals)
        return float(statistics.median(vals)) if vals else 0.0

    def dur(key: str) -> float:
        return med(p.durationMs.get(key, 0) / 1000.0 for wv in timed for p in wv.progress)

    lat = [wv.latency_s for wv in timed]
    q = max(1, len(lat) // 4)
    manifests = live_snapshots(table)
    committed = sum(m["rows"] for m in manifests)
    data = sum(_dir_bytes(m["data_dir"]) for m in manifests)
    resume, commit = hooks.resume, hooks.commit
    out = hooks.layers.metrics()
    out.update({
        "pipeline.plan_s": (med(hooks.plan_s), "s"),
        "pipeline.fused_s": (med(e["s"] for e in hooks.execute), "s"),
        **{f"pipeline.{k}": (med(e[k] for e in hooks.execute), "count")
           for k in ("jobs", "stages", "tasks", "failed_tasks")},
        "snapshot.resume_s": (med(r["s"] for r in resume), "s"),
        "snapshot.commit_s": (med(c["s"] for c in commit), "s"),
        "snapshot.commit_jobs": (med(c["jobs"] for c in commit), "count"),
        "snapshot.bytes_per_doc": (data / max(committed, 1), "B"),
        "snapshot.gap_ratio": (
            sum(r["rows"] for r in resume) / max(sum(r["delivered"] for r in resume), 1), "1"),
        "stream.batches": (sum(len(wv.progress) for wv in timed), "count"),
        "stream.add_batch_s": (dur("addBatch"), "s"),
        "stream.plan_s": (dur("queryPlanning"), "s"),
        "stream.wal_s": (dur("walCommit"), "s"),
        "stream.growth_s": (med(lat[-q:]) - med(lat[:q]), "s"),
        "trace.overhead_s": (traced.wall_s - untraced_wall, "s"),
    })
    return out
