"""Spans around the layer entry points the shipped pipeline calls.

``Tracer.install`` replaces, for the duration of a traced unit of work,
the callables that ``plans/pipeline.py`` and
``streaming/incremental_er.py`` look up at call time (the pipeline
instance's ``featurize``/``block``/``score`` methods, the pipeline
module's ``candidate_pairs``/``deterministic_match_pass``/
``connected_components``/``stamp_entities`` globals,
``StageCheckpointer.write`` and, for the stream, ``run``/
``merge_entities``/``_touched_buckets`` and the table write). The shipped
sequencing is what runs; each wrapper only

* tags the Spark jobs it submits with the job group ``<rep>|<layer>``,
* materializes its layer's output inside its span
  (``localCheckpoint(eager=True)``), so lazy work is charged to the
  layer that defines it, and
* records the span's wall time and, outside the span, the row counts
  the benchmark checks (jobs tagged ``<rep>|count``).

Task metrics per span come from the event log afterwards
(:mod:`perfbench.eventlog`). Spans stay in memory until the run ends.
"""

from __future__ import annotations

import contextlib
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import entity_resolution_spark.operators.connected_components as cc_mod
import entity_resolution_spark.plans.pipeline as pipeline_mod
import entity_resolution_spark.streaming.incremental_er as incr_mod
from entity_resolution_spark.sources.checkpoint import StageCheckpointer

GROUP_KEY = "spark.jobGroup.id"

BATCH_LAYERS = (
    "featurize",
    "blocking",
    "pairs",
    "prepass",
    "scoring",
    "connected_components",
    "stamping",
    "checkpoint",
)
LAYERS = BATCH_LAYERS + ("incremental",)


@dataclass
class Span:
    rep: int
    layer: str
    wall_s: float
    rows_out: int | None = None


@dataclass
class RepCounts:
    """Exact counts of one traced unit; they must repeat per seed."""

    candidates: int = 0
    survivors: int = 0
    edges: int = 0
    rounds: int = 0
    hot_keys_dropped: int = 0
    buckets_touched: int = 0
    entities: int = 0

    def key(self) -> tuple:
        return (self.candidates, self.survivors, self.edges, self.rounds, self.entities)


@dataclass
class Tracer:
    spark: object
    spans: list[Span] = field(default_factory=list)
    counts: dict[int, RepCounts] = field(default_factory=dict)
    rep: int = -1
    _undo: list = field(default_factory=list)

    # -- spans -------------------------------------------------------------
    @contextlib.contextmanager
    def group(self, name: str):
        sc = self.spark.sparkContext
        prev = sc.getLocalProperty(GROUP_KEY)
        sc.setLocalProperty(GROUP_KEY, f"{self.rep}|{name}")
        try:
            yield
        finally:
            sc.setLocalProperty(GROUP_KEY, prev)

    @contextlib.contextmanager
    def span(self, layer: str):
        rec = Span(self.rep, layer, 0.0)
        with self.group(layer):
            t0 = time.perf_counter()
            try:
                yield rec
            finally:
                rec.wall_s = time.perf_counter() - t0
                self.spans.append(rec)

    def count(self, df: DataFrame) -> int:
        with self.group("count"):
            return df.count()

    def finish(self, pipe, rep: int, entities: int) -> None:
        """Counts read after traced unit ``rep`` returned."""
        c = self.counts[rep]
        c.entities = entities
        with self.group("count"):
            c.hot_keys_dropped = pipe.collect_metrics().get("keys_dropped_hot", 0)

    # -- install / uninstall ---------------------------------------------
    def _patch(self, owner, name: str, wrapper) -> None:
        had_own = name in vars(owner)
        orig = vars(owner).get(name)
        setattr(owner, name, wrapper)
        self._undo.append((owner, name, had_own, orig))

    def uninstall(self) -> None:
        while self._undo:
            owner, name, had_own, orig = self._undo.pop()
            if had_own:
                setattr(owner, name, orig)
            else:
                delattr(owner, name)

    def install(self, pipe, rep: int, table_path: str | None = None) -> RepCounts:
        """Wrap the layer entry points for traced unit ``rep``. With
        ``table_path`` the streaming fold-in (per-batch run, merge,
        bucket write) is wrapped too."""
        self.rep = rep
        counts = self.counts.setdefault(rep, RepCounts())
        cfg = pipe.config
        orig_featurize, orig_block, orig_score = pipe.featurize, pipe.block, pipe.score

        def materialized(layer: str, fn, *a, **kw) -> DataFrame:
            with self.span(layer) as s:
                out = fn(*a, **kw).localCheckpoint(eager=True)
            s.rows_out = self.count(out)
            return out

        def featurize(pages):
            return materialized("featurize", orig_featurize, pages)

        def block(feats):
            with self.span("blocking") as s:
                capped, stats = orig_block(feats)
                capped = capped.localCheckpoint(eager=True)
                stats = stats.localCheckpoint(eager=True)
            s.rows_out = self.count(capped)
            return capped, stats

        orig_pairs = pipeline_mod.candidate_pairs

        def candidate_pairs(blocks, *a, **kw):
            out = materialized("pairs", orig_pairs, blocks, *a, **kw)
            counts.candidates += self.spans[-1].rows_out
            return out

        orig_det = pipeline_mod.deterministic_match_pass

        def deterministic_match_pass(pairs, feats, *a, **kw):
            with self.span("prepass") as s:
                det_edges, remaining = orig_det(pairs, feats, *a, **kw)
                remaining = remaining.localCheckpoint(eager=True)
            s.rows_out = self.count(remaining)
            return det_edges, remaining

        def score(pairs, feats):
            out = materialized("scoring", orig_score, pairs, feats)
            counts.survivors += self.count(
                out.filter(~F.col("exact_dup") & (F.col("jaccard_est") >= cfg.scoring.gate_est))
            )
            return out

        orig_cc = pipeline_mod.connected_components
        orig_checksum = cc_mod._edge_checksum

        def edge_checksum(edges):
            counts.rounds += 1
            return orig_checksum(edges)

        def connected_components(edges, *a, **kw):
            out = materialized("connected_components", orig_cc, edges, *a, **kw)
            counts.edges += self.count(edges)
            return out

        orig_stamp = pipeline_mod.stamp_entities

        def stamp_entities(*a, **kw):
            return materialized("stamping", orig_stamp, *a, **kw)

        orig_write = StageCheckpointer.write

        def ckpt_write(ckpt, df, stage):
            with self.span("checkpoint") as s:
                out = orig_write(ckpt, df, stage)
            s.rows_out = ckpt.manifest(stage)["rows"]
            return out

        self._patch(pipe, "featurize", featurize)
        self._patch(pipe, "block", block)
        self._patch(pipe, "score", score)
        self._patch(pipeline_mod, "candidate_pairs", candidate_pairs)
        self._patch(pipeline_mod, "deterministic_match_pass", deterministic_match_pass)
        self._patch(pipeline_mod, "connected_components", connected_components)
        self._patch(pipeline_mod, "stamp_entities", stamp_entities)
        self._patch(cc_mod, "_edge_checksum", edge_checksum)
        self._patch(StageCheckpointer, "write", ckpt_write)
        if table_path is not None:
            self._install_stream(pipe, counts, table_path)
        return counts

    def _install_stream(self, pipe, counts: RepCounts, table_path: str) -> None:
        from pyspark.sql.readwriter import DataFrameWriter

        orig_run = pipe.run

        def run(pages, *a, **kw):
            with self.span("incremental.pipeline"):
                return orig_run(pages, *a, **kw).localCheckpoint(eager=True)

        orig_merge = incr_mod.merge_entities

        def merge_entities(existing, batch):
            with self.span("incremental.merge_write"):
                return orig_merge(existing, batch).localCheckpoint(eager=True)

        orig_touched = incr_mod._touched_buckets

        def touched_buckets(stamped, n_buckets):
            with self.span("incremental.merge_write"):
                out = orig_touched(stamped, n_buckets)
            counts.buckets_touched += len(out)
            return out

        orig_parquet = DataFrameWriter.parquet

        def parquet(writer, path, *a, **kw):
            if path != table_path:
                return orig_parquet(writer, path, *a, **kw)
            with self.span("incremental.merge_write"):
                return orig_parquet(writer, path, *a, **kw)

        self._patch(pipe, "run", run)
        self._patch(incr_mod, "merge_entities", merge_entities)
        self._patch(incr_mod, "_touched_buckets", touched_buckets)
        self._patch(DataFrameWriter, "parquet", parquet)
