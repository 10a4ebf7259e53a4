"""Seeded end-to-end benchmark of the entity-resolution pipeline.

Run from the root of a checkout:

    python3 perfbench/run.py --workload dense_dups_ckpt --seed 1 --seconds 5 --trace 0

One process drives one workload through the public API
(``EntityResolutionPipeline.run`` or ``start_incremental_er``) at
``local[N]``, N = min(4, cores), in a closed loop: one run or
micro-batch at a time, no concurrent clients. Set-up starts the session,
ships the package to the Python workers, builds the seeded fixture
once and does the untimed warm-up: one full run for the batch
workloads; for the stream, seeding the entity table and folding one
micro-batch into it, so the timed batches take the warm merge path.
The timed loop then repeats units until ``--seconds`` have passed,
checks every output, and prints:

* ``--trace 0``: the end-to-end metrics, from at least one timed unit.
  Each unit is timed twice: wall time (``run_s``, ``pages_per_s``) and
  the CPU seconds of the process tree (``cpu_s``, ``pages_per_cpu_s``).
  On a shared VM the wall time of one unit follows the CPU time the
  hypervisor gives other tenants, so the CPU figures are the ones
  ``BENCHMARK.json`` bounds (``PUBLISHED``) and the wall figures are in
  the summary line and the full result;
* ``--trace 1``: per-layer metrics from spans around the layer entry
  points (``perfbench/trace.py``) and the Spark event log; the traced
  unit sits between two untraced ones, and ``trace.overhead_s`` is its
  time minus their median.

A unit costs 8-15 s on a 4-vCPU host, most of it per-job overhead,
and a cold JVM needs ~25 s more before the first warm unit ends, so
short ``--seconds`` give exactly one timed unit per run.

The full result goes to ``.perfbench_out/<workload>-seed<N>-trace<T>.json``;
the next-to-last stdout line is a short summary with sample counts and
the last line is ``{"correct", "attempted", "failed", "metrics"}``.
Everything the run writes stays under ``.perfbench_work/`` and
``.perfbench_out/`` in the checkout.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")
PACKAGE = "entity_resolution_spark"

# timed units per run at least: one, or untraced, traced, untraced, so a
# linear warm-up trend cancels out of the tracing overhead
MIN_UNITS = {False: 1, True: 3}
# stream batches folded in before timing: the seeding one and one merge
WARM_BATCHES = 2
# ~150 rows per bucket file at this table size; the package default of 64
# leaves ~30-row files whose writes cost ~2 s of every batch
STREAM_BUCKETS = 16

WORKLOADS = {
    "dense_dups_ckpt": {
        "kind": "batch",
        "n_docs": 1200,
        "dense": True,
        "checkpoint": True,
        "why": (
            "2,000 pages, every 6th doc with up to 24 variants, fresh checkpoint_dir "
            "per run: ~60% of candidates reach phase-2 Jaro-Winkler (scoring ~20% of "
            "run_s, D3), checkpoint writes ~20%"
        ),
    },
    "incremental_stream": {
        "kind": "stream",
        "n_docs": 1200,
        "batch_size": 300,
        "max_batches": 4,
        "why": (
            "1,800-page seeded table and one warm merge, then 300-page micro-batches "
            "(half new, half re-crawls) via start_incremental_er: ~70 Spark jobs per "
            "batch, so CC job count (D4) shows"
        ),
    },
    # Runnable by hand; not in BENCHMARK.json (see CHANGES.md).
    "sparse_web": {
        "kind": "batch",
        "n_docs": 1500,
        "dense": False,
        "checkpoint": False,
        "why": (
            "crawl-shaped corpus (3,000 pages), at most 3 variants per document, "
            "in-memory run: ~89% of ~25k candidates are rejected before phase 2, "
            "so blocking and pair pruning (D5) show"
        ),
    },
}

# Which end-to-end metric each layer metric should move, and where.
# [layer metrics, should move, on workload, expected no change on]
LAYER_TABLE = [
    ["blocking.*, pairs.*, scoring.survivor_ratio", "cpu_s, pages_per_cpu_s, run_s", "sparse_web; per batch on incremental_stream", "dense_dups_ckpt (small share)"],
    ["scoring.wall_s/task_s", "cpu_s, run_s", "dense_dups_ckpt", "incremental_stream"],
    ["connected_components.jobs/gap_s/rounds", "run_s, pages_per_s (gap_s: wall only)", "incremental_stream (also run_s on batch workloads)", "-"],
    ["checkpoint.*", "cpu_s, run_s", "dense_dups_ckpt", "incremental_stream, sparse_web (layer unused)"],
    ["incremental.merge_write_s/buckets_touched", "cpu_s, run_s (batch_s)", "incremental_stream", "batch workloads"],
    ["featurize.*", "cpu_s, run_s, in proportion to pages", "dense_dups_ckpt, sparse_web", "incremental_stream"],
]

HOST_NOTE = (
    "Earlier BENCH_r0N/SCALING numbers were taken at local[32] on a 32-core "
    "host and cannot be compared with these."
)

# the end-to-end metrics of BENCHMARK.json; the others are in the summary line
PUBLISHED = ("setup_s", "cpu_s", "pages_per_cpu_s", "pairwise_f1", "success_rate")

LAYER_METRICS = [
    ("wall_s", "s"),
    ("task_s", "s"),
    ("gap_s", "s"),
    ("jobs", "count"),
    ("rows_out", "count"),
    ("shuffle_mb", "MB"),
    ("spill_mb", "MB"),
    ("task_skew", "ratio"),
]
EXTRA_METRICS = [
    ("scoring.survivors", "count"),
    ("scoring.survivor_ratio", "ratio"),
    ("scoring.edge_ratio", "ratio"),
    ("blocking.hot_keys_dropped", "count"),
    ("connected_components.edges", "count"),
    ("connected_components.rounds", "count"),
    ("stamping.entities", "count"),
    ("incremental.pipeline_s", "s"),
    ("incremental.merge_write_s", "s"),
    ("incremental.buckets_touched", "count"),
    ("jvm.peak_rss_mb", "MB"),
    ("trace.run_s", "s"),
    ("trace.overhead_s", "s"),
    ("trace.layer_coverage", "ratio"),
]


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _median(xs):
    return float(statistics.median(xs))


def _fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    process below it: the JVM, the Python worker daemon and its workers,
    exited workers included through their parent's reaped-children time.
    Time the hypervisor steals from the VM is not charged to a process,
    so this leaves out the waits other tenants cause by taking the vCPUs
    away (not their contention for caches while ours run)."""
    procs: dict[int, tuple[int, int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while we looked
            continue
        # fields[1] is the parent pid; [11:15] utime, stime, cutime, cstime
        procs[int(name)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    tree, frontier = set(), {os.getpid()}
    while frontier:
        tree |= frontier
        frontier = {pid for pid, (ppid, _) in procs.items() if ppid in frontier} - tree
    return sum(procs[pid][1] for pid in tree if pid in procs) / os.sysconf("SC_CLK_TCK")


def host_steal_s() -> float:
    """CPU seconds the hypervisor has run other tenants on this VM's
    vCPUs ("steal" in /proc/stat), summed over vCPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------------------
# session
# ---------------------------------------------------------------------------


class Session:
    """One Spark application with all scratch space inside the checkout."""

    def __init__(self, trace: bool):
        self.cores = min(4, len(os.sched_getaffinity(0)))
        self.master = f"local[{self.cores}]"
        self.eventlog_dir = _fresh_dir(os.path.join(WORK, "eventlog")) if trace else None
        tmp = _fresh_dir(os.path.join(WORK, "tmp"))
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = _fresh_dir(os.path.join(WORK, "local"))
        # Python workers run the interpreter that runs this script
        os.environ["PYSPARK_PYTHON"] = sys.executable
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = "4g"
        os.environ["SPARK_GRAFT_DRIVER_JAVA_OPTS"] = f"-Djava.io.tmpdir={tmp}"
        import tempfile

        tempfile.tempdir = tmp
        from entity_resolution_spark.packaging import ship_package
        from entity_resolution_spark.session import get_spark

        conf = {"spark.sql.warehouse.dir": os.path.join(WORK, "warehouse")}
        if trace:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + self.eventlog_dir,
                    # this Python has no zstandard module to read the default codec
                    "spark.eventLog.compress": "false",
                }
            )
        self.spark = get_spark(
            app_name="perfbench",
            master=self.master,
            shuffle_partitions=self.cores,
            extra_conf=conf,
        )
        self._proc = getattr(self.spark.sparkContext._gateway, "proc", None)
        ship_package(self.spark)

    def peak_rss_mb(self) -> float:
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0

    def host_facts(self) -> dict:
        import pyarrow

        return {
            "nproc": os.cpu_count(),
            "usable_cores": len(os.sched_getaffinity(0)),
            "master": self.master,
            "spark": self.spark.version,
            "pyarrow": pyarrow.__version__,
            "python": sys.version.split()[0],
            "note": HOST_NOTE,
        }

    def stop(self) -> None:
        """Stop Spark and the JVM and wait for it to exit."""
        from pyspark import SparkContext

        gateway = self.spark.sparkContext._gateway
        self.spark.stop()
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if self._proc is not None:
            if self._proc.stdin:
                self._proc.stdin.close()
            try:
                self._proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 — never leave the JVM behind
                self._proc.kill()
                self._proc.wait()


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


class Result:
    def __init__(self, started: float):
        self.started = started
        self.units: list[dict] = []  # one entry per timed unit
        self.failures: list[str] = []
        self.setup: dict[str, float] = {}
        self.extra: dict = {}

    def record(self, wall_s: float, cpu_s: float, pages: int, traced: bool, fails: list[str]) -> None:
        self.units.append(
            {"wall_s": wall_s, "cpu_s": cpu_s, "pages": pages, "traced": traced, "failures": fails}
        )
        self.failures += fails


def _timed_loop(seconds: float, trace: bool, unit, res: Result) -> None:
    """Call ``unit(i, traced)`` until ``seconds`` have passed and at
    least MIN_UNITS[trace] ran. Traced runs alternate untraced/traced
    units, untraced first. Each unit's time including its checks is kept
    as ``loop_s``."""
    t0 = time.perf_counter()
    # everything before the loop, cold first fixture build and repeat builds included
    res.extra["setup_wall_s"] = t0 - res.started
    steal0 = host_steal_s()
    i = 0
    while i < MIN_UNITS[trace] or time.perf_counter() - t0 < seconds:
        i += 1
        t1 = time.perf_counter()
        if not unit(i, trace and i % 2 == 0):
            break
        res.units[-1]["loop_s"] = time.perf_counter() - t1
    # context for the wall times: what other tenants took while timing
    res.extra["host_steal_s"] = host_steal_s() - steal0


def run_batch(sess: Session, wl: dict, seed: int, seconds: float, tracer, res: Result) -> None:
    from perfbench import checks, corpus

    from entity_resolution_spark.plans.pipeline import EntityResolutionPipeline

    spark = sess.spark
    builder = corpus.dense_docs if wl["dense"] else corpus.documents
    max_variants = 24 if wl["dense"] else 3
    t0 = time.perf_counter()
    full = corpus.pages(spark, builder(wl["n_docs"], seed), max_variants).localCheckpoint(eager=True)
    pages = full.drop("entity_gt").localCheckpoint(eager=True)
    res.setup["fixture_s"] = time.perf_counter() - t0
    truth = full.select("url", "warc_ts", "entity_gt").toPandas()
    n_pages = len(truth)
    ckpt_root = os.path.join(WORK, "ckpt")

    def one(i: int, traced: bool):
        ckdir = _fresh_dir(os.path.join(ckpt_root, str(i))) if wl["checkpoint"] else None
        pipe = EntityResolutionPipeline()
        if traced:
            tracer.install(pipe, i)
        try:
            c0, t0 = tree_cpu_s(), time.perf_counter()
            ents = pipe.run(pages, checkpoint_dir=ckdir).localCheckpoint(eager=True)
            wall, cpu = time.perf_counter() - t0, tree_cpu_s() - c0
        finally:
            if traced:
                tracer.uninstall()
        table = ents.toPandas()
        if traced:
            tracer.finish(pipe, i, int(table["entity_id"].nunique()))
        if ckdir:
            shutil.rmtree(ckdir, ignore_errors=True)
        return wall, cpu, table, checks.check_entities(truth, table)

    t0 = time.perf_counter()
    _, _, table, fails = one(0, tracer is not None)
    res.setup["warm_s"] = time.perf_counter() - t0
    if fails:
        raise RuntimeError(f"warm run failed its checks: {fails}")
    want = checks.digest(table)
    truth_by_url = truth.set_index("url")["entity_gt"]
    res.extra["pairwise_f1"] = checks.pairwise_f1(
        table["entity_id"], table["url"].map(truth_by_url)
    )
    res.extra["pages"] = n_pages

    def unit(i: int, traced: bool) -> bool:
        try:
            wall, cpu, table, fails = one(i, traced)
            if checks.digest(table) != want:
                fails = fails + ["(url, entity_id) digest differs from the warm run"]
        except Exception as e:  # noqa: BLE001 — a failed run is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            res.record(float("nan"), float("nan"), n_pages, traced, [f"run raised {type(e).__name__}: {e}"])
            return True
        res.record(wall, cpu, n_pages, traced, fails)
        return True

    _timed_loop(seconds, tracer is not None, unit, res)


def run_stream(sess: Session, wl: dict, seed: int, seconds: float, tracer, res: Result) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from perfbench import checks, corpus

    from entity_resolution_spark.plans.pipeline import EntityResolutionPipeline
    from entity_resolution_spark.streaming.incremental_er import start_incremental_er

    spark = sess.spark
    schema = pa.schema(
        [
            ("url", pa.string()),
            ("warc_ts", pa.timestamp("us", tz="UTC")),
            ("html", pa.binary()),
            ("text", pa.string()),
            ("lang", pa.string()),
        ]
    )
    t0 = time.perf_counter()
    staged = _fresh_dir(os.path.join(WORK, "staged"))
    all_pages = corpus.pages(spark, corpus.documents(wl["n_docs"], seed), 3).toPandas()
    all_pages["warc_ts"] = all_pages["warc_ts"].dt.tz_localize("UTC")
    seed_rows, batches = corpus.stream_batches(all_pages, seed, wl["max_batches"], wl["batch_size"])
    files = []
    for k, frame in enumerate([seed_rows] + batches):
        path = os.path.join(staged, f"batch-{k:03d}.parquet")
        pq.write_table(pa.Table.from_pandas(frame[schema.names], schema=schema, preserve_index=False), path)
        files.append((path, frame))
    res.setup["fixture_s"] = time.perf_counter() - t0
    truth_by_url = all_pages.set_index("url")["entity_gt"]

    inbox = _fresh_dir(os.path.join(WORK, "inbox"))
    table_path = os.path.join(WORK, "table")
    shutil.rmtree(table_path, ignore_errors=True)
    stream_ckpt = _fresh_dir(os.path.join(WORK, "stream_ckpt"))
    landed: set[str] = set()
    state = {"table": None}

    def fold_in(k: int, rep: int, traced: bool):
        path, frame = files[k]
        pipe = EntityResolutionPipeline()
        if traced:
            tracer.install(pipe, rep, table_path=table_path)
        try:
            span = tracer.span("incremental") if traced else contextlib.nullcontext()
            with span as rec:
                c0, t0 = tree_cpu_s(), time.perf_counter()
                os.replace(path, os.path.join(inbox, os.path.basename(path)))
                query = start_incremental_er(
                    spark, inbox, table_path, stream_ckpt, pipeline=pipe, n_buckets=STREAM_BUCKETS
                )
                query.awaitTermination()
                wall, cpu = time.perf_counter() - t0, tree_cpu_s() - c0
        finally:
            if traced:
                tracer.uninstall()
        if query.exception() is not None:
            raise RuntimeError(f"micro-batch {k} failed: {query.exception()}")
        landed.update(frame["url"])
        after = spark.read.parquet(table_path).drop("bucket").toPandas()
        if traced:
            rec.rows_out = len(after)
            tracer.finish(pipe, rep, int(after["entity_id"].nunique()))
        fails = checks.check_table_update(state["table"], after, landed, frame)
        state["table"] = after
        return wall, cpu, len(frame), fails

    # Untimed warm-up through the same start_incremental_er entry point:
    # batch 0 seeds the table (first-batch branch), batch 1 is folded
    # into it (read, merge, bucket overwrite), so timed batches are warm.
    warm = []
    for k in range(WARM_BATCHES):
        wall, _, _, fails = fold_in(k, 0, False)
        if fails:
            raise RuntimeError(f"warm-up batch {k} failed its checks: {fails}")
        warm.append(wall)
    res.setup["warm_s"] = sum(warm)
    res.extra["warm_batches_s"] = warm
    res.extra["seed_rows"] = len(files[0][1])

    def unit(i: int, traced: bool) -> bool:
        k = WARM_BATCHES - 1 + i
        if k >= len(files):
            return False
        try:
            wall, cpu, n, fails = fold_in(k, i, traced)
        except Exception as e:  # noqa: BLE001 — a failed batch is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            res.record(float("nan"), float("nan"), len(files[k][1]), traced, [f"batch raised {type(e).__name__}: {e}"])
            return True
        res.record(wall, cpu, n, traced, fails)
        if i == 1:
            # scored at a fixed point of the stream, not wherever the clock stopped it
            table = state["table"]
            res.extra["pairwise_f1"] = checks.pairwise_f1(
                table["entity_id"], table["url"].map(truth_by_url)
            )
        return True

    _timed_loop(seconds, tracer is not None, unit, res)
    res.extra["table_rows"] = len(state["table"])


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------


def end_to_end(res: Result, wl: dict) -> dict[str, tuple[float, str, int]]:
    ok = [u for u in res.units if not u["failures"]]
    if not ok:
        raise RuntimeError("no timed unit completed")
    n = len(ok)

    def per_unit(key):
        """Median per unit, and pages per second of it (over the whole
        stream, or at the batch workloads' fixed input size)."""
        xs = [u[key] for u in ok]
        if wl["kind"] == "stream":
            return _median(xs), sum(u["pages"] for u in ok) / sum(xs)
        return _median(xs), ok[0]["pages"] / _median(xs)

    run_s, pages_per_s = per_unit("wall_s")
    cpu_s, pages_per_cpu_s = per_unit("cpu_s")
    return {
        "setup_s": (sum(res.setup.values()), "s", 1),
        "run_s": (run_s, "s", n),
        "pages_per_s": (pages_per_s, "1/s", n),
        "cpu_s": (cpu_s, "s", n),
        "pages_per_cpu_s": (pages_per_cpu_s, "1/s", n),
        "pairwise_f1": (res.extra["pairwise_f1"], "ratio", 1),
        "success_rate": ((len(res.units) - len(failed_units(res))) / len(res.units), "ratio", len(res.units)),
    }


def failed_units(res: Result) -> list[dict]:
    return [u for u in res.units if u["failures"]]


def per_layer(sess: Session, tracer, res: Result) -> tuple[dict, dict]:
    """Per-layer metrics: medians over the traced timed units."""
    from perfbench import eventlog
    from perfbench.trace import BATCH_LAYERS, LAYERS

    # job group "<rep>|<layer>[.<part>]" -> metrics, keyed (rep, layer)
    groups: dict[tuple[int, str], list[eventlog.GroupMetrics]] = {}
    log = eventlog.find_log(sess.eventlog_dir)
    for name, g in eventlog.group_metrics(eventlog.read_events(log)).items():
        if "|" in name:
            rep, span = name.split("|", 1)
            groups.setdefault((int(rep), span.split(".")[0]), []).append(g)
    traced = [i for i, u in enumerate(res.units, start=1) if u["traced"]]
    untraced = [u["wall_s"] for u in res.units if not u["traced"]]
    per_rep: dict[int, dict[str, float]] = {}
    for rep in traced:
        m: dict[str, float] = {}
        spans = [s for s in tracer.spans if s.rep == rep]
        for layer in LAYERS:
            own = [s for s in spans if s.layer == layer]
            if layer == "incremental":
                # the whole micro-batch: every job in it, the pipeline's included
                gm = [
                    g
                    for (r, name), gs in groups.items()
                    if own and r == rep and name != "count"
                    for g in gs
                ]
            else:
                gm = groups.get((rep, layer), [])
            wall = sum(s.wall_s for s in own)
            task = sum(g.task_s for g in gm)
            rows = [s.rows_out for s in own if s.rows_out is not None]
            m[f"{layer}.wall_s"] = wall
            m[f"{layer}.task_s"] = task
            m[f"{layer}.gap_s"] = wall - task / sess.cores if own else 0.0
            m[f"{layer}.jobs"] = sum(g.jobs for g in gm)
            m[f"{layer}.rows_out"] = rows[-1] if rows else 0
            m[f"{layer}.shuffle_mb"] = sum(g.shuffle_write_mb for g in gm)
            m[f"{layer}.spill_mb"] = sum(g.spill_mb for g in gm)
            m[f"{layer}.task_skew"] = max((g.task_skew for g in gm), default=0.0)
        c = tracer.counts[rep]
        m["scoring.survivors"] = c.survivors
        m["scoring.survivor_ratio"] = c.survivors / max(c.candidates, 1)
        m["scoring.edge_ratio"] = c.edges / max(c.candidates, 1)
        m["blocking.hot_keys_dropped"] = c.hot_keys_dropped
        m["connected_components.edges"] = c.edges
        m["connected_components.rounds"] = c.rounds
        m["stamping.entities"] = c.entities
        m["incremental.pipeline_s"] = sum(s.wall_s for s in spans if s.layer == "incremental.pipeline")
        m["incremental.merge_write_s"] = sum(s.wall_s for s in spans if s.layer == "incremental.merge_write")
        m["incremental.buckets_touched"] = c.buckets_touched
        unit_wall = res.units[rep - 1]["wall_s"]
        covered = sum(m[f"{layer}.wall_s"] for layer in BATCH_LAYERS) + m["incremental.merge_write_s"]
        m["trace.run_s"] = unit_wall
        m["trace.layer_coverage"] = covered / unit_wall
        per_rep[rep] = m
    if not per_rep:
        raise RuntimeError("no traced unit completed")
    names = list(next(iter(per_rep.values())))
    out = {n: _median([m[n] for m in per_rep.values()]) for n in names}
    out["trace.overhead_s"] = out["trace.run_s"] - (_median(untraced) if untraced else 0.0)
    out["jvm.peak_rss_mb"] = res.extra["peak_rss_mb"]
    return out, {str(k): v for k, v in per_rep.items()}


def check_counts_repeat(tracer, res: Result, wl: dict) -> None:
    """Batch workloads rerun one input, so every traced unit (the warm
    run included) must give the same exact counts."""
    if wl["kind"] != "batch":
        return
    keys = {rep: c.key() for rep, c in tracer.counts.items()}
    if len(set(keys.values())) > 1:
        res.failures.append(f"exact counts differ across traced runs of one seed: {keys}")
        res.units[-1]["failures"].append("exact counts differ")


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------


def main(argv=None) -> int:
    started = time.perf_counter()
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ package next to perfbench/ in {ROOT}", file=sys.stderr)
        return 2
    if args.seconds <= 0:
        print("perfbench: --seconds must be positive", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    wl = WORKLOADS[args.workload]
    _fresh_dir(WORK)
    try:
        return _bench(args, wl, started)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)


def _bench(args, wl: dict, started: float) -> int:
    trace = bool(args.trace)
    res = Result(started)
    t0 = time.perf_counter()
    sess = Session(trace)
    res.setup["session_s"] = time.perf_counter() - t0
    tracer = None
    try:
        if trace:
            from perfbench.trace import Tracer

            tracer = Tracer(sess.spark)
        runner = run_stream if wl["kind"] == "stream" else run_batch
        runner(sess, wl, args.seed, args.seconds, tracer, res)
        if trace:
            check_counts_repeat(tracer, res, wl)
        res.extra["peak_rss_mb"] = sess.peak_rss_mb()
        host = sess.host_facts()
    finally:
        t0 = time.perf_counter()
        sess.stop()
        res.extra["teardown_s"] = time.perf_counter() - t0

    e2e = end_to_end(res, wl)
    full = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "load": f"closed loop, one driver, {host['master']}, one unit at a time",
        "why": wl["why"],
        "layer_table": LAYER_TABLE,
        "host": host,
        "setup": res.setup,
        "units": res.units,
        "extra": res.extra,
        "failures": res.failures,
        "end_to_end": {k: {"value": v, "unit": u, "n": n} for k, (v, u, n) in e2e.items()},
    }
    if wl["kind"] == "stream":
        full["aliases"] = {"batch_s": "run_s", "stream_pages_per_s": "pages_per_s"}
    if trace:
        from perfbench.trace import LAYERS

        layers, by_rep = per_layer(sess, tracer, res)
        units = dict(_layer_metric_units())
        metrics = {k: {"value": float(layers[k]), "unit": units[k]} for k in units}
        full["per_layer"] = metrics
        full["per_layer_by_unit"] = by_rep
        full["counts_by_unit"] = {str(r): vars(c) for r, c in tracer.counts.items()}
        full["spans"] = [vars(s) for s in tracer.spans]
        # every per-layer metric is printed; these layers report 0 on this workload
        full["unused_layers"] = [l for l in LAYERS if l not in {s.layer for s in tracer.spans}]
    else:
        metrics = {k: {"value": float(v), "unit": u} for k, (v, u, _) in e2e.items() if k in PUBLISHED}

    full["process_s"] = time.perf_counter() - started
    os.makedirs(OUT, exist_ok=True)
    out_path = os.path.join(OUT, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(out_path, "w") as f:
        json.dump(full, f, indent=1, default=str)
    attempted = len(res.units)
    failed = len(failed_units(res))
    summary = {
        "workload": args.workload,
        "seed": args.seed,
        "master": host["master"],
        "full": os.path.relpath(out_path, ROOT),
        "metrics": {k: [round(v, 4), u, n] for k, (v, u, n) in e2e.items()},
        "error_rate": failed / attempted,
    }
    print(json.dumps(summary, separators=(",", ":")))
    print(
        json.dumps(
            {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics},
            separators=(",", ":"),
        )
    )
    return 0


def _layer_metric_units() -> list[tuple[str, str]]:
    from perfbench.trace import LAYERS

    return [(f"{layer}.{m}", u) for layer in LAYERS for m, u in LAYER_METRICS] + EXTRA_METRICS


if __name__ == "__main__":
    sys.exit(main())
