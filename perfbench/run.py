#!/usr/bin/env python3
"""Seeded, oracle-checked benchmark of the dedup pipelines and sketch
aggregations. Run from the repository root:

    python3 perfbench/run.py --workload batch_images --seed 1 --seconds 8 --trace 0

Workloads (see perfbench/README.md for why each exists):
  batch_images   one dedup_images call per pass (four default lanes)
  sketch_aggs    seven two-stage sketch aggregations per pass
  stream_images  IncrementalDeduper epochs + assignments() per pass; a
                 pass costs about two minutes, so BENCHMARK.json leaves it
                 out and it is run by hand

Each run generates its inputs from --seed, sets up the Spark session three
times (the median is setup_s), runs untimed priming passes, then closed-loop
passes until --seconds have passed (at least one), checks every output
against the oracle for the same seed, and prints one JSON result as the last
line of stdout. --trace 1 runs the traced decomposition instead and prints
the per-layer metrics.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback
from contextlib import nullcontext

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, ROOT)

WORKLOADS = ("batch_images", "sketch_aggs", "stream_images")
LISTED_WORKLOADS = ("batch_images", "sketch_aggs")  # the ones BENCHMARK.json names
FAMILIES = ("theta", "cpc", "kll", "classic", "tdigest", "req", "freq")
SETUPS = 3
MAX_PAIRS_GROUP = 256  # dedup_images' default
STREAM_FANOUT = 512  # IncrementalDeduper fan-out that matches the batch cap


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


# -- host probes -----------------------------------------------------------------


def _proc_tree() -> list[int]:
    """This process and all its descendants (the JVM and its Python workers)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    tree, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, ()))
    return tree


def _tree_rss_mb() -> float:
    total = 0
    for pid in _proc_tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total / 1024.0


def _tree_cpu_s() -> float:
    """utime + stime of the process tree, including reaped children."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in _proc_tree():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in fields[11:15])
        except (OSError, IndexError, ValueError):
            continue
    return total / tick


def cpu_now() -> float:
    """Container CPU seconds from the cgroup, as bench.py reads it; the
    process tree's CPU where no cgroup counter exists."""
    from bench import _container_cpu_sec

    v = _container_cpu_sec()
    return v if v is not None else _tree_cpu_s()


class PeakMemory:
    """Samples the process tree's summed RSS every 0.2 s while running."""

    def __init__(self):
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while True:
            self.peak_mb = max(self.peak_mb, _tree_rss_mb())
            if self._stop.wait(0.2):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


# -- Spark session -----------------------------------------------------------------


class Session:
    """local[N] sessions through session.get_spark, set up and torn down
    inside the run's work directory."""

    def __init__(self, work: str, cores: int):
        self.work = work
        self.cores = cores
        self.master = f"local[{cores}]"
        self.spark = None
        for d in ("spark-local", "tmp", "eventlog", "warehouse"):
            os.makedirs(os.path.join(work, d), exist_ok=True)
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        os.environ["PYSPARK_PYTHON"] = sys.executable
        os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
        os.environ["TMPDIR"] = os.path.join(work, "tmp")
        # no JVM perf-data file under /tmp from spark-submit's launcher JVM
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"

    def start(self, eventlog: bool = False) -> tuple[float, float]:
        """→ (session start seconds, warm-up seconds)."""
        from datasketches_cpp_spark.session import get_spark
        from tracing import EVENTLOG_CONF

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "2g",  # ample at these sizes; the host is shared
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(self.work, 'tmp')}",
        }
        if eventlog:
            conf.update(EVENTLOG_CONF)
            conf["spark.eventLog.dir"] = "file://" + os.path.join(self.work, "eventlog")
        t0 = time.perf_counter()
        self.spark = get_spark(master=self.master, app_name="perfbench", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()

        def warm_workers(batches):
            """Import the library in every Python worker, round-trip a batch."""
            import datasketches_cpp_spark.functions.freq  # noqa: F401
            import datasketches_cpp_spark.operators.imagededup  # noqa: F401
            import datasketches_cpp_spark.streaming.incremental  # noqa: F401

            yield from batches

        self.spark.range(0, 1024 * self.cores, numPartitions=self.cores).mapInPandas(
            warm_workers, "id long"
        ).collect()
        return t1 - t0, time.perf_counter() - t1

    def stop(self):
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self):
        """Stop the session, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        self.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the gateway exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


# -- workloads ---------------------------------------------------------------------


class Workload:
    """Inputs, one pass through the library's public API, and its check."""

    checks_per_pass = 1
    primes = 1  # untimed passes before timing

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work

    def items(self) -> int:
        raise NotImplementedError

    def sizes(self) -> dict:
        raise NotImplementedError

    def run_pass(self, spark, spans=None) -> tuple[object, list[float]]:
        """→ (output, per-call latencies in seconds); calls are recorded as
        spans when ``spans`` is given."""
        raise NotImplementedError

    def check(self, output) -> tuple[int, list[str], dict]:
        """→ (failed checks, problems, extra record fields)."""
        raise NotImplementedError


class BatchImages(Workload):
    name = "batch_images"
    # the first pass after the priming one still runs ~10% slow while the
    # JVM finishes compiling, so two untimed passes come first
    primes = 2

    def __init__(self, seed, work):
        super().__init__(seed, work)
        import inputs

        images = inputs.make_images(inputs.BATCH_IMAGES, seed)
        self.n = len(images)
        self.path = inputs.write_parquet(images, os.path.join(work, "images.parquet"))
        self.oracle = inputs.image_oracle(self.name, images, seed)

    def items(self):
        return self.n

    def sizes(self):
        return {"images": self.n}

    def run_pass(self, spark, spans=None, span="imagededup.dedup_images"):
        from datasketches_cpp_spark.operators.imagededup import dedup_images
        from inputs import BYTE_STRIDE, BYTES_CFG, CFG

        t0 = time.perf_counter()
        with _maybe_span(spans, span):
            res = dedup_images(spark.read.parquet(self.path), CFG, BYTES_CFG,
                               byte_stride=BYTE_STRIDE)
            got = {r["id"]: r["cluster_id"] for r in res["assignments"].collect()}
        return got, [time.perf_counter() - t0]

    def check(self, got):
        from checks import check_assignments, pair_scores

        problems = check_assignments(self.oracle, got)
        recall, precision = pair_scores(self.oracle, got)
        return (1 if problems else 0), problems, {
            "dup_pair_recall": recall, "dup_pair_precision": precision}


class StreamImages(Workload):
    name = "stream_images"
    # a pass is three epochs; the first epoch's cold start is one of the
    # three latencies the median is taken over
    primes = 0
    items = BatchImages.items
    check = BatchImages.check

    def __init__(self, seed, work):
        super().__init__(seed, work)
        import inputs

        images = inputs.make_images(inputs.STREAM_IMAGES, seed)
        self.n = len(images)
        step = -(-self.n // inputs.STREAM_EPOCHS)
        self.epochs = [
            inputs.write_parquet(images.iloc[i: i + step],
                                 os.path.join(work, f"epoch{i // step}.parquet"))
            for i in range(0, self.n, step)
        ]
        self.oracle = inputs.image_oracle(self.name, images, seed, inputs.STREAM_LANES)
        self.passes = 0
        self.on_epoch = None  # traced runs list the state store after each epoch

    def sizes(self):
        return {"images": self.n, "epochs": len(self.epochs)}

    def deduper(self, spark):
        from datasketches_cpp_spark.streaming.incremental import IncrementalDeduper
        from inputs import BYTE_STRIDE, BYTES_CFG, CFG, STREAM_LANES

        self.passes += 1
        self.state_dir = os.path.join(self.work, f"state{self.passes}")
        return IncrementalDeduper(
            spark, self.state_dir, CFG, BYTES_CFG, byte_stride=BYTE_STRIDE,
            max_fanout=STREAM_FANOUT, enable_lanes=STREAM_LANES,
        )

    def run_pass(self, spark, spans=None):
        lat = []
        with self.deduper(spark) as dd:
            for epoch, path in enumerate(self.epochs):
                t0 = time.perf_counter()
                with _maybe_span(spans, "incremental.process_batch"):
                    dd.process_batch(spark.read.parquet(path), epoch)
                lat.append(time.perf_counter() - t0)
                if self.on_epoch:
                    self.on_epoch(self.state_dir)
            with _maybe_span(spans, "incremental.assignments"):
                got = {r["id"]: r["cluster_id"] for r in dd.assignments().collect()}
        shutil.rmtree(self.state_dir, ignore_errors=True)
        return got, lat


class SketchAggs(Workload):
    name = "sketch_aggs"
    checks_per_pass = len(FAMILIES)

    def __init__(self, seed, work):
        super().__init__(seed, work)
        import inputs

        table = inputs.make_sketch_table(inputs.SKETCH_ROWS, inputs.SKETCH_GROUPS, seed)
        self.rows = len(table)
        self.path = inputs.write_parquet(table, os.path.join(work, "table.parquet"))
        self.truth = inputs.sketch_truth(table, inputs.SKETCH_GROUPS, seed)

    def items(self):
        return self.rows * len(FAMILIES)

    def sizes(self):
        import inputs

        return {"rows": self.rows, "groups": inputs.SKETCH_GROUPS, "families": len(FAMILIES)}

    @staticmethod
    def aggregate(family: str, df):
        from datasketches_cpp_spark.functions import (
            classic_quantiles, cpc, freq, quantiles, req, tdigest, theta,
        )
        from inputs import CPC_LG_K, FREQ_MAP_SIZE, THETA_LG_K

        return {
            "theta": lambda: theta.theta_sketch_agg(df, ["g"], "item", lg_k=THETA_LG_K),
            "cpc": lambda: cpc.cpc_sketch_agg(df, ["g"], "item", lg_k=CPC_LG_K),
            "kll": lambda: quantiles.kll_sketch_agg(df, ["g"], "v"),
            "classic": lambda: classic_quantiles.classic_quantiles_agg(df, ["g"], "v"),
            "tdigest": lambda: tdigest.tdigest_agg(df, ["g"], "v"),
            "req": lambda: req.req_sketch_agg(df, ["g"], "v"),
            "freq": lambda: freq.frequent_items_agg(
                df, ["g"], "item", max_map_size=FREQ_MAP_SIZE),
        }[family]()

    def run_pass(self, spark, spans=None):
        out, lat = {}, []
        for fam in FAMILIES:
            t0 = time.perf_counter()
            with _maybe_span(spans, f"functions.{fam}"):
                out[fam] = self.aggregate(fam, spark.read.parquet(self.path)).toPandas()
            lat.append(time.perf_counter() - t0)
        return out, lat

    def check(self, out):
        from checks import check_family

        problems = []
        failed = 0
        for fam in FAMILIES:
            p = check_family(fam, out[fam], self.truth)
            failed += bool(p)
            problems += p
        return failed, problems, {}


WORKLOAD_CLASSES = {c.name: c for c in (BatchImages, SketchAggs, StreamImages)}


def _maybe_span(spans, name):
    return spans.span(name) if spans is not None else nullcontext()


# -- untraced run -------------------------------------------------------------------


class Tally:
    """attempted / failed checks, with the first problems kept for the log."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.extra: dict[str, list] = {}

    def checked(self, wl: Workload, fn):
        """Run fn() → output, check it; exceptions count as failed checks.
        Returns the pass's latencies, or None when it raised."""
        self.attempted += wl.checks_per_pass
        try:
            output, lat = fn()
            failed, problems, extra = wl.check(output)
        except Exception:
            self.failed += wl.checks_per_pass
            self.problems.append(traceback.format_exc(limit=3))
            return None
        self.failed += failed
        self.problems += problems[:5]
        for k, v in extra.items():
            self.extra.setdefault(k, []).append(v)
        return lat


def setup_repeated(session: Session) -> list[tuple[float, float]]:
    """Set the session up SETUPS times; the last one stays open."""
    out = []
    for i in range(SETUPS):
        if i:
            session.stop()
        out.append(session.start())
    return out


def run_untraced(wl: Workload, session: Session, seconds: float) -> tuple[Tally, dict]:
    marks = {"setup": time.monotonic()}
    setups = setup_repeated(session)
    tally = Tally()
    marks["prime"] = time.monotonic()
    for _ in range(wl.primes):
        tally.checked(wl, lambda: wl.run_pass(session.spark))
    marks["measure"] = time.monotonic()
    walls, cpus, calls = [], [], []

    def timed_pass():
        c0, t0 = cpu_now(), time.perf_counter()
        out, lat = wl.run_pass(session.spark)
        walls.append(time.perf_counter() - t0)
        cpus.append(cpu_now() - c0)
        calls.extend(lat)
        return out, lat

    with PeakMemory() as mem:
        t_end = time.monotonic() + seconds
        while True:
            ok = tally.checked(wl, timed_pass) is not None
            if time.monotonic() >= t_end or (not ok and tally.failed >= 3):
                break
    session.stop()
    metrics = {
        "setup_s": (_median([a + b for a, b in setups]), "s"),
        "items_per_s": (wl.items() / _median(walls), "1/s"),
        "call_p50_s": (_median(calls), "s"),
        "cpu_s": (_median(cpus), "s"),
        "peak_mem_mb": (mem.peak_mb, "MB"),
    }
    record = {
        "setups_s": setups, "pass_walls_s": walls, "pass_cpu_s": cpus,
        "call_latencies_s": calls, "marks": marks,
    }
    return tally, {"metrics": metrics, "record": record}


# -- traced run ---------------------------------------------------------------------


def traced_batch_lanes(spark, wl: BatchImages, spans) -> tuple[dict, dict]:
    """dedup_images decomposed into its public lane calls, one span each,
    every intermediate materialized so each span owns its work."""
    import pyspark.sql.functions as F

    from datasketches_cpp_spark.operators import cc
    from datasketches_cpp_spark.operators.dedup import candidate_pairs_adaptive
    from datasketches_cpp_spark.operators.imagededup import fuse_edges, phash_pairs
    from datasketches_cpp_spark.operators.minhash import compute_signatures
    from datasketches_cpp_spark.operators.substring import substring_pairs
    from datasketches_cpp_spark.operators.verify import verify_pairs
    from inputs import BYTE_STRIDE, BYTES_CFG, CFG

    images = spark.read.parquet(wl.path)
    lanes = (("caption", CFG, "text", 1, True), ("bytes", BYTES_CFG, "binary", BYTE_STRIDE, False))
    sigs, parts = {}, []
    counts = {"candidates": 0, "passed": 0}
    for lane, cfg, kind, stride, _ in lanes:
        with spans.span(f"minhash.{lane}_sig"):
            sigs[lane] = compute_signatures(
                images, "image_id", lane, cfg, kind=kind, byte_stride=stride
            ).drop("mh_sig").localCheckpoint(eager=True)
    for lane, cfg, _, _, simhash in lanes:
        with spans.span(f"dedup.{lane}_pairs"):
            cand = candidate_pairs_adaptive(
                sigs[lane], cfg, max_pairs_group=MAX_PAIRS_GROUP, use_simhash=simhash
            ).localCheckpoint(eager=True)
            counts["candidates"] += cand.count()
        with spans.span(f"verify.{lane}"):
            passed = verify_pairs(
                cand, sigs[lane], cfg, use_simhash=simhash, include_mh=False
            ).where("passed").select("a", "b").localCheckpoint(eager=True)
            counts["passed"] += passed.count()
        parts.append((lane, passed))
    with spans.span("imagededup.phash_pairs"):
        parts.append(("phash", phash_pairs(images, CFG, max_pairs_group=MAX_PAIRS_GROUP)
                      .select("a", "b").localCheckpoint(eager=True)))
    with spans.span("substring.pairs"):
        sub = substring_pairs(images, "image_id", "caption", CFG).select("a", "b")
        sub = sub.localCheckpoint(eager=True)
        counts["substring_edges"] = sub.count()
    parts.append(("substring", sub))
    with spans.span("cc.assign"):
        _, raw = fuse_edges(parts, "any")
        counts["edges_in"] = raw.count()
        got = {
            r["id"]: r["cluster_id"]
            for r in cc.assign_clusters(images.select(F.col("image_id").alias("id")), raw)
            .collect()
        }
        counts["cc_rounds"] = cc.LAST_STATS.get("rounds", 0)
    return got, counts


BATCH_LAYER_SPANS = {
    "minhash": ("minhash.caption_sig", "minhash.bytes_sig"),
    "dedup": ("dedup.caption_pairs", "dedup.bytes_pairs"),
    "verify": ("verify.caption", "verify.bytes"),
    "imagededup.phash_pairs": ("imagededup.phash_pairs",),
    "substring": ("substring.pairs",),
    "cc": ("cc.assign",),
    "imagededup.dedup_images": ("imagededup.dedup_images",),
}
LANE_SPANS = tuple(s for k, v in BATCH_LAYER_SPANS.items()
                   if k != "imagededup.dedup_images" for s in v)


def _sum(stats, names, key):
    return sum(stats.get(n, {}).get(key, 0.0) for n in names)


def _gc_and_spill(out, prefix, spans, stats, names):
    """GC and spill summed over a whole workload's spans: at these sizes a
    single layer often sees no GC pause and no spill at all."""
    out[f"{prefix}.gc_s"] = (sum(spans.gc_s[n] for n in names), "s")
    out[f"{prefix}.spill_mb"] = (_sum(stats, names, "spill_mb"), "MB")


def _coverage(spans, names):
    inside, wall = spans.covered_s(names)
    return inside / wall if wall else 0.0


def batch_layer_metrics(spans, stats, counts, untraced_s) -> dict:
    w = spans.wall_s
    out = {
        "minhash.caption_sig_s": (w("minhash.caption_sig"), "s"),
        "minhash.bytes_sig_s": (w("minhash.bytes_sig"), "s"),
        "minhash.python_mb": (_sum(stats, BATCH_LAYER_SPANS["minhash"], "python_mb"), "MB"),
        "minhash.task_cpu_s": (_sum(stats, BATCH_LAYER_SPANS["minhash"], "task_cpu_s"), "s"),
        "dedup.caption_pairs_s": (w("dedup.caption_pairs"), "s"),
        "dedup.bytes_pairs_s": (w("dedup.bytes_pairs"), "s"),
        "dedup.candidates": (counts["candidates"], "count"),
        "dedup.shuffle_write_mb": (
            _sum(stats, BATCH_LAYER_SPANS["dedup"], "shuffle_write_mb"), "MB"),
        "verify.s": (w("verify.caption") + w("verify.bytes"), "s"),
        "verify.pass_ratio": (counts["passed"] / max(counts["candidates"], 1), "ratio"),
        "imagededup.phash_pairs_s": (w("imagededup.phash_pairs"), "s"),
        "substring.pairs_s": (w("substring.pairs"), "s"),
        "substring.edges": (counts["substring_edges"], "count"),
        "cc.assign_s": (w("cc.assign"), "s"),
        "cc.edges_in": (counts["edges_in"], "count"),
        "cc.rounds": (counts["cc_rounds"], "count"),
        "imagededup.dedup_images_s": (w("imagededup.dedup_images"), "s"),
        "imagededup.lane_overlap": (
            sum(w(s) for s in LANE_SPANS) / w("imagededup.dedup_images"), "ratio"),
        "imagededup.trace_overhead": (w("imagededup.dedup_images") / untraced_s - 1, "ratio"),
        "imagededup.span_coverage": (
            _coverage(spans, LANE_SPANS + ("imagededup.dedup_images",)),
            "ratio"),
    }
    for prefix, names in BATCH_LAYER_SPANS.items():
        out[f"{prefix}.jobs"] = (_sum(stats, names, "jobs"), "count")
    _gc_and_spill(out, "imagededup", spans, stats,
                  LANE_SPANS + ("imagededup.dedup_images",))
    return out


def sketch_layer_metrics(spans, stats, untraced_s) -> dict:
    out = {}
    names = tuple(f"functions.{f}" for f in FAMILIES)
    for name in names:
        s = stats.get(name, {})
        out[f"{name}_s"] = (spans.wall_s(name), "s")
        out[f"{name}.task_cpu_s"] = (s.get("task_cpu_s", 0.0), "s")
        out[f"{name}.python_mb"] = (s.get("python_mb", 0.0), "MB")
        out[f"{name}.shuffle_write_mb"] = (s.get("shuffle_write_mb", 0.0), "MB")
        out[f"{name}.jobs"] = (s.get("jobs", 0), "count")
    _gc_and_spill(out, "functions", spans, stats, names)
    traced = sum(spans.wall_s(n) for n in names)
    out["functions.trace_overhead"] = (traced / untraced_s - 1, "ratio")
    out["functions.span_coverage"] = (_coverage(spans, names), "ratio")
    return out


def stream_layer_metrics(spans, stats, lat, asg_s, store) -> dict:
    pb = ("incremental.process_batch",)
    out = {
        "incremental.process_batch_s": (_median(lat), "s"),
        "incremental.jobs_per_epoch": (_sum(stats, pb, "jobs") / max(len(lat), 1), "count"),
        "incremental.task_cpu_s": (_sum(stats, pb, "task_cpu_s"), "s"),
        "incremental.store_files": (store["files"], "count"),
        "incremental.store_mb": (store["mb"], "MB"),
        "incremental.assignments_s": (asg_s, "s"),
        "incremental.span_coverage": (
            _coverage(spans, pb + ("incremental.assignments",)), "ratio"),
    }
    out["incremental.jobs"] = (_sum(stats, pb + ("incremental.assignments",), "jobs"), "count")
    _gc_and_spill(out, "incremental", spans, stats, pb + ("incremental.assignments",))
    return out


def _store_size(state_dir: str) -> dict:
    files, size = 0, 0
    for dirpath, _, names in os.walk(state_dir):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(dirpath, n))
    return {"files": files, "mb": size / 1e6}


def run_traced(workloads: list[Workload], session: Session) -> tuple[Tally, dict]:
    """Untraced baseline in one session, then the same passes plus the lane
    decomposition in a second session with the event log on."""
    from tracing import Spans, fold_by_span

    tally = Tally()
    start_s, warm_s = session.start()
    untraced, untraced_out = {}, {}

    def baseline_pass():
        out, lat = wl.run_pass(session.spark)
        untraced_out[wl.name] = out
        return out, lat

    for wl in workloads:
        if wl.primes:
            for _ in range(wl.primes):
                tally.checked(wl, lambda: wl.run_pass(session.spark))
            lat = tally.checked(wl, baseline_pass)
            untraced[wl.name] = sum(lat) if lat is not None else float("nan")
    session.stop()

    session.start(eventlog=True)
    spark = session.spark
    spans = Spans(spark.sparkContext)
    results = {}
    for wl in workloads:
        if wl.name == "batch_images":
            # the lanes first: they warm this session for the concurrent
            # call, whose wall the untraced baseline is compared with
            def lanes():
                got, results["batch_counts"] = traced_batch_lanes(spark, wl, spans)
                if got != untraced_out.get(wl.name):
                    raise RuntimeError("lane-by-lane assignments differ from the untraced call")
                return got, []

            tally.checked(wl, lanes)
            tally.checked(wl, lambda: wl.run_pass(spark, spans))
        elif wl.name == "sketch_aggs":
            tally.checked(wl, lambda: wl.run_pass(spark, spans))
        else:
            stores = []
            wl.on_epoch = lambda d: stores.append(_store_size(d))
            results["stream_lat"] = tally.checked(wl, lambda: wl.run_pass(spark, spans))
            results["stream_store"] = stores[-1] if stores else {"files": 0, "mb": 0.0}
    session.stop()
    stats = fold_by_span(os.path.join(session.work, "eventlog"), spans)

    metrics = {"session.start_s": (start_s, "s"), "session.warmup_s": (warm_s, "s")}
    for wl in workloads:
        if wl.name == "batch_images" and results.get("batch_counts"):
            metrics.update(batch_layer_metrics(
                spans, stats, results["batch_counts"], untraced[wl.name]))
        elif wl.name == "sketch_aggs":
            metrics.update(sketch_layer_metrics(spans, stats, untraced[wl.name]))
        elif wl.name == "stream_images" and results.get("stream_lat"):
            metrics.update(stream_layer_metrics(
                spans, stats, results["stream_lat"],
                spans.wall_s("incremental.assignments"), results["stream_store"]))
    record = {"untraced_pass_s": untraced, "spans": spans.intervals, "span_stats": stats}
    return tally, {"metrics": metrics, "record": record}


# -- entry point --------------------------------------------------------------------


def host_record(args, cores, workloads) -> dict:
    import pyspark

    from bench import cpu_sentinel

    return {
        "nproc": cores,
        "master": f"local[{cores}]",
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "seed": args.seed,
        "workload": args.workload,
        "trace": args.trace,
        "sizes": {wl.name: wl.sizes() for wl in workloads},
        "cpu_sentinel_s": cpu_sentinel(),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        import bench  # noqa: F401  (cpu_sentinel and the cgroup CPU reader)
        import datasketches_cpp_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: run from the repository root ({ROOT} lacks it): {e}",
              file=sys.stderr)
        return 2

    t_start = time.monotonic()
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(BENCH_DIR, ".work", f"run-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    session = Session(work, cores)
    try:
        if args.trace and args.workload in LISTED_WORKLOADS:
            # every traced run reports the full per-layer set, so it covers
            # both listed workloads, always in the same order
            names = list(LISTED_WORKLOADS)
        else:
            names = [args.workload]
        workloads = [WORKLOAD_CLASSES[n](args.seed, work) for n in names]
        t_inputs = time.monotonic()
        record = host_record(args, cores, workloads)
        if args.trace:
            tally, res = run_traced(workloads, session)
        else:
            tally, res = run_untraced(workloads[0], session, args.seconds)
        t_end = time.monotonic()
    finally:
        session.shutdown()
        shutil.rmtree(work, ignore_errors=True)

    record.update(res["record"])
    # phase boundaries, in seconds since start: a map of where a run's wall goes
    marks = {"inputs": t_start, "sentinel": t_inputs, **record.pop("marks", {}),
             "shutdown": t_end, "end": time.monotonic()}
    record["phases_s"] = {k: round(v - t_start, 2) for k, v in marks.items()}
    record.update(tally.extra)
    record["problems"] = tally.problems[:20]
    for p in tally.problems[:20]:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    print(json.dumps({"record": record}, default=float))
    print(json.dumps({
        "correct": tally.failed == 0 and tally.attempted > 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        # a run with no successful timed pass has no measurement; it is
        # reported incorrect, with zeros in place of the undefined medians
        "metrics": {k: {"value": float(v) if math.isfinite(v) else 0.0, "unit": u}
                    for k, (v, u) in res["metrics"].items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
