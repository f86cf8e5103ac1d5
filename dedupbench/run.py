"""Benchmark of the miekki dedup engine through its public entry points.

Run from the repo root:

    python3 dedupbench/run.py --workload web-crawl --seed 1 --seconds 1 --trace 0

Workloads (see dedupbench/README.md for why each exists):
  web-crawl          miekki.pipeline.run over a fresh HadoopCatalog
  recrawl-dense      the same job over a recrawl-heavy, skewed corpus
  stream-increments  miekki.streaming.incremental_dedup_batch micro-batches
                     against a seeded history state

One client in a closed loop: the next operation starts when the previous
one returns, until ``--seconds`` have passed (at least one operation).
Every operation's output is checked against the planted truth. The last
stdout line is one JSON object: {"correct", "attempted", "failed",
"metrics"}; ``--trace 0`` reports the end-to-end metrics, ``--trace 1``
the per-layer metrics of a traced run. The exit code is non-zero when a
check fails. All files live under .dedupbench_work/ in the repo root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".dedupbench_work")

SIZES = {
    "web-crawl": {"base": 6144},                # 7,222 pages
    "recrawl-dense": {"pages": 960},            # 4,800 pages
    "stream-increments": {"history": 8000, "pool": 4000, "batches": 3,
                          "batch": 1000},
}
SETUP_ROUNDS = 3
DRIVER_MEM = "1g"
# Every run is one cold operation in a short-lived JVM: C1-only tiering
# (what short-lived JVM tools use) cut one web-crawl run from 66 s to
# 50 s on a 4-core box, which keeps the benchmark's runs inside its time
# budget. `miekki.cli run` does not set it, so every run prints it next
# to its metrics. -UsePerfData: no hsperfdata files outside the run
# directory.
JVM_OPTS = "-XX:TieredStopAtLevel=1 -XX:-UsePerfData"

E2E_UNITS = {
    "docs_per_s": "docs/s", "pair_recall": "ratio",
    "cluster_purity": "ratio", "stored_bytes_per_doc": "B/doc",
    "peak_rss_mb": "MB", "setup_s": "s",
}
STAGES = ("docs_norm", "signatures", "candidate_edges", "cluster_labels")
LAYER_UNITS = {
    "session.start_s": "s", "native.loaded": "bool",
    "normalize.wall_s": "s",
    "signatures.wall_s": "s", "signatures.boundary_s": "s",
    "signatures.kernel_s": "s",
    "lsh.band_table.wall_s": "s", "lsh.star_edges.wall_s": "s",
    "lsh.candidates": "count", "lsh.star_edges.shuffle_mb": "MB",
    "lsh.star_edges.straggler_ratio": "ratio",
    "verify.wall_s": "s", "verify.shuffle_mb": "MB", "verify.yield": "ratio",
    "simhash.wall_s": "s", "simhash.candidates": "count",
    "simhash.yield": "ratio",
    "substr.wall_s": "s", "substr.anchors.wall_s": "s",
    "substr.pairs.wall_s": "s", "substr.anchor_rows": "count",
    "substr.pairs.shuffle_mb": "MB", "substr.pairs.straggler_ratio": "ratio",
    "substr.yield": "ratio",
    "cc.wall_s": "s", "cc.rounds": "count", "cc.edges_in": "count",
    "cc.shuffle_mb": "MB",
    "canonical.wall_s": "s",
    "catalog.overwrite_s": "s", "catalog.append_s": "s",
    "catalog.bytes_written": "B", "catalog.files_written": "count",
    "lineage.mark_s": "s", "lineage.lookup_s": "s", "lineage.metrics_s": "s",
    "lineage.resume_s": "s",
    **{f"pipeline.stage.{s}.wall_s": "s" for s in STAGES},
    "pipeline.unattributed_s": "s",
    "stream.cc_s": "s", "stream.append_s": "s",
    "stream.jobs_per_batch": "count", "stream.history_read_mb_per_batch": "MB",
    "stream.shuffle_mb_per_batch": "MB",
    "spark.jobs": "count", "spark.tasks": "count", "spark.shuffle_mb": "MB",
    "spark.spill_mb": "MB",
    "trace.docs_per_s": "docs/s", "trace.wall_s": "s", "trace.self_sum_s": "s",
    "bench.calib_s": "s", "bench.loadavg_1m": "load",
}


T_START = time.perf_counter()


def log(msg: str) -> None:
    print(f"[dedupbench {time.perf_counter() - T_START:6.1f}s] {msg}",
          file=sys.stderr, flush=True)


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, files) of the data files under ``path``."""
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                size += os.path.getsize(os.path.join(root, n))
                files += 1
    return size, files


def tree_pids(pid: int) -> set[int]:
    """``pid`` and all its descendants (the JVM and its Python workers)."""
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
    tree, frontier = {pid}, [pid]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p and c not in tree:
                tree.add(c)
                frontier.append(c)
    return tree


def tree_rss_mb(pid: int) -> float:
    """RSS of the JVM ``pid`` plus its Python descendants (the workers).
    Other descendants are short-lived helpers the JVM forks (chmod,
    jspawnhelper); between fork and exec their RSS is the JVM's own
    pages counted a second time."""
    total = 0
    for p in tree_pids(pid):
        try:
            with open(f"/proc/{p}/comm") as f:
                if p != pid and not f.read().startswith("python"):
                    continue
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except OSError:
            continue
    return total / 2**20


class RssSampler:
    """Peak tree RSS while the operations run (sampled every 100 ms)."""

    def __init__(self, pid: int):
        self.pid, self.peak = pid, 0.0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_mb(self.pid))
            self._stop.wait(0.1)

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join(timeout=10)
        self.peak = max(self.peak, tree_rss_mb(self.pid))
        return False


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.sizes = SIZES[workload]
        self.run_dir = os.path.join(WORK, f"run_{os.getpid()}")
        self.cores = len(os.sched_getaffinity(0))
        self.spark = None
        self.jvm = None
        self.tracer = None
        self.layer = {}
        os.makedirs(os.path.join(self.run_dir, "tmp"), exist_ok=True)
        self._configure_env()

    # ---- environment -------------------------------------------------
    def _configure_env(self) -> None:
        """Fit the session to this box through environment variables:
        every scratch path inside the run directory, the repo on the
        Python workers' path."""
        local = os.path.join(self.run_dir, "spark-local")
        tmp = os.path.join(self.run_dir, "tmp")
        py_path = os.environ.get("PYTHONPATH")
        os.environ.update({
            "PYTHONPATH": ROOT + (os.pathsep + py_path if py_path else ""),
            "MIEKKI_DRIVER_MEM": DRIVER_MEM,
            "MIEKKI_LOCAL_DIR": local,
            "SPARK_LOCAL_DIRS": local,
            "MIEKKI_NATIVE_DIR": os.path.join(WORK, "native"),
            "TMPDIR": tmp,
            "JAVA_TOOL_OPTIONS": f"{JVM_OPTS} -Djava.io.tmpdir={tmp}",
        })
        os.environ.pop("MIEKKI_EVENTLOG", None)
        os.environ.pop("MIEKKI_NATIVE", None)

    def start_session(self, eventlog: bool = False):
        from miekki.session import build_spark

        if eventlog:
            os.environ["MIEKKI_EVENTLOG"] = os.path.join(self.run_dir, "events")
        spark = build_spark(
            master=f"local[{self.cores}]", app_name="dedupbench",
            shuffle_partitions=self.cores,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        os.environ.pop("MIEKKI_EVENTLOG", None)
        self.jvm = spark.sparkContext._gateway.proc
        return spark

    def native_loaded(self) -> int:
        """1 when the driver and every Python worker load the C kernel,
        0 when any of them would fall back to numpy."""
        from miekki import native

        def probe(_):
            from miekki import native as n
            yield n.load() is not None

        n = self.cores
        workers = self.spark.sparkContext.parallelize(range(n), n).mapPartitions(probe).collect()
        return int(native.load() is not None and all(workers))

    # ---- inputs --------------------------------------------------------
    def generate(self) -> None:
        import pandas as pd

        from workloads import materialize

        self.paths = materialize(os.path.join(WORK, "inputs"), self.workload,
                                 self.seed, self.sizes)
        self.truth_pairs = pd.read_parquet(self.paths["truth_pairs"])
        self.truth_clusters = pd.read_parquet(self.paths["truth_clusters"])
        if self.is_stream:
            from workloads import stream_batches

            sz = self.sizes
            self.batch_rows = stream_batches(self.seed, sz["history"], sz["pool"],
                                             sz["batches"], sz["batch"])

    # ---- set-up ---------------------------------------------------------
    def new_catalog(self, tag: str):
        from miekki.catalog import HadoopCatalog

        root = os.path.join(self.run_dir, f"catalog_{tag}")
        shutil.rmtree(root, ignore_errors=True)
        return HadoopCatalog(self.spark, root)

    def ingest(self, tag: str):
        """A fresh catalog holding the workload's pages as `corpus`."""
        cat = self.new_catalog(tag)
        corpus = self.spark.read.parquet(self.paths["corpus"])
        cat.overwrite("corpus", corpus.repartition(self.cores), run_id="ingest")
        return cat

    @property
    def is_stream(self) -> bool:
        return self.workload == "stream-increments"

    def stream_batch(self, i: int) -> str:
        """Parquet of micro-batch ``i``, drawn from the universe's pool."""
        path = os.path.join(self.run_dir, f"batch_{i}.parquet")
        if not os.path.exists(path):
            import pandas as pd

            pd.read_parquet(self.paths["corpus"]).iloc[self.batch_rows[i]].to_parquet(
                path, index=False)
        return path

    def history_state(self) -> str:
        """Catalog root holding the stream state after the history was
        ingested by the program. Built once per checkout, in a child
        process so this run's JVM stays as cold as every other run's."""
        tag = "_".join(f"{k}{self.sizes[k]}" for k in ("history", "pool"))
        root = os.path.join(WORK, f"history_{tag}")
        if not os.path.isdir(root):
            t0 = time.perf_counter()
            subprocess.run([sys.executable, os.path.abspath(__file__),
                            "--seed-history", root], check=True, timeout=600)
            log(f"history state built in {time.perf_counter() - t0:.1f} s")
        return root

    def seed_history(self, root: str) -> None:
        """Child-process body of history_state()."""
        from miekki.config import DedupConfig
        from miekki.streaming import incremental_dedup_batch

        self.generate()
        import pandas as pd

        path = os.path.join(self.run_dir, "history.parquet")
        pd.read_parquet(self.paths["corpus"]).iloc[:self.sizes["history"]].to_parquet(
            path, index=False)
        self.spark = self.start_session()
        cat = self.new_catalog("history")
        incremental_dedup_batch(self.spark, cat, self.spark.read.parquet(path),
                                DedupConfig(), run_id="history")
        os.replace(cat.root, root)

    def setup_round(self, k: int, last: bool) -> float:
        """One set-up: a fresh session and a fresh catalog."""
        t0 = time.perf_counter()
        self.spark.stop()
        self.spark = self.start_session(eventlog=self.trace and last)
        t1 = time.perf_counter()
        if self.is_stream:
            cat = self.new_catalog(f"op{k}")
            shutil.rmtree(cat.root)
            shutil.copytree(self.history_root, cat.root)
        else:
            cat = self.ingest(f"op{k}")
        self.catalog = cat
        t2 = time.perf_counter()
        log(f"set-up round {k}: session {t1 - t0:.2f} s, catalog {t2 - t1:.2f} s")
        return t2 - t0

    # ---- operations ----------------------------------------------------
    def op_batch(self, i: int) -> dict:
        from miekki.config import DedupConfig
        from miekki.pipeline import run

        cat = self.catalog if i == 0 else self.ingest(f"extra{i}")
        self.catalog = cat
        before = dir_stats(cat.root)
        t0 = time.perf_counter()
        res = run(self.spark, cat, DedupConfig(), run_id=f"op{i}")
        wall = time.perf_counter() - t0
        after = dir_stats(cat.root)
        labels = cat.read("cluster_labels").select("doc_id", "cluster_id").toPandas()
        expected = self.truth_clusters.doc_id
        problems = []
        if res["n_docs"] != self.paths["n_docs"]:
            problems.append(f"n_docs {res['n_docs']} != {self.paths['n_docs']}")
        return self._checked(wall, self.paths["n_docs"], labels, expected,
                             after[0] - before[0], after[1] - before[1], problems)

    def op_stream(self, i: int) -> dict:
        from miekki.config import DedupConfig
        from miekki.streaming import incremental_dedup_batch, read_stream_labels

        # the batch arrives as a materialized frame (as foreachBatch hands
        # it over), so its own file scan is not counted as history reads
        batch = self.spark.read.parquet(self.stream_batch(i)).localCheckpoint()
        before = dir_stats(self.catalog.root)
        t0 = time.perf_counter()
        incremental_dedup_batch(self.spark, self.catalog, batch, DedupConfig(),
                                run_id=f"op{i}")
        wall = time.perf_counter() - t0
        after = dir_stats(self.catalog.root)
        labels = read_stream_labels(self.catalog).toPandas()
        # truth_clusters rows are aligned with the universe's rows
        rows = np.concatenate([np.arange(self.sizes["history"]), *self.batch_rows[:i + 1]])
        expected = self.truth_clusters.doc_id.iloc[rows]
        return self._checked(wall, self.sizes["batch"], labels, expected,
                             after[0] - before[0], after[1] - before[1], [])

    def _checked(self, wall, docs, labels, expected, bytes_added, files_added,
                 problems) -> dict:
        from checks import check_labels

        more, recall, purity = check_labels(labels, expected, self.truth_pairs,
                                            self.truth_clusters,
                                            with_substr=not self.is_stream)
        return {"wall": wall, "docs": docs, "recall": recall, "purity": purity,
                "bytes": bytes_added, "files": files_added,
                "problems": problems + more}

    # ---- the run -------------------------------------------------------
    def run(self) -> dict:
        from bench import calibration_probe

        calib = calibration_probe()
        load = os.getloadavg()[0]
        log(f"box: calibration_probe {calib:.3f} s, loadavg {load:.2f}, "
            f"{self.cores} cores")
        self.layer.update({"bench.calib_s": calib, "bench.loadavg_1m": load})

        self.generate()
        log(f"inputs ready: {self.paths['n_docs']} docs, "
            f"{self.paths['family_share']:.3f} of them in planted families")
        t0 = time.perf_counter()
        self.spark = self.start_session()
        self.layer["session.start_s"] = time.perf_counter() - t0
        log(f"session started in {self.layer['session.start_s']:.2f} s")
        if self.is_stream:
            self.history_root = self.history_state()

        setups = [self.setup_round(k, k == SETUP_ROUNDS - 1)
                  for k in range(SETUP_ROUNDS)]
        # warm-up: start the Python worker pool the operation reuses and
        # load the C kernel in every worker
        t0 = time.perf_counter()
        self.layer["native.loaded"] = self.native_loaded()
        warm = time.perf_counter() - t0
        log("set-up rounds " + ", ".join(f"{s:.2f}" for s in setups)
            + f" s, worker warm-up {warm:.2f} s")

        if self.trace:
            from spans import Tracer

            self.tracer = Tracer(self.spark)
            self.tracer.install()
        op = self.op_stream if self.is_stream else self.op_batch
        n_ops = self.sizes.get("batches", 1_000_000)
        results, attempted, failed = [], 0, 0
        t_start = time.perf_counter()
        with RssSampler(self.jvm.pid) as rss:
            while attempted < n_ops:
                attempted += 1
                try:
                    r = op(attempted - 1)
                except Exception:
                    traceback.print_exc()
                    failed += 1
                    break
                results.append(r)
                log(f"op {attempted - 1}: {r['wall']:.2f} s for {r['docs']} docs, "
                    f"recall {r['recall']:.4f}, purity {r['purity']:.4f}")
                if r["problems"]:
                    log(f"op {attempted - 1}: check failed: {'; '.join(r['problems'])}")
                    failed += 1
                if time.perf_counter() - t_start >= self.seconds:
                    break
        docs = sum(r["docs"] for r in results)
        e2e = {  # 0, not NaN, when no operation completed: JSON has no NaN
            "docs_per_s": docs / sum(r["wall"] for r in results) if results else 0.0,
            "pair_recall": min((r["recall"] for r in results), default=0.0),
            "cluster_purity": min((r["purity"] for r in results), default=0.0),
            "stored_bytes_per_doc": (sum(r["bytes"] for r in results) / docs
                                     if docs else 0.0),
            "peak_rss_mb": rss.peak,
            "setup_s": statistics.median(setups) + warm,
        }
        metrics, units = e2e, E2E_UNITS
        if self.trace:
            units = LAYER_UNITS
            try:
                metrics = self.traced_metrics(results)
            except Exception:
                traceback.print_exc()
                failed += 1
                metrics = {k: 0.0 for k in units}
        # run context printed next to the metrics of every run (the JSON
        # line's keys are fixed): a numpy fallback of the signature kernel
        # is ~7.5x slower and must not pass for a regression
        context = {"native.loaded": self.layer["native.loaded"],
                   "fail_ratio": f"{failed}/{attempted}",
                   "family_share": round(self.paths["family_share"], 4),
                   "jvm_opts": JVM_OPTS, "driver_mem": DRIVER_MEM}
        for k, v in context.items():
            log(f"{k} {v}")
            print(f"{self.workload} {k} = {v}")
        for k, v in metrics.items():
            print(f"{self.workload} {k} = {v:.6g} {units[k]}")
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }

    # ---- traced run ------------------------------------------------------
    def traced_metrics(self, results) -> dict:
        from miekki.config import DedupConfig
        from isolate import stage_walls
        from spans import parse_event_log

        tr = self.tracer
        tr.uninstall()
        if not results:
            raise RuntimeError("no operation completed")
        cfg = DedupConfig()
        m = {k: 0.0 for k in LAYER_UNITS}
        m.update(self.layer)
        roots = [s.sid for s in tr.spans
                 if s.parent is None and s.name in ("pipeline.run", "stream.batch")]
        n = len(roots)
        wall = sum(tr.spans[r].end - tr.spans[r].start for r in roots)
        selfs = {}
        for r in roots:
            selfs.update(tr.self_times(r))
        unattributed = sum(selfs.pop(r) for r in roots)
        m["trace.wall_s"] = wall / n
        m["trace.self_sum_s"] = sum(selfs.values()) / n
        m["trace.docs_per_s"] = sum(r["docs"] for r in results) / wall
        m["pipeline.unattributed_s"] = unattributed / n

        def incl(name):
            return sum(tr.inclusive(r, name) for r in roots) / n

        m["catalog.overwrite_s"] = incl("catalog.overwrite")
        m["catalog.append_s"] = incl("catalog.append")
        m["catalog.bytes_written"] = sum(r["bytes"] for r in results) / n
        m["catalog.files_written"] = sum(r["files"] for r in results) / n
        if self.is_stream:
            m["stream.cc_s"] = incl("cc")
            m["stream.append_s"] = incl("catalog.append")
            corpus = self.spark.read.parquet(self.stream_batch(0))
        else:
            for s in STAGES:
                m[f"pipeline.stage.{s}.wall_s"] = incl(f"pipeline.stage.{s}")
            m["lineage.mark_s"] = incl("lineage.mark")
            m["lineage.lookup_s"] = incl("lineage.lookup")
            m["lineage.metrics_s"] = incl("lineage.metrics")
            from miekki.pipeline import run

            with tr.span("lineage.resume"):
                t0 = time.perf_counter()
                res = run(self.spark, self.catalog, cfg, run_id="resume")
                m["lineage.resume_s"] = time.perf_counter() - t0
            if res["executed"]:
                raise RuntimeError(f"resume re-executed {res['executed']}")
            corpus = self.catalog.read("corpus")

        iso, iso_spans = stage_walls(tr, corpus, cfg)
        m.update(iso)

        app_id = self.spark.sparkContext.applicationId
        self.spark.stop()
        self.spark = None
        ev = parse_event_log(os.path.join(self.run_dir, "events"), app_id)

        def subtree_ids(sid):
            return {s.sid for s in tr.subtree(sid)}

        op_ids = set().union(*(subtree_ids(r) for r in roots))
        tot = ev.totals(op_ids)
        m["spark.jobs"] = tot["jobs"] / n
        m["spark.tasks"] = tot["tasks"] / n
        m["spark.shuffle_mb"] = tot["shuffle_mb"] / n
        m["spark.spill_mb"] = tot["spill_mb"] / n
        if self.is_stream:
            m["stream.jobs_per_batch"] = tot["jobs"] / n
            m["stream.shuffle_mb_per_batch"] = tot["shuffle_mb"] / n
            m["stream.history_read_mb_per_batch"] = tot["files_read_mb"] / n
        for name in ("lsh.star_edges", "substr.pairs"):
            t = ev.totals(subtree_ids(iso_spans[name]))
            m[f"{name}.shuffle_mb"] = t["shuffle_mb"]
            m[f"{name}.straggler_ratio"] = t["straggler_ratio"]
        for name in ("verify", "cc"):
            m[f"{name}.shuffle_mb"] = ev.totals(subtree_ids(iso_spans[name]))["shuffle_mb"]

        log(f"reconciliation per op: layer self times {m['trace.self_sum_s']:.3f} s "
            f"+ pipeline.unattributed_s {m['pipeline.unattributed_s']:.3f} s "
            f"= {m['trace.self_sum_s'] + m['pipeline.unattributed_s']:.3f} s; "
            f"traced wall {m['trace.wall_s']:.3f} s ({n} op(s), {len(tr.spans)} spans)")
        return m

    # ---- teardown ------------------------------------------------------
    def close(self) -> None:
        """Stop Spark, end the JVM and its Python workers, wait for
        every one of them, and remove the run directory."""
        if self.tracer is not None:
            self.tracer.uninstall()
        if self.spark is not None:
            try:
                self.spark.stop()
            except Exception:
                traceback.print_exc()
        if self.jvm is not None:
            from pyspark import SparkContext

            kids = tree_pids(self.jvm.pid) - {self.jvm.pid}
            gw = SparkContext._gateway
            if gw is not None:
                gw.shutdown()
                SparkContext._gateway = None
                SparkContext._jvm = None
            if self.jvm.stdin:
                self.jvm.stdin.close()
            try:
                self.jvm.wait(timeout=60)
            except Exception:
                self.jvm.kill()
                self.jvm.wait(timeout=30)
            deadline = time.time() + 30
            for pid in kids:
                while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
                    time.sleep(0.1)
                if os.path.exists(f"/proc/{pid}"):
                    os.kill(pid, 9)
        shutil.rmtree(self.run_dir, ignore_errors=True)


def main() -> int:
    if sys.argv[1:2] == ["--seed-history"]:
        sys.path[:0] = [HERE, ROOT]
        bench = Bench("stream-increments", 0, 0, False)
        try:
            bench.seed_history(sys.argv[2])
        finally:
            bench.close()
        return 0
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "miekki", "pipeline.py")):
        log(f"no miekki package under {ROOT}: run from a full checkout")
        return 2
    sys.path[:0] = [HERE, ROOT]
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        result = bench.run()
    finally:
        bench.close()
    log("done")
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
