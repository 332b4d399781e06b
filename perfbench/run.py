#!/usr/bin/env python3
"""Crawl benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload crawl_small --seed 1 --seconds 15 --trace 0

Run from the repository root. The untraced run (``--trace 0``) times whole
crawls on fresh catalogs in a warm session and prints the end-to-end
metrics; the traced run (``--trace 1``) records spans and Spark job-group
figures around the engine's layers and prints the per-layer metrics. Both
check every crawl against the reference oracle after the clock stops.
Metric names and units come from ``BENCHMARK.json``. Everything the run
writes stays under ``.perfbench_work/`` in the repository root.
"""

from __future__ import annotations

import os
import sys
import time


def _process_start() -> float:
    """Wall-clock start of this process (so interpreter start-up counts
    towards set-up); falls back to now off Linux."""
    try:
        with open("/proc/self/stat") as f:
            start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
        return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))
    except (OSError, ValueError, IndexError):
        return time.time()


T_PROCESS = _process_start()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
TMP = os.path.join(WORK, "tmp")
os.makedirs(TMP, exist_ok=True)
os.environ["TMPDIR"] = TMP
sys.path.insert(0, ROOT)

import argparse  # noqa: E402
import json  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import traceback  # noqa: E402
import uuid  # noqa: E402
from dataclasses import asdict, replace  # noqa: E402

# the engine must be importable from the checkout; without it the run stops
# here, before any result is printed
from nightcrawler_ds_pipeline_spark.crawl.loop import run_crawl  # noqa: E402
from nightcrawler_ds_pipeline_spark.crawl.tables import SnapshotCatalog  # noqa: E402
from nightcrawler_ds_pipeline_spark.session import get_spark  # noqa: E402
from pyspark import SparkContext  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

import check  # noqa: E402
import fixtures  # noqa: E402
import record  # noqa: E402
import replay  # noqa: E402
import sparkstats  # noqa: E402
import stats  # noqa: E402
from catalog import TracingCatalog  # noqa: E402
from spans import Tracer, self_time, union_length  # noqa: E402
from workloads import WARMUP, WORKLOADS  # noqa: E402

# The engine's 8g default lets the driver heap grow to 7-8 GB before it
# collects, and where it stops varies by 17% from run to run. A 1g heap that
# is committed and touched at launch (-Xms = -Xmx, AlwaysPreTouch) puts the
# whole heap in RSS from the start, so peak RSS (about 2 GB) no longer
# depends on when the collector happens to run: it varies by under 1%
# instead of 10%.
DRIVER_MEM = "1g"
WRITE_TABLES = ("frontier", "seen", "results", "politeness", "bloom", "metrics", "lineage")


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def start_session(nproc: int):
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # Python workers unpickle engine UDFs, so they need the checkout on path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in [ROOT, os.environ.get("PYTHONPATH", "")] if p
    )
    spark = get_spark(
        app_name="perfbench",
        cpus=nproc,
        extra_conf={
            # no hsperfdata files under /tmp: the run writes only here
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={TMP} -XX:-UsePerfData "
            f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
            "spark.sql.warehouse.dir": os.path.join(WORK, "spark-warehouse"),
            # keep every job and stage of a run readable by job group
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.range(1).count()
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


class Bench:
    def __init__(self, args):
        self.args = args
        self.wl = WORKLOADS[args.workload]
        self.cfg = self.wl.crawl_config()
        self.nproc = len(os.sched_getaffinity(0))
        self.run_id = f"pb{os.getpid()}-{uuid.uuid4().hex[:6]}"
        # this run's fixture and catalogs; deleted when the run ends
        self.run_dir = os.path.join(WORK, "runs", self.run_id)
        self.crawls: list[dict] = []  # every timed crawl, in order
        self.tracer = Tracer(self.run_id)
        self.groups_seen: list[str] = []

    # -- crawls ---------------------------------------------------------
    def crawl(self, traced: bool) -> dict:
        label = "traced" if traced else "plain"
        root = os.path.join(self.run_dir, f"catalog{len(self.crawls):02d}-{label}")
        sc = self.spark.sparkContext
        rec = {"label": label, "root": root, "error": None}
        try:
            if traced:
                before = sparkstats.max_job_id(sc, self.groups_seen)
                with self.tracer.span("loop.run_crawl") as span:
                    cat = TracingCatalog(root, self.tracer, sc, parent=span.id)
                    cat.tag_iteration(0)
                    try:
                        summary = run_crawl(self.spark, cat, self.fx, self.cfg)
                    finally:
                        sparkstats.set_group(sc, None)
                self.groups_seen += cat.groups
                last = sparkstats.max_job_id(sc, self.groups_seen)
                rec.update(wall=span.duration, span=span, groups=cat.groups, jobs=(before, last))
            else:
                t0 = time.perf_counter()
                summary = run_crawl(self.spark, SnapshotCatalog(root), self.fx, self.cfg)
                rec["wall"] = time.perf_counter() - t0
            rec["summary"] = summary["iterations"]
            rec["dequeued"] = sum(i["dequeued"] for i in summary["iterations"])
            rec["urls_per_s"] = rec["dequeued"] / rec["wall"]
        except Exception as e:  # a crawl that raises fails its iterations
            rec["error"] = f"{type(e).__name__}: {e}"
            rec["traceback"] = traceback.format_exc()
        self.crawls.append(rec)
        return rec

    def timed_loop(self) -> None:
        """Crawl until ``--seconds`` have passed (at least once). A traced
        run follows the same rule with every crawl traced, so its crawls sit
        where the untraced run's do and their throughputs compare."""
        t0 = time.perf_counter()
        while True:
            rec = self.crawl(bool(self.args.trace))
            if rec["error"] or time.perf_counter() - t0 >= self.args.seconds:
                return

    # -- run ------------------------------------------------------------
    def run(self) -> dict:
        t = time.time()
        self.fx = fixtures.write(os.path.join(self.run_dir, "fixture"), self.wl, self.args.seed)
        warm_fx = fixtures.write(os.path.join(self.run_dir, "fixture-warmup"), WARMUP, self.args.seed)
        fixture_s = time.time() - t

        t = time.perf_counter()
        self.spark = start_session(self.nproc)
        start_s = time.perf_counter() - t
        # the warm-up is one iteration on a small fixture: it warms the JVM,
        # the Python workers and iteration 0's plans; later iterations'
        # plans are first run in the timed crawl, at the same cost in every
        # run
        t = time.perf_counter()
        warm = os.path.join(self.run_dir, "catalog-warmup")
        run_crawl(self.spark, SnapshotCatalog(warm), warm_fx, replace(self.cfg, iterations=1))
        warmup_s = time.perf_counter() - t
        setup_s = time.time() - T_PROCESS - fixture_s

        self.timed_loop()

        # -- outside the timed region ----------------------------------
        t = time.perf_counter()
        expected = check.oracle(
            self.spark, self.fx, self.cfg, os.path.join(WORK, "oracle"),
            f"{self.wl.name}-seed{self.args.seed}",
        )
        attempted = failed = 0
        failures = []
        for rec in self.crawls:
            attempted += self.cfg.iterations
            if rec["error"]:
                failed += self.cfg.iterations
                failures.append(f"{rec['label']}: {rec['error']}")
                continue
            for it, why in enumerate(
                check.iteration_failures(self.spark, rec["root"], self.fx, expected, self.cfg.iterations)
            ):
                if why:
                    failed += 1
                    failures.append(f"{rec['label']} iter {it}: {why}")
        ok = [r for r in self.crawls if not r["error"]]
        if not ok:
            raise RuntimeError("no crawl completed: " + "; ".join(failures))

        check_s = time.perf_counter() - t

        props = fixtures.properties(self.fx)
        res = SnapshotCatalog(ok[0]["root"]).read(self.spark, "results")
        props["recrawled_urls"] = res.count() - res.select("url_hash").distinct().count()
        if self.args.trace:
            metrics = self.layer_metrics(ok, start_s, warmup_s, props)
        else:
            sc = self.spark.sparkContext
            jvm_pid = sc._jvm.ProcessHandle.current().pid()
            metrics = {
                "crawl_urls_per_s": stats.median([r["urls_per_s"] for r in ok]),
                "setup_s": setup_s,
                "peak_rss_mb": vm_hwm_mb(jvm_pid) + vm_hwm_mb("self"),
            }
        walls = [r["wall"] for r in ok]
        return {
            "metrics": metrics,
            "attempted": attempted,
            "failed": failed,
            "record": {
                "workload": self.wl.name,
                "seed": self.args.seed,
                "seconds": self.args.seconds,
                "trace": self.args.trace,
                "run_id": self.run_id,
                "master": f"local[{self.nproc}]",
                "fingerprint": record.fingerprint(ROOT, self.nproc),
                "crawl_config": asdict(self.cfg),
                "fixture": {"serp": self.wl.serp, "hosts": self.wl.hosts, "images": self.wl.images},
                "workload_properties": props,
                "setup": {"setup_s": setup_s, "session_start_s": start_s,
                          "warmup_s": warmup_s, "fixture_s": fixture_s,
                          "check_s": check_s},
                "crawls": [
                    {k: r.get(k) for k in ("label", "wall", "dequeued", "urls_per_s", "error", "traceback")}
                    for r in self.crawls
                ],
                "crawl_wall_s": stats.summarize(walls),
                "iterations_per_crawl": [i["dequeued"] for i in ok[0]["summary"]],
                "error_rate": failed / attempted,
                "failures": failures,
            },
        }

    # -- traced figures ---------------------------------------------------
    def layer_metrics(self, ok, start_s, warmup_s, props) -> dict:
        per_crawl = [self.crawl_metrics(r) for r in ok]
        m = {k: stats.median([c[k] for c in per_crawl]) for k in per_crawl[0]}
        m["loop.group_coverage"] = min(c["loop.group_coverage"] for c in per_crawl)
        m["trace.crawl_urls_per_s"] = stats.median([r["urls_per_s"] for r in ok])
        m["session.start_s"] = start_s
        m["session.warmup_s"] = warmup_s
        layer, replay_props = replay.replay(self.spark, self.tracer, ok[-1]["root"], self.fx, self.cfg)
        m.update(layer)
        props.update(replay_props)
        return m

    def crawl_metrics(self, rec) -> dict:
        sc = self.spark.sparkContext
        span = rec["span"]
        cat_spans = self.tracer.children(span)
        writes = [s for s in cat_spans if s.name.startswith("tables.write.")]
        reads = [s for s in cat_spans if s.name.startswith("tables.read.")]
        before, last = rec["jobs"]
        jobs = sparkstats.jobs_in_window(sc, rec["groups"], before, last)
        totals = sparkstats.empty()
        for _, st in jobs.values():
            sparkstats.add(totals, st)
        _, _, cover = sparkstats.coverage({j: (g, st["run_ms"]) for j, (g, st) in jobs.items()})
        by_iter: dict = {}
        for s in writes:
            if not s.name.endswith(".lineage"):
                by_iter.setdefault(s.counters.get("iter"), []).append(s)
        fan_union = sum(union_length([(s.start, s.end) for s in ss]) for ss in by_iter.values())
        fan_sum = sum(s.duration for ss in by_iter.values() for s in ss)
        res = SnapshotCatalog(rec["root"]).read(self.spark, "results")
        dup = res.agg(
            F.sum(F.col("decode_ok").cast("int")).alias("ok"),
            F.sum((F.col("decode_ok") & F.col("is_phash_dup")).cast("int")).alias("dup"),
        ).first()
        n_results = sum(i["results"] for i in rec["summary"])
        out = {
            # what the catalog wrapper added around the engine's calls
            "trace.overhead_frac": sum(s.duration - s.counters["call_s"] for s in cat_spans)
            / rec["wall"],
            "loop.driver_s": self_time(span, cat_spans),
            "loop.spark_jobs": totals["jobs"],
            "loop.spark_stages": totals["stages"],
            "loop.spark_tasks": totals["tasks"],
            "loop.shuffle_b": totals["shuffle_read_b"] + totals["shuffle_write_b"],
            "loop.busy_frac": totals["run_ms"] / 1000.0 / (rec["wall"] * self.nproc),
            "loop.group_coverage": cover,
            "loop.new_image_frac": sum(i["new_unique_images"] for i in rec["summary"]) / n_results,
            "loop.phash_dup_frac": (dup["dup"] or 0) / dup["ok"] if dup["ok"] else 0.0,
            "tables.write_s": sum(s.duration for s in writes),
            "tables.fanout_s": fan_union,
            "tables.fanout_overlap": fan_sum / fan_union if fan_union else 1.0,
            "tables.read_s": sum(s.duration for s in reads),
            "tables.writes": len(writes),
            "tables.bytes_written": sum(s.counters.get("bytes", 0) for s in writes),
            "tables.files_written": sum(s.counters.get("files", 0) for s in writes),
        }
        for t in WRITE_TABLES:
            out[f"tables.write.{t}_s"] = sum(
                s.duration for s in writes if s.name == f"tables.write.{t}"
            )
        return out


def result_line(spec: dict, trace: int, out: dict) -> dict:
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in out["metrics"]]
    if missing:
        raise RuntimeError(f"metrics not produced: {missing}")
    return {
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {
            m["name"]: {"value": float(out["metrics"][m["name"]]), "unit": m["unit"]}
            for m in wanted
        },
    }


def main(argv=None) -> int:
    spec = load_spec()
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=spec["run_seconds"])
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    bench = Bench(args)
    try:
        out = bench.run()
        line = result_line(spec, args.trace, out)
        rec = dict(out["record"], metrics=line["metrics"])
        results = os.path.join(WORK, "results")
        stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
        path = record.write_stamped(results, stem, rec)
        if args.trace:
            bench.tracer.dump(path[: -len(".json")] + ".spans.json")
        print(json.dumps(rec, default=str), file=sys.stderr)
    finally:
        if getattr(bench, "spark", None) is not None:
            stop_session(bench.spark)
        shutil.rmtree(bench.run_dir, ignore_errors=True)
    print(json.dumps(line), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
