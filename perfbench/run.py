"""Benchmark launcher: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload mapreduce --seed 1 --seconds 30 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the end-to-end metrics of BENCHMARK.json, with ``--trace 1``
its per-layer metrics (a traced run also does the untraced timed pass, so
it can report its own overhead). The line before it is a readable summary
that also states ``error_rate`` with its attempted count and the CPU steal
during the run.

Everything the run writes stays under ``.perfbench/`` in the checkout:
generated inputs (reused per seed), outputs, Spark scratch, event logs.
Metric definitions and workload reasons: perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
# span layers that get a self-time metric
LAYERS = ("cli", "engine", "sources", "dedup", "pipeline", "curation", "caching")
RSS_INTERVAL_S = 0.25


def _tree_pids() -> list[int]:
    """This process and every live descendant (JVM, Python workers)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    data = fh.read()
                ppid = int(data[data.rindex(")") + 2 :].split()[1])
            except (OSError, ValueError):
                continue  # exited mid-walk
            children.setdefault(ppid, []).append(int(d))
    tree, stack = [], [os.getpid()]
    while stack:
        p = stack.pop()
        tree.append(p)
        stack.extend(children.get(p, []))
    return tree


class PeakRss(threading.Thread):
    """Samples the summed RSS of the process tree until stopped."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0
        self._halt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def run(self):
        while not self._halt.is_set():
            total = 0
            for pid in _tree_pids():
                try:
                    with open(f"/proc/{pid}/statm") as fh:
                        total += int(fh.read().split()[1]) * self._page
                except (OSError, ValueError, IndexError):
                    continue
            self.peak = max(self.peak, total)
            self._halt.wait(RSS_INTERVAL_S)

    def stop(self) -> float:
        self._halt.set()
        self.join(timeout=10)
        return self.peak / 1e6


def _setup_env() -> None:
    """Pin the run: local[nproc], all scratch inside the checkout, and the
    checkout on PYTHONPATH so Spark's Python workers import the program."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # a fixed 2g driver heap: ample for these inputs, small on a shared host,
    # and a steady ceiling for peak_rss_mb (the program's default is 8g)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def _instrument(tracer) -> list:
    """Spans for the calls the program makes through module attributes."""
    import map_reduce_in_go_spark.engine as engine
    import map_reduce_in_go_spark.functions.caching as caching
    import map_reduce_in_go_spark.sources.text as text

    from .trace import instrument

    return [
        instrument(tracer, engine, ["run_mapreduce", "write_output"], "engine"),
        instrument(tracer, text, ["read_lines", "read_text_files"], "sources"),
        instrument(tracer, caching, ["release_persisted"], "caching"),
    ]


def _scan_input(ctx, w) -> float:
    """Time one full scan of the workload's input; return its MB."""
    from map_reduce_in_go_spark.sources import tables, text

    if hasattr(w, "files"):
        df = text.read_lines(ctx.spark, w.files)
    else:
        df = tables.load_table(ctx.spark, w.sf, w.TABLE)
    with ctx.tracer.span("sources.scan_input"):
        df.write.format("noop").mode("overwrite").save()
    return sum(os.path.getsize(p) for p in w.input_paths()) / 1e6


def layer_metrics(tracer, counts: dict, extra: dict) -> dict[str, float]:
    """Per-layer metrics from the traced pass's spans and the checks' counts."""
    from .trace import event_log_totals

    def total(name: str) -> float:
        return sum(s.duration for s in tracer.spans if s.name == name)

    m = dict(extra)
    for metric, span in (
        ("sources.read_s", "sources.scan_input"),
        ("engine.run_mapreduce_s", "cli.main[generic]"),
        ("engine.write_output_s", "engine.write_output"),
        ("wordcount.native_s", "cli.main[native]"),
        ("wordcount.grep_s", "cli.main[grep]"),
        ("dedup.exact_s", "dedup.dedup_exact"),
        ("dedup.minhash_s", "dedup.dedup_minhash"),
        ("dedup.substring_s", "dedup.dedup_substring"),
        ("pipeline.corpus_clean_s", "pipeline.corpus_clean"),
        ("curation.contamination_ngram_s", "curation.contamination_ngram"),
    ):
        m[metric] = total(span)
    cand = counts.get("dedup.candidate_pairs", 0)
    m["dedup.candidate_pairs"] = cand
    m["dedup.verified_ratio"] = counts.get("dedup.verified_pairs", 0) / cand if cand else 0.0
    m["pipeline.kept_docs"] = counts.get("pipeline.kept_docs", 0)
    jobs = counts.get("caching.jobs", 0)
    m["caching.released"] = counts.get("caching.released", 0) / jobs if jobs else 0.0
    m["spark.jobs"] = sum(len(s.jobs) for s in tracer.spans)
    m["spark.stages"] = sum(s.stages for s in tracer.spans)
    m["spark.tasks"] = sum(s.tasks for s in tracer.spans)
    m["spark.failed_tasks"] = sum(s.failed_tasks for s in tracer.spans)
    t = event_log_totals(os.path.join(WORK, "eventlog"),
                         {f"pb-{i}" for i in range(len(tracer.spans))})
    m["spark.shuffle_write_mb"] = t.shuffle_write_mb
    m["spark.spill_mb"] = t.spill_mb
    m["spark.gc_s"] = t.gc_s
    m["spark.executor_cpu_s"] = t.executor_cpu_s
    m["trace.plan_s"] = sum(s.plan_s for s in tracer.spans)
    for layer in LAYERS:
        m[f"{layer}.self_s"] = sum(
            tracer.self_time(i) for i, s in enumerate(tracer.spans) if s.layer == layer
        )
    return m


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:  # a JVM that ignores EOF is killed
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 20
    while len(_tree_pids()) > 1 and time.time() < deadline:
        time.sleep(0.2)


def run(workload: str, seed: int, trace: bool, size: str = "full") -> dict:
    from bench import read_steal_seconds, read_tree_cpu_seconds

    from . import gen
    from .trace import Tracer
    from .workloads import WORKLOADS, Ctx, dir_stats

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    inputs = os.path.join(WORK, "inputs", f"{size}-{seed}")
    truth = gen.generate(seed, inputs, size)
    for sub in ("out", "eventlog"):
        shutil.rmtree(os.path.join(WORK, sub), ignore_errors=True)
    os.makedirs(os.path.join(WORK, "eventlog"))

    steal0 = read_steal_seconds()
    # set-up is counted in CPU seconds of the process tree, like cpu_s:
    # its wall time follows the host's CPU steal (README.md)
    setup_c0 = read_tree_cpu_seconds()
    t0 = time.perf_counter()
    from map_reduce_in_go_spark.session import get_spark

    conf = {"spark.sql.warehouse.dir": os.path.join(WORK, "warehouse")}
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(WORK, "eventlog"),
            "spark.eventLog.compress": "false",  # Spark 4 writes zstd by default
        })
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    start_s = time.perf_counter() - t0
    setup_cpu = read_tree_cpu_seconds() - setup_c0
    try:
        ctx = Ctx(spark, Tracer(), WORK)
        w = WORKLOADS[workload](ctx, inputs, truth)
        # One timed pass, in a process that has run nothing else: a batch
        # job starts in a fresh process and pays JIT, code generation and
        # Python-worker start-up itself. A warm-up pass would double every
        # run, and the run budget has no room for it (README.md).
        rss = PeakRss()
        rss.start()
        c0 = read_tree_cpu_seconds()
        p0 = time.perf_counter()
        w.run_pass(1)
        wall = time.perf_counter() - p0
        cpu = read_tree_cpu_seconds() - c0
        peak_rss_mb = rss.stop()

        if trace:
            ctx.counts.clear()
            tracer = ctx.tracer = Tracer(spark.sparkContext)
            undo = _instrument(tracer)
            try:
                p0 = time.perf_counter()
                w.run_pass(2)
                traced_wall = time.perf_counter() - p0
                covered = tracer.top_level_s()
                input_mb = _scan_input(ctx, w)
            finally:
                for u in undo:
                    u()
            # the same warm pass untraced: the difference is the overhead
            ctx.tracer = Tracer()
            p0 = time.perf_counter()
            w.run_pass(3)
            warm_wall = time.perf_counter() - p0
        recall = w.check()
        steal = read_steal_seconds() - steal0
    finally:
        _stop(spark)

    values = {
        "setup_s": setup_cpu,
        "cpu_s": cpu,
        "peak_rss_mb": peak_rss_mb,
        "recall": recall,
    }
    # wall times are stated here, not bounded: they follow the host's CPU
    # steal more than the program (README.md, "Why wall time is not bounded")
    summary = {
        "workload": workload, "seed": seed,
        "error_rate": ctx.failed / ctx.attempted, "attempted": ctx.attempted,
        "wall_s": wall, "start_wall_s": start_s, "steal_s": steal, **values,
    }
    if trace:
        extra = {
            "sources.input_mb": input_mb,
            "pass.wall_s": wall,
            "session.start_s": start_s,
            "trace.wall_s": traced_wall,
            "trace.uncovered_s": traced_wall - covered,
            "trace.overhead_s": traced_wall - warm_wall,
            "trace.cold_extra_s": wall - warm_wall,
        }
        out_files = out_bytes = 0
        for out in getattr(w, "pass_outputs", lambda n: [])(2):
            f, b = dir_stats(out)
            out_files, out_bytes = out_files + f, out_bytes + b
        extra["engine.output_files"] = out_files
        extra["engine.output_mb"] = out_bytes / 1e6
        values = layer_metrics(tracer, ctx.counts, extra)
    section = spec["per_layer"] if trace else spec["end_to_end"]
    return {
        "summary": summary,
        "problems": ctx.problems,
        "result": {
            "correct": ctx.failed == 0,
            "attempted": ctx.attempted,
            "failed": ctx.failed,
            "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                        for m in section},
        },
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=["mapreduce", "text_dedup"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full",
                    help="input size; tiny is for the benchmark's own smoke tests")
    args = ap.parse_args(argv)
    for need in ("map_reduce_in_go_spark", "bench.py", "tools"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} missing under {ROOT}; nothing to measure", file=sys.stderr)
            return 2
    _setup_env()
    # --seconds is accepted so every benchmark shares one command line; a
    # run times one fixed pass, about run_seconds long (README.md)
    out = run(args.workload, args.seed, bool(args.trace), args.size)
    for p in out["problems"]:
        print(f"perfbench: FAILED {p}", file=sys.stderr)
    print("perfbench: " + json.dumps(out["summary"]))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    from perfbench.run import main as _main

    sys.exit(_main())
