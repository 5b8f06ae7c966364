"""The benchmark workloads.

Each workload is a closed loop driven by one client thread: a job starts
only after the previous one has written its output. A workload has two
phases:

- ``run_pass`` one pass: every job's inputs → durably written output;
- ``check``    output checks, outside every timed region. Each failed
               check counts as a failed operation.

Why each workload exists and which layer it should move: README.md.
"""

from __future__ import annotations

import glob
import os
import shutil
import time
import traceback

import numpy as np
import pandas as pd

from . import oracles


class Ctx:
    """Per-run state shared by the harness and the workloads."""

    def __init__(self, spark, tracer, work: str):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.counts: dict[str, float] = {}

    def op(self, name: str, fn) -> bool:
        """Run one attempted job inside a span; an exception counts as a
        failed operation. Every job then releases the caches it pinned,
        as a long-lived driver must."""
        from map_reduce_in_go_spark.functions import caching

        self.attempted += 1
        try:
            with self.tracer.span(name) as sp:
                fn(sp)
                self.add("caching.released", caching.release_persisted())
                self.add("caching.jobs", 1)
            return True
        except Exception as ex:  # noqa: BLE001 — a failed operation is a result
            traceback.print_exc()
            self.fail(f"{name}: {type(ex).__name__}: {str(ex)[:300]}")
            return False

    def fail(self, problem: str) -> None:
        self.failed += 1
        self.problems.append(problem)

    def verify(self, what: str, problems: list[str]) -> None:
        """One attempted check; any problem makes it a failed operation."""
        self.attempted += 1
        if problems:
            self.fail(f"{what}: " + "; ".join(problems)[:500])

    def add(self, name: str, value: float) -> None:
        self.counts[name] = self.counts.get(name, 0.0) + value

    def out_dir(self, *parts: str) -> str:
        path = os.path.join(self.work, "out", *parts)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        return path


def dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, ignoring Spark's marker files."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if not n.startswith(("_", ".")):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


# --------------------------------------------------------------- mapreduce

class MapReduce:
    """The paper's WordCount through the public CLI, in three forms."""

    N_REDUCE = 5
    FORMS = ("native", "generic", "grep")

    def __init__(self, ctx: Ctx, root: str, truth: dict):
        self.ctx, self.root, self.truth = ctx, root, truth
        self.files = sorted(glob.glob(os.path.join(root, "text", "pg-*.txt")))
        self.outputs: list[tuple[str, str]] = []

    def input_paths(self) -> list[str]:
        return self.files

    def _args(self, form: str, out: str) -> list[str]:
        args = ["--input", ",".join(self.files), "--output", out, "--reduce", str(self.N_REDUCE)]
        if form == "generic":
            args.append("--generic")
        elif form == "grep":
            args += ["--app", "grep", "--pattern", self.truth["grep_pattern"]]
        return args

    def pass_outputs(self, n: int) -> list[str]:
        """The mr-out directories written by pass ``n``."""
        return [out for _form, out in self.outputs if os.path.basename(os.path.dirname(out)) == f"pass{n}"]

    def run_pass(self, n: int) -> None:
        from map_reduce_in_go_spark import cli

        for form in self.FORMS:
            out = self.ctx.out_dir(os.path.basename(self.root), f"pass{n}", form)
            if self.ctx.op(f"cli.main[{form}]", lambda sp: cli.main(self._args(form, out))):
                self.outputs.append((form, out))

    def check(self) -> float:
        """Every form's output against an independent replay of the Go
        mapper; returns the share of reference entries reproduced."""
        texts = []
        for p in self.files:
            with open(p, encoding="ascii") as fh:
                texts.append(fh.read())
        words = oracles.go_wordcount(texts)
        grep = oracles.grep_counts(self.files, self.truth["grep_pattern"])
        hits = total = 0
        for form, out in self.outputs:
            got, problems = oracles.read_mr_out(out, self.N_REDUCE)
            want = words
            if form == "grep":
                got = {os.path.basename(k): v for k, v in got.items()}
                want = grep
            h, p = oracles.compare_counts(got, want)
            hits, total = hits + h, total + len(want)
            self.ctx.verify(f"mr-out {form}", problems + p)
        return hits / total if total else 0.0


# ---------------------------------------------------- registry-query workloads

class _QueryWorkload:
    """Registry queries, each written to parquet by the client."""

    # (span layer, module under map_reduce_in_go_spark, function)
    JOBS: tuple[tuple[str, str, str], ...] = ()
    TABLE = ""

    def __init__(self, ctx: Ctx, root: str, truth: dict):
        self.ctx, self.root, self.truth = ctx, root, truth
        self.sf = os.path.join(root, "sf")
        self.outputs: dict[str, list[str]] = {}

    def input_paths(self) -> list[str]:
        return [os.path.join(self.sf, f"{self.TABLE}.parquet")]

    def _query(self, module: str, fn: str):
        import importlib

        return getattr(importlib.import_module(f"map_reduce_in_go_spark.{module}"), fn)

    def run_pass(self, n: int) -> None:
        for layer, module, fn in self.JOBS:
            out = self.ctx.out_dir(os.path.basename(self.root), f"pass{n}", fn)
            query = self._query(module, fn)

            def job(sp, query=query, out=out):
                t0 = time.perf_counter()
                df = query(self.ctx.spark, self.sf)
                sp.plan_s = time.perf_counter() - t0  # eager driver work hides here
                df.write.mode("overwrite").parquet(out)

            if self.ctx.op(f"{layer}.{fn}", job):
                self.outputs.setdefault(fn, []).append(out)

    def frames(self, fn: str) -> list[pd.DataFrame]:
        return [pd.read_parquet(out) for out in self.outputs.get(fn, [])]

    def check(self) -> float:
        """Every query's output against its DuckDB oracle, then the
        workload's own checks; returns recall."""
        from map_reduce_in_go_spark import registry

        sql = registry.oracles()
        con = oracles.duckdb_views(self.sf)
        try:
            for _layer, _module, fn in self.JOBS:
                want = None
                for got in self.frames(fn):
                    if want is None:
                        want = con.execute(sql[fn]).df()
                    self.ctx.verify(f"{fn} vs DuckDB oracle", oracles.compare_frames(got, want))
        finally:
            con.close()
        return self.check_more()

    def check_more(self) -> float:
        raise NotImplementedError


class TextDedup(_QueryWorkload):
    """The curation path over a documents table with planted duplicates."""

    TABLE = "documents"
    JOBS = (
        ("dedup", "operators.dedup", "dedup_exact"),
        ("dedup", "operators.dedup", "dedup_minhash"),
        ("pipeline", "operators.pipeline", "corpus_clean"),
        ("dedup", "operators.dedup", "dedup_substring"),
        ("curation", "operators.curation", "contamination_ngram"),
    )

    def check_more(self) -> float:
        docs = pd.read_parquet(os.path.join(self.sf, "documents.parquet"))
        ids = set(docs["doc_id"])
        pairs = self.truth["doc_pairs"]
        exact = {(a, b) for a, b, kind in pairs if kind == "exact"}
        recall = []
        for got in self.frames("dedup_minhash"):
            found = dict(zip(zip(got["doc_a"], got["doc_b"]), got["n_match"]))
            recall.append(sum((a, b) in found for a, b, _ in pairs) / len(pairs))
            # exact copies share every shingle, so all 32 minhashes agree
            bad = [p for p in exact if found.get(p) != 32]
            bad += [p for p in found if not (p[0] < p[1] and p[0] in ids and p[1] in ids)]
            self.ctx.verify("dedup_minhash pairs", [f"{len(bad)} bad pairs"] if bad else [])
            self.ctx.counts["dedup.candidate_pairs"] = len(got)
            self.ctx.counts["dedup.verified_pairs"] = int((got["n_match"] >= 16).sum())
        for got in self.frames("corpus_clean"):
            kept = set(got["doc_id"])
            bad = [p for p in exact if p[1] in kept] + list(kept - ids)
            self.ctx.verify("corpus_clean keeps the lowest id of each exact copy",
                            [f"{len(bad)} wrong docs kept"] if bad else [])
            self.ctx.counts["pipeline.kept_docs"] = len(got)
        return float(np.median(recall)) if recall else 0.0


WORKLOADS = {
    "mapreduce": MapReduce,
    "text_dedup": TextDedup,
}
