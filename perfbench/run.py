#!/usr/bin/env python3
"""Benchmark of the committed extraction job.

Times ``plans.pipeline.run_extraction_job`` — input pages table to all
sinks committed — on one workload, checks every run's output, and
prints one JSON result line::

    python3 perfbench/run.py --workload crawl_mix --seed 1 \
        --seconds 20 --trace 0

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the
traced replay and reports per-layer metrics (``perfbench/tracing.py``).
Run it from the repository root; everything it writes stays under
``perfbench/.work/``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(BENCH_DIR)
WORK_DIR = os.path.join(BENCH_DIR, ".work")
WORKLOADS = ("crawl_mix", "pdf_scans", "resume_delta")
DRIVER_MEM = "2g"


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _isolate(tmp: str) -> None:
    """Point every scratch location the session uses (Python tempfile,
    the package zip, Spark local dirs, warehouse, JVM tmpdir) inside
    the run directory. Must run before pyspark is imported."""
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(tmp, "warehouse")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # -XX:-UsePerfData: no hsperfdata file, which a JVM writes to the
    # system temp dir whatever java.io.tmpdir says; both the driver JVM
    # and spark-class's launcher JVM get it
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '{jvm_opts}' pyspark-shell")


def _cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate /proc/stat line."""
    with open("/proc/stat", encoding="ascii") as fh:
        vals = [int(v) for v in fh.readline().split()[1:9]]
    return vals[7], sum(vals)


def _touch_worker(_part):
    import credit_ocr_system_spark.kernel.extract  # noqa: F401

    yield os.getpid()


class Bench:
    """One workload's session, input, committed base and checker."""

    def __init__(self, args: argparse.Namespace, run_dir: str):
        self.args = args
        self.run_dir = run_dir
        self.out_root = os.path.join(run_dir, "out")
        self.template = None
        self.setup_parts: dict[str, float] = {}
        self.reps: list[dict] = []

    def _timed(self, part: str, fn):
        t0 = time.perf_counter()
        result = fn()
        self.setup_parts[part] = time.perf_counter() - t0
        return result

    def setup(self) -> None:
        from credit_ocr_system_spark.plans.pipeline import run_extraction_job
        from credit_ocr_system_spark.session import build_session

        from check import SAMPLE_MOD, OutputCheck
        from corpus import Corpus

        a = self.args
        self.slots = len(os.sched_getaffinity(0))

        def start():
            spark = build_session(master=f"local[{self.slots}]")
            spark.sparkContext.setLogLevel("ERROR")
            return spark

        self.spark = spark = self._timed("session_s", start)
        # corpus generation is input making, keyed and cached by seed:
        # reported as context, never inside setup_s
        self.corpus = Corpus(spark, os.path.join(WORK_DIR, "corpus"),
                             REPO_ROOT, a.workload, a.seed)
        self.pages = self.corpus.pages()
        self.n_input = self._timed("load_s", self.pages.count)

        def warm():
            # every Python worker imports the kernel, then one whole job
            # compiles and JITs the job's plans: a throwaway job over a
            # small slice, or on resume_delta the base commit (~90% of
            # the corpus) that every repetition restores
            sc = spark.sparkContext
            n = self.slots * 4
            sc.parallelize(range(n), n).mapPartitions(_touch_worker) \
                .collect()
            if a.workload != "resume_delta":
                out = os.path.join(self.run_dir, "warmup")
                run_extraction_job(spark, self.corpus.warmup_pages(), out)
                shutil.rmtree(out)
                return 0
            self.template = os.path.join(self.run_dir, "template")
            return run_extraction_job(spark, self.corpus.base_pages(),
                                      self.template)["n_docs"]

        self.expect_new = self.n_input - self._timed("warmup_s", warm)
        t0 = time.perf_counter()
        self.checker = OutputCheck(
            REPO_ROOT,
            self.corpus.sample(SAMPLE_MOD,
                               real_pdfs=a.workload == "pdf_scans"),
            a.seed)
        self.oracle_s = time.perf_counter() - t0

    def prepare_out(self) -> float:
        """Fresh output root (restored base for resume_delta)."""
        t0 = time.perf_counter()
        shutil.rmtree(self.out_root, ignore_errors=True)
        if self.template:
            shutil.copytree(self.template, self.out_root)
        return time.perf_counter() - t0

    def rep(self) -> dict:
        from credit_ocr_system_spark.plans.pipeline import run_extraction_job

        from procmem import peak_rss_mb, reset_peaks
        from tracing import data_bytes

        rec = {"rep_setup_s": self.prepare_out(), "ok": False}
        before = data_bytes(self.out_root)
        try:
            reset_peaks()
            t0 = time.perf_counter()
            stats = run_extraction_job(self.spark, self.pages,
                                       self.out_root)
            rec["job_s"] = time.perf_counter() - t0
            rec["peak_rss_mb"] = peak_rss_mb()
            rec["new_docs"] = new = stats["n_docs"]
            rec["write_bytes"] = data_bytes(self.out_root) - before
            t0 = time.perf_counter()
            problems, counts = self.checker.check(
                self.spark, self.pages, self.out_root)
            rec["check_s"] = time.perf_counter() - t0
            if new != self.expect_new:
                problems.append(f"job committed {new} new docs, "
                                f"expected {self.expect_new}")
            rec.update(counts, problems=problems, ok=not problems)
        except Exception:  # a failed run is counted, never fatal
            rec["problems"] = [traceback.format_exc(limit=3)]
        for p in rec["problems"]:
            print(f"[perfbench] check failed: {p}", file=sys.stderr)
        self.reps.append(rec)
        return rec

    def measure(self, seconds: float, body) -> None:
        """Repeat ``body`` for ``seconds``: at least twice, and another
        repetition starts while it is expected to end within half a
        repetition of the window. The first timed job after the
        warm-up still runs ~10% slow, so a run that timed only that one
        would read slow exactly when the host is."""
        start = time.perf_counter()
        n = 0
        while True:
            body()
            n += 1
            elapsed = time.perf_counter() - start
            if n >= 2 and elapsed + 0.5 * elapsed / n > seconds:
                break

    def setup_s(self) -> float:
        return sum(self.setup_parts.values()) + statistics.median(
            r["rep_setup_s"] for r in self.reps)

    def end_to_end(self) -> dict:
        done = [r for r in self.reps if "job_s" in r]
        if not done:
            raise RuntimeError("no repetition completed")

        def med(key, fn=None):
            return statistics.median(fn(r) if fn else r[key] for r in done)

        return {
            "job_s": (med("job_s"), "s"),
            "docs_per_sec": (med(None, lambda r: r["new_docs"] / r["job_s"]),
                             "docs/s"),
            "setup_s": (self.setup_s(), "s"),
            "peak_rss_mb": (med("peak_rss_mb"), "MB"),
            "write_bytes_per_doc": (
                med(None, lambda r: r["write_bytes"] / r["new_docs"]),
                "B/doc"),
            "doc_ok_share": (med(None, lambda r: 1 - r.get(
                "error_rows", 0) / max(r.get("committed", 1), 1)),
                "ratio"),
            "run_ok_share": (1 - self.failed() / len(self.reps), "ratio"),
        }

    def failed(self) -> int:
        return sum(not r["ok"] for r in self.reps)


def run_traced(bench: Bench, seconds: float) -> dict:
    import tracing

    from corpus import generator_hash

    a = bench.args
    tr = tracing.Tracer(f"{a.workload}-s{a.seed}-{os.getpid()}")
    start = time.perf_counter()
    m = tracing.kernel_bench(os.path.join(
        WORK_DIR, f"kernel-sample-{generator_hash(REPO_ROOT)}.json"), tr)
    bench.prepare_out()
    m.update(tracing.probes(bench.spark, bench.pages, bench.out_root, tr))
    m.update(tracing.replay(bench.spark, bench.pages, bench.out_root, tr))
    problems, _ = bench.checker.check(bench.spark, bench.pages,
                                      bench.out_root)
    for p in problems:
        print(f"[perfbench] replay check failed: {p}", file=sys.stderr)
    bench.reps.append({"replay": True, "ok": not problems,
                       "rep_setup_s": 0.0})
    left = seconds - (time.perf_counter() - start)
    bench.measure(max(left, 0.0), bench.rep)
    m["trace.job_s"] = statistics.median(
        r["job_s"] for r in bench.reps if "job_s" in r)
    m["trace.overhead_s"] = m["trace.replay_s"] - m["trace.job_s"]
    path = os.path.join(WORK_DIR, "traces", f"{tr.run_id}.json")
    for s in tracing.write_spans(tr, path):
        print(f"[perfbench] span {s['name']:<34} "
              f"{s['duration_s']:8.3f} s  self {s['self_s']:8.3f} s",
              file=sys.stderr)
    print(f"[perfbench] spans written to {path}", file=sys.stderr)
    return {k: (m[k], unit) for k, (unit, _better) in
            tracing.PER_LAYER.items()}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(REPO_ROOT, "credit_ocr_system_spark")):
        print("perfbench: run from a checkout that holds the "
              "credit_ocr_system_spark package", file=sys.stderr)
        return 2
    run_dir = os.path.join(WORK_DIR, "runs", str(os.getpid()))
    _isolate(os.path.join(run_dir, "tmp"))
    sys.path.insert(0, REPO_ROOT)
    import pyspark

    bench = Bench(args, run_dir)
    steal0 = _cpu_times()
    try:
        bench.setup()
        if args.trace:
            metrics = run_traced(bench, args.seconds)
        else:
            bench.measure(args.seconds, bench.rep)
            metrics = bench.end_to_end()
        steal1 = _cpu_times()
        context = {
            "workload": args.workload, "seed": args.seed,
            "corpus": os.path.basename(bench.corpus.path),
            "corpus_cached": bench.corpus.cached,
            "corpus_gen_s": bench.corpus.gen_s,
            "input_docs": bench.n_input,
            "setup_parts_s": bench.setup_parts,
            "oracle_s": bench.oracle_s,
            "reps": [{k: v for k, v in r.items() if k != "problems"}
                     for r in bench.reps],
            "steal_pct": 100.0 * (steal1[0] - steal0[0])
            / max(steal1[1] - steal0[1], 1),
            "loadavg": os.getloadavg(),
            "nproc": bench.slots,
            "pyspark": pyspark.__version__,
            "python": sys.version.split()[0],
        }
        print(json.dumps({"context": context}))
        result = {
            "correct": bench.failed() == 0,
            "attempted": len(bench.reps),
            "failed": bench.failed(),
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()},
        }
        print(json.dumps(result))
        return 0 if result["correct"] else 1
    finally:
        _stop(getattr(bench, "spark", None))
        shutil.rmtree(run_dir, ignore_errors=True)


def _stop(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)


if __name__ == "__main__":
    sys.exit(main())
