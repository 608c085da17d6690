#!/usr/bin/env python3
"""perfbench — the repository's end-to-end benchmark.

    python3 perfbench/run.py --workload validate_full --seed 1 --seconds 10 --trace 0

Run from the repository root (any directory works; paths resolve from this
file). One process, one Spark driver on local[<usable cores>]:

1. starts Spark and stages the workload's inputs for ``--seed`` under
   ``.perfbench_work/stage`` together with an independent reference
   (reused when that (workload, seed, size) is already staged);
2. ``--trace 0``: sets up twice — the first Spark session (JVM launch),
   then a fresh session in the same JVM — each set-up being session start,
   staging check, catalog registration and one warm-up run (one
   ``setup_s`` sample). After the second set-up it times runs for
   ``--seconds`` (at least one run). Every run's outputs are checked
   against the reference. Prints the end-to-end metrics (medians);
3. ``--trace 1``: one untraced session as above, then one session with
   Spark's event log on whose runs open a span (and job group) around
   every public library call. Prints the per-layer metrics (medians over
   the traced runs) and the tracing overhead.

The last stdout line is one JSON object: correct, attempted, failed and
metrics. The line before it records the platform (cores, heap, Spark
version), input sizes and every sample.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

import pyspark

from tracing import Spans, attribute, peak_rss_bytes, process_tree, read_events, reset_peak_rss
from workloads import WORKLOADS, load_reference

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"
HEAP = "2g"
KEEP_STAGES = 8  # staged inputs kept across invocations (least recently used go)

END_TO_END = {
    "wall_s": ("s", "lower"),
    "rows_per_s": ("1/s", "higher"),
    "setup_s": ("s", "lower"),
    "peak_rss_mb": ("MB", "lower"),
}

# span -> name of its wall-time metric
SPAN_WALL = {
    "reader.snapshot": "reader.snapshot_s",
    "ordering.probe": "ordering.probe_s",
    "suite.violations": "suite.violations_s",
    "suite.verdicts": "suite.verdicts_s",
    "stats": "stats.s",
    "write.violations": "write.violations_s",
    "checkpoint.completed": "checkpoint.completed_s",
    "checkpoint.record": "checkpoint.record_s",
    "dedup.jaccard_pairs": "dedup.jaccard_pairs_s",
    "dedup.clusters": "dedup.clusters_s",
    "dedup.minhash_pairs": "dedup.minhash_pairs_s",
    "dedup.simhash_pairs": "dedup.simhash_pairs_s",
    "similarity.exact_batch": "similarity.exact_batch_s",
    "similarity.lsh_build": "similarity.lsh_build_s",
    "similarity.lsh_query": "similarity.lsh_query_s",
    "similarity.ivf_build": "similarity.ivf_build_s",
    "similarity.ivf_query": "similarity.ivf_query_s",
}
SPAN_STAT_UNITS = {"jobs": "count", "task_cpu_s": "s", "gc_s": "s", "core_idle_share": "ratio"}
# derived metric -> (unit, better, layer family)
DERIVED = {
    "session.start_s": ("s", "lower", "common"),
    "reader.input_bytes": ("B", "lower", "common"),
    "write.output_bytes": ("B", "lower", "common"),
    "trace.overhead_s": ("s", "lower", "common"),
    "suite.exchange_bytes": ("B", "lower", "validation"),
    "suite.spill_bytes": ("B", "lower", "validation"),
    "suite.violation_rows": ("count", "higher", "validation"),
    "stats.shuffle_bytes": ("B", "lower", "validation"),
    "checkpoint.scan_useful_ratio": ("ratio", "higher", "validation"),
    "dedup.shuffle_bytes": ("B", "lower", "dedup"),
    "dedup.clusters_jobs": ("count", "lower", "dedup"),
    "dedup.pairs": ("count", "higher", "dedup"),
    "similarity.lsh_recall_at10": ("ratio", "higher", "similarity"),
    "similarity.ivf_recall_at10": ("ratio", "higher", "similarity"),
}
# workloads in BENCHMARK.json; every traced run prints their layers' metrics
BENCHMARKED = ("validate_full", "revalidate_bucketed")


def family(span: str) -> str:
    head = span.split(".")[0]
    return head if head in ("dedup", "similarity") else "validation"


def per_layer_metrics(families: set[str]) -> dict[str, tuple[str, str]]:
    """Per-layer metric name -> (unit, better) for the layer families
    ``families`` (plus the common ones)."""
    out = {}
    for span, wall in SPAN_WALL.items():
        if family(span) in families:
            out[wall] = ("s", "lower")
            out.update({f"{span}.{stat}": (unit, "lower") for stat, unit in SPAN_STAT_UNITS.items()})
    out.update({m: (u, b) for m, (u, b, f) in DERIVED.items() if f == "common" or f in families})
    return out


def usable_cores() -> int:
    return len(os.sched_getaffinity(0))


def prepare_environment() -> None:
    """Keep every file Spark, the JVM and Python write inside WORK, and put
    the repository on the path of the driver and the Python workers."""
    for sub in ("local", "tmp", "warehouse", "eventlog", "stage", "runs"):
        (WORK / sub).mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")]))
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "local")
    os.environ["TMPDIR"] = str(WORK / "tmp")
    jvm_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={WORK / 'tmp'}"
    os.environ["SPARK_SUBMIT_OPTS"] = f"{os.environ.get('SPARK_SUBMIT_OPTS', '')} {jvm_opts}".strip()
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    sys.path.insert(0, str(ROOT))


def start_session(event_log: Path | None = None):
    from tag_spark.session import get_spark

    conf = {
        "spark.driver.memory": HEAP,
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(WORK / "local"),
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        "spark.eventLog.enabled": "false",
    }
    if event_log is not None:
        event_log.mkdir(parents=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log.as_uri(),
                "spark.eventLog.compress": "false",
            }
        )
    spark = get_spark(app_name="perfbench", master=f"local[{usable_cores()}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def ensure_stage(spark, wl, d: Path, seed: int) -> float:
    """Stage inputs and the reference for (workload, seed, size) unless a
    complete copy exists. Returns the seconds spent."""
    t = time.perf_counter()
    if not (d / "_SUCCESS").exists():
        stages = sorted((WORK / "stage").iterdir(), key=lambda p: p.stat().st_mtime)
        for old in stages[: max(0, len(stages) - KEEP_STAGES + 1)]:
            shutil.rmtree(old, ignore_errors=True)
        shutil.rmtree(d, ignore_errors=True)
        d.mkdir(parents=True)
        wl.stage(spark, d, seed)
        (d / "_SUCCESS").touch()
    if not (d / "reference.json").exists():
        tmp = d / "reference.json.tmp"
        tmp.write_text(json.dumps(wl.reference(d)), encoding="utf-8")
        os.replace(tmp, d / "reference.json")
    os.utime(d)
    return time.perf_counter() - t


class Bench:
    def __init__(self, wl, seed: int, seconds: float, trace: bool):
        self.wl, self.seed, self.seconds, self.trace = wl, seed, seconds, trace
        self.stage_dir = WORK / "stage" / wl.key(seed)
        self.run_root = WORK / "runs" / str(os.getpid())
        self.families = {family(s) for name in BENCHMARKED + (wl.name,) for s in WORKLOADS[name].spans}
        self.spark = None
        self.attempted = self.failed = self.n_runs = 0
        self.info: dict = {}

    # -- one run ------------------------------------------------------------
    def one_run(self, sp, measure_rss: bool):
        """(wall seconds, peak RSS bytes, ok) of one run; the check, the
        run directory and cache release are outside the clock."""
        self.attempted += 1
        self.n_runs += 1
        run_dir = self.run_root / f"r{self.n_runs}"
        wall = peak = None
        try:
            self.wl.prepare(self.stage_dir, run_dir)
            if measure_rss:
                reset_peak_rss(self.jvm_pid)
            t = time.perf_counter()
            result = self.wl.run(self.spark, self.stage_dir, run_dir, sp)
            wall = time.perf_counter() - t
            if measure_rss:
                peak = peak_rss_bytes(self.jvm_pid)
            self.wl.check(self.stage_dir, run_dir, result, self.ref, sp)
            ok = True
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            ok = False
        finally:
            self.wl.cleanup(self.spark)
            shutil.rmtree(run_dir, ignore_errors=True)
        return wall, peak, ok

    # -- one session ----------------------------------------------------------
    def session(self, budget_s: float | None, event_log: Path | None = None, warmups: int = 1):
        """Set-up — a Spark session (the JVM's first, or a fresh one in the
        running JVM), the staging check, catalog registration and
        ``warmups`` warm-up runs — then, unless ``budget_s`` is None, timed
        runs until ``budget_s`` has passed (at least one). Returns
        (setup_s, session_start_s, timed runs)."""
        t0 = time.perf_counter()
        if self.spark is None:
            self.spark = start_session()
            self.jvm_pid = self.spark.sparkContext._gateway.proc.pid
            start_s = time.perf_counter() - t0
            # staging prepares the benchmark's inputs; it is not set-up
            self.info["stage_s"] = ensure_stage(self.spark, self.wl, self.stage_dir, self.seed)
            self.ref = load_reference(self.stage_dir)
            t0 += self.info["stage_s"]
        else:
            self.spark.stop()
            t0 = time.perf_counter()
            self.spark = start_session(event_log)
            start_s = time.perf_counter() - t0
        self.wl.check_stage(self.stage_dir)
        self.wl.register(self.spark, self.stage_dir)
        for _ in range(warmups):
            self.one_run(Spans(), measure_rss=False)
        setup_s = time.perf_counter() - t0
        runs = []
        end = time.monotonic() + (budget_s or 0)
        while budget_s is not None:
            sp = Spans(self.spark.sparkContext, tag=str(self.n_runs + 1)) if event_log else Spans()
            wall, peak, ok = self.one_run(sp, measure_rss=event_log is None)
            runs.append({"wall": wall, "peak": peak, "ok": ok, "spans": sp})
            if time.monotonic() >= end:
                break
        return setup_s, start_s, runs

    @staticmethod
    def _timed(runs):
        """Runs whose wall time counts: the correct ones, or when none was
        correct, every run that finished."""
        good = [r for r in runs if r["ok"]]
        good = good or [r for r in runs if r["wall"] is not None]
        if not good:
            raise RuntimeError("no timed run finished")
        return good

    def end_to_end(self) -> dict:
        # two set-ups: the JVM's first session (cold) and a fresh session in
        # the warm JVM; the timed runs follow the second
        setup_cold, _, _ = self.session(None)
        setup_warm, _, runs = self.session(self.seconds)
        setups = [setup_cold, setup_warm]
        good = self._timed(runs)
        rows = self.wl.rows(self.ref)
        walls = [r["wall"] for r in good]
        self.info.update(timed_runs=len(walls), walls=walls, setups=setups, rows=rows)
        return {
            "wall_s": statistics.median(walls),
            "rows_per_s": statistics.median(rows / w for w in walls),
            "setup_s": statistics.median(setups),
            "peak_rss_mb": statistics.median(r["peak"] for r in good) / 2**20,
        }

    def per_layer(self) -> dict:
        # untraced runs after two warm-ups, so they run as warm as the
        # traced runs, which follow the traced session's own warm-up
        _, _, plain = self.session(self.seconds / 2, warmups=2)
        log_dir = WORK / "eventlog" / str(os.getpid())
        shutil.rmtree(log_dir, ignore_errors=True)
        _, start_s, traced = self.session(self.seconds / 2, log_dir)
        self.spark.stop()  # flushes the event log
        self.spark = None
        events = read_events(log_dir)
        shutil.rmtree(log_dir, ignore_errors=True)
        plain, traced = self._timed(plain), self._timed(traced)
        names = per_layer_metrics(self.families)
        samples: dict[str, list[float]] = {}
        for r in traced:
            for name, v in layer_values(attribute(events, r["spans"].records, usable_cores()), r["spans"].counts).items():
                samples.setdefault(name, []).append(v)
        out = {name: statistics.median(samples.get(name, [0.0])) for name in names}
        out["session.start_s"] = start_s
        out["trace.overhead_s"] = statistics.median(r["wall"] for r in traced) - statistics.median(r["wall"] for r in plain)
        self.info.update(untraced_walls=[r["wall"] for r in plain], traced_walls=[r["wall"] for r in traced])
        return out

    def execute(self) -> tuple[dict, dict]:
        """(metric values, metric name -> (unit, better))."""
        self.run_root.mkdir(parents=True)
        if self.trace:
            values, names = self.per_layer(), per_layer_metrics(self.families)
        else:
            values, names = self.end_to_end(), END_TO_END
        return values, names

    def close(self) -> None:
        """Stop Spark, then the JVM and its Python workers, and wait for
        every one of them to end."""
        if self.spark is not None:
            self.spark.stop()
        gateway = pyspark.SparkContext._gateway
        if gateway is not None:
            pids = process_tree(gateway.proc.pid)
            try:
                gateway.shutdown()
            finally:
                gateway.proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    gateway.proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    gateway.proc.kill()
                    gateway.proc.wait()
            deadline = time.monotonic() + 30
            while any(Path(f"/proc/{p}").exists() for p in pids) and time.monotonic() < deadline:
                time.sleep(0.1)
            for p in pids:
                if Path(f"/proc/{p}").exists():
                    os.kill(p, signal.SIGKILL)
        shutil.rmtree(self.run_root, ignore_errors=True)


def layer_values(spans: dict[str, dict], counts: dict[str, float]) -> dict[str, float]:
    """One traced run's per-layer values; a span the run did not open is absent."""
    v: dict[str, float] = {}
    for span, wall_name in SPAN_WALL.items():
        s = spans.get(span)
        if s is not None:
            v[wall_name] = s["wall_s"]
            v.update({f"{span}.{stat}": s[stat] for stat in SPAN_STAT_UNITS})
    total = lambda key, names: sum(spans[n][key] for n in names if n in spans)  # noqa: E731
    v["reader.input_bytes"] = total("input_bytes", spans)
    v["write.output_bytes"] = total("output_bytes", spans)
    v["suite.exchange_bytes"] = total("shuffle_write_bytes", ["suite.violations"])
    v["suite.spill_bytes"] = total("spill_bytes", ["suite.violations"])
    v["stats.shuffle_bytes"] = total("shuffle_write_bytes", ["stats"])
    v["dedup.shuffle_bytes"] = total("shuffle_write_bytes", [n for n in spans if n.startswith("dedup.")])
    if "dedup.clusters" in spans:
        v["dedup.clusters_jobs"] = spans["dedup.clusters"]["jobs"]
    scanned = total("input_records", ["suite.violations"])
    if "checkpoint.pending_rows" in counts and scanned:
        v["checkpoint.scan_useful_ratio"] = counts["checkpoint.pending_rows"] / scanned
    v.update({k: c for k, c in counts.items() if k in DERIVED})
    return v


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True, help="timed seconds per invocation")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0, help="input size multiplier (the smoke test uses a tiny one)")
    args = p.parse_args(argv)

    if not (ROOT / "tag_spark" / "__init__.py").is_file():
        print(f"perfbench: no tag_spark package under {ROOT}; run from a repository checkout", file=sys.stderr)
        return 2
    prepare_environment()
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload](args.scale)
    bench = Bench(wl, args.seed, args.seconds, bool(args.trace))
    try:
        values, names = bench.execute()
    finally:
        bench.close()
    bench.info.update(workload=wl.name, seed=args.seed, size=wl.size(), cpus=usable_cores(), heap=HEAP, spark=pyspark.__version__)
    print(json.dumps({"perfbench_info": bench.info}))
    result = {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {name: {"value": values[name], "unit": unit} for name, (unit, _) in names.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
