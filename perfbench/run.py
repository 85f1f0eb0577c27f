"""kgp benchmark: seeded, oracle-checked workloads, end to end or traced per layer.

Run from the root of a kgp checkout:

    python3 perfbench/run.py --workload kg_dense --seed 1 --seconds 12 --trace 0

One process runs one workload at ``local[<usable cores>]``. It builds the
seeded inputs and their gold once per seed (cached under ``.perfbench/``),
sets up (Spark session, ``kgp`` shipped to the Python workers, model build,
one untimed warm-up run), then runs closed-loop — one run at a time, the next
starting when the previous one ends — for ``--seconds``. Every run, warm-up
included, is checked against the gold; a run that raises or mismatches is a
failure.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs untraced,
traced, untraced, in turn, with the Spark event log on, and reports the
per-layer metrics (see ``tracing.py``).

The last line of standard output is the result, one JSON object; the line
before it is the full report (every run, its host record, the percentiles).
Exits 2 without a result when the checkout has no ``kgp`` package.
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
import tempfile
import time
import traceback
import zipfile
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")


def process_start_time() -> float:
    """Epoch seconds at which this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(ln.split()[1]) for ln in f if ln.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail_summary(xs: list[float]) -> dict:
    """Median, sample count and the highest percentile with at least ten
    samples beyond it (none below 11 samples)."""
    out = {"n": len(xs), "median": median(xs)}
    if len(xs) >= 11:
        p = int(100 * (1 - 10 / len(xs)))
        out[f"p{p}"] = statistics.quantiles(xs, n=100, method="inclusive")[p - 1]
    else:
        out["tail"] = "fewer than 11 samples: no percentile has ten beyond it"
    return out


def ship_kgp(run_dir: str) -> str:
    """Zip the checkout's ``kgp`` package for the Python workers."""
    path = os.path.join(run_dir, "kgp.zip")
    with zipfile.ZipFile(path, "w") as z:
        for root, _, files in os.walk(os.path.join(ROOT, "kgp")):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, ROOT))
    return path


class Bench:
    """One benchmark process: session lifecycle, runs, checks and records."""

    def __init__(self, args, workload):
        from proctree import RssSampler, usable_cores

        self.args = args
        self.w = workload
        self.cores = usable_cores()
        self.run_dir = os.path.join(WORK, f"run-{os.getpid()}")
        self.tmp = os.path.join(self.run_dir, "tmp")
        os.makedirs(self.tmp, exist_ok=True)
        self.eventlog = os.path.join(self.run_dir, "eventlog") if args.trace else None
        # keep every temporary file of Python, the launcher and the JVM in
        # the checkout; -UsePerfData stops the JVM writing /tmp/hsperfdata_*
        self.java_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={self.tmp}"
        os.environ.update(TMPDIR=self.tmp, SPARK_LOCAL_DIRS=self.tmp, SPARK_LAUNCHER_OPTS=self.java_opts)
        tempfile.tempdir = self.tmp
        self.sampler = RssSampler()
        self.runs: list[dict] = []
        self.spark = None
        self.tracer = None
        self.attribution = None
        self.last_traced = None
        self.model = None
        self.zip = ship_kgp(self.run_dir)
        self.drops: list[str] = []

    # --- session -----------------------------------------------------------

    def start_session(self):
        from kgp.session import get_spark

        conf = {
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": self.tmp,
            "spark.driver.extraJavaOptions": self.java_opts,
        }
        if self.eventlog:
            os.makedirs(self.eventlog, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": f"file://{self.eventlog}",
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        self.spark = get_spark("kgp-perfbench", master=f"local[{self.cores}]", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.sparkContext.addPyFile(self.zip)
        if self.w.kind == "pipeline":
            from workloads import load_model

            self.model = load_model(self.spark, self.inputs)

    def stop_jvm(self):
        """Stop the session and the JVM, and wait for every process of the
        tree (JVM, Python workers) to end."""
        from proctree import tree_pids, wait_gone
        from pyspark import SparkContext

        self.sampler.enable(False)
        pids = set(self.sampler.pids) | set(tree_pids())
        gw = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = SparkContext._jvm = None
        self.sampler.close()
        left = wait_gone(pids)
        for pid in left:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        wait_gone(left, timeout=10)

    # --- one run -------------------------------------------------------------

    def one_run(self, kind: str) -> dict:
        """Run once (``kind`` is warmup, timed or traced), check the outputs,
        record time, CPU and host."""
        import kgp.stages.pipeline as pipeline
        from proctree import HostRecord, tree_cpu

        idx = len(self.runs)
        outdir = os.path.join(self.run_dir, "out", str(idx))
        rec = {"idx": idx, "kind": kind, "ok": False, "errors": []}
        host, cpu0 = HostRecord(), tree_cpu()
        out = None
        t0 = time.time()
        try:
            if kind == "traced":
                with self.tracer.run(f"r{idx}"), self.tracer.installed(pipeline):
                    out = self._execute(outdir, self.tracer.span)
            else:
                out = self._execute(outdir, lambda layer: nullcontext())
            t1 = time.time()
        except Exception as e:  # a failed run is recorded and the loop goes on
            t1 = time.time()
            rec["errors"].append(f"{type(e).__name__}: {e}".splitlines()[0][:500])
            traceback.print_exc(file=sys.stderr)
        cpu1 = tree_cpu()
        rec.update(
            start=t0, end=t1, run_s=t1 - t0,
            cpu_s=cpu1["total"] - cpu0["total"],
            python_cpu_s=cpu1["python"] - cpu0["python"],
            jvm_cpu_s=cpu1["jvm"] - cpu0["jvm"],
            host=host.finish(),
        )
        if not rec["errors"]:
            try:
                self.spark.sparkContext.setJobGroup("bench", "output check")
                rec["errors"] = self._check(out, outdir)
            except Exception as e:
                rec["errors"].append(f"check raised {type(e).__name__}: {e}".splitlines()[0][:500])
            finally:
                self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        rec["ok"] = not rec["errors"]
        self.runs.append(rec)
        if kind == "traced":
            # per-layer row counts read the last traced run's outputs; other
            # runs' outputs are dropped so their pinned blocks can be freed
            self.last_traced = (rec, out, outdir)
        return rec

    def _execute(self, outdir: str, span):
        import workloads as wl

        if self.w.kind == "ops":
            self.drops.clear()
            return wl.run_ops_once(self.spark, self.inputs, span, self.drops)
        return wl.run_pipeline_once(self.spark, self.inputs, self.model, outdir, span)

    def _check(self, out, outdir: str) -> list[str]:
        import workloads as wl

        if self.w.kind == "ops":
            return list(self.drops) + wl.check_ops(out, self.inputs, self.canon)
        return wl.diff_outputs(wl.read_pipeline_outputs(out, outdir), self.gold)

    # --- phases --------------------------------------------------------------

    def prepare_inputs(self) -> float:
        import workloads as wl

        t0 = time.time()
        if self.w.kind == "ops":
            self.inputs = wl.build_ops_inputs(self.w, self.args.seed, WORK, ROOT)
            self.canon = wl.selfcheck_canon(ROOT)
            gold = wl.read_json(os.path.join(self.inputs, "gold.json"))
            self.items = sum(n for n, _ in gold.values())
        else:
            self.inputs = wl.build_pipeline_inputs(self.w, self.args.seed, WORK, ROOT)
            self.gold = wl.gold_outputs(self.inputs)
            self.items = len(self.gold["triples"])
        return time.time() - t0

    def setup(self):
        """Session start, kgp shipped, model built, one untimed warm-up run.

        The cold first run takes about twice as long as the next. A second
        warm-up made the timed run only 7-12% faster on average and no
        steadier across seeds, and costs a run's time in every process."""
        self.start_session()
        self.one_run("warmup")

    def timed_loop(self, kinds):
        """Closed loop within ``--seconds``: run the ``kinds`` in turn, at
        least one of each, and start another run only while the previous
        one's duration still fits before the deadline. Peak RSS is sampled
        from here on."""
        self.sampler.enable(True)
        t_end = time.time() + self.args.seconds
        done, last = 0, 0.0
        while done < len(kinds) or time.time() + last <= t_end:
            kind = kinds[done % len(kinds)]
            last = self.one_run(kind)["run_s"]
            done += 1


def end_to_end(b: Bench, setup_s: float) -> dict:
    timed = [r for r in b.runs if r["kind"] == "timed"]
    run_s = median([r["run_s"] for r in timed])
    return {
        "run_s": {"value": run_s, "unit": "s"},
        "items_per_s": {"value": b.items / run_s if run_s else 0.0, "unit": "1/s"},
        "cpu_s": {"value": median([r["cpu_s"] for r in timed]), "unit": "s"},
        "peak_rss_mb": {"value": b.sampler.peak / 1e6, "unit": "MB"},
        "setup_s": {"value": setup_s, "unit": "s"},
    }


def per_layer(b: Bench) -> dict:
    import tracing
    import workloads as wl

    traced = [r for r in b.runs if r["kind"] == "traced"]
    untraced = [r for r in b.runs if r["kind"] == "timed"]
    windows = [(f"r{r['idx']}", r["start"], r["end"]) for r in traced]
    folded = tracing.fold(tracing.read_events(b.eventlog), windows, b.tracer.spans)
    b.attribution = [
        {k: f[k] for k in ("run", "event_log_task_s", "unattributed_task_s", "missed_tasks", "attribution_ok")}
        for f in folded
    ]

    metrics: dict = {}
    for layer in tracing.LAYERS:
        for m, unit in tracing.LAYER_METRICS:
            if m != "rows_out":
                metrics[f"{layer}.{m}"] = {"value": median([f["layers"][layer][m] for f in folded]), "unit": unit}

    _, out, outdir = b.last_traced
    rows = dict.fromkeys(tracing.LAYERS, 0)
    yields = dict.fromkeys(
        ("mentions.hit_ratio", "relations.yield", "coref.yield", "linking.yield", "dedup.yield"), 0.0
    )
    sc = b.spark.sparkContext
    sc.setJobGroup("bench", "row counts and yields")
    try:
        if out is None:  # the run failed: nothing to count
            pass
        elif b.w.kind == "ops":
            from kgp.ops.dedup import ngram_jaccard_pairs

            for layer, name in wl.OPS:
                rows[layer] += len(out[name][1])
            docs, _ = wl.load_ops_inputs(b.spark, b.inputs)
            candidates = ngram_jaccard_pairs(docs, n=3, threshold=0.0).count()
            emitted = len(out["ngram_jaccard"][1])
            yields["dedup.yield"] = emitted / candidates if candidates else 0.0
        else:
            rows.update(pipeline_counts(b, out, outdir, yields))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    for layer in tracing.LAYERS:
        metrics[f"{layer}.rows_out"] = {"value": rows[layer], "unit": "count"}
    for name, v in yields.items():
        metrics[name] = {"value": v, "unit": "ratio"}

    metrics["driver.gap_s"] = {"value": median([f["gap_s"] for f in folded]), "unit": "s"}
    metrics["python.cpu_s"] = {"value": median([r["python_cpu_s"] for r in traced]), "unit": "s"}
    metrics["jvm.cpu_s"] = {"value": median([r["jvm_cpu_s"] for r in traced]), "unit": "s"}
    metrics["unattributed.task_s"] = {
        "value": median([f["unattributed_task_s"] for f in folded]), "unit": "s"
    }
    metrics["trace.overhead_s"] = {
        "value": median([r["run_s"] for r in traced]) - median([r["run_s"] for r in untraced]),
        "unit": "s",
    }
    return metrics


def pipeline_counts(b: Bench, out: dict, outdir: str, yields: dict) -> dict:
    """Rows each pipeline layer emitted in the last traced run, and the
    yield ratios, from public functions applied to the returned outputs."""
    import workloads as wl
    from kgp.config import DEFAULT_CONFIG as cfg
    from kgp.stages.coref import positive_edges, score_coref_pairs
    from kgp.stages.pairs import coref_pairs, re_pairs

    count = lambda name: wl.parquet_count(os.path.join(outdir, name))  # noqa: E731
    mentions = out["mentions"]
    n_rel = out["relations"].count()
    n_links = count("links")
    scored = score_coref_pairs(b.spark, coref_pairs(mentions, cfg), b.model.surface_groups, cfg)
    n_scored = scored.count()
    n_pos = positive_edges(scored, cfg).count()
    n_re_pairs = re_pairs(mentions, cfg).count()
    n_cand = out["link_candidates"].count()
    yields["mentions.hit_ratio"] = mentions.select("conv_id", "turn_idx").distinct().count() / b.gold["turns"]
    yields["relations.yield"] = n_rel / n_re_pairs if n_re_pairs else 0.0
    yields["coref.yield"] = n_pos / n_scored if n_scored else 0.0
    yields["linking.yield"] = n_links / n_cand if n_cand else 0.0
    return {
        "assemble": count("documents"),
        "mentions": mentions.count(),
        "relations": n_rel,
        "coref": out["clusters"].count(),
        "linking": n_links,
        "triples": count("triples"),
        "graph": count("edges"),
        "reuse": sum(df.count() for df in b.tracer.reuse_outputs),
        "sink": sum(count(n) for n in wl.DELIVERABLES if n not in wl.LAZY_DELIVERABLE_LAYER),
    }


def main(argv=None) -> int:
    import workloads as wl

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(wl.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "kgp", "__init__.py")):
        print(f"no kgp package under {ROOT}: run from the root of a kgp checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)

    t_start = process_start_time()
    w = wl.WORKLOADS[args.workload]
    b = Bench(args, w)
    try:
        harness_s = b.prepare_inputs()
        b.setup()
        # set-up runs from process start, less the benchmark's own input build
        setup_s = time.time() - t_start - harness_s
        if args.trace:
            import tracing

            b.tracer = tracing.Tracer(b.spark.sparkContext)
            # a traced run between two untimed ones, so that the warm-up
            # trend cancels out of trace.overhead_s
            b.timed_loop(["timed", "traced", "timed"])
            metrics = per_layer(b)
        else:
            b.timed_loop(["timed"])
            metrics = end_to_end(b, setup_s)
    finally:
        b.stop_jvm()
        shutil.rmtree(b.run_dir, ignore_errors=True)

    failed = sum(not r["ok"] for r in b.runs)
    attribution_ok = all(a["attribution_ok"] for a in b.attribution or [])
    timed = [r["run_s"] for r in b.runs if r["kind"] == "timed"]
    report = {
        "workload": w.name, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "cores": b.cores, "items": b.items, "input_build_s": harness_s, "setup_s": setup_s,
        "run_s": tail_summary(timed), "failed_frac": failed / len(b.runs),
        "attribution": b.attribution, "runs": b.runs,
    }
    print(json.dumps({"report": report}))
    print(
        json.dumps(
            {
                "correct": failed == 0 and attribution_ok,
                "attempted": len(b.runs),
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
