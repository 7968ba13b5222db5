"""geobench: seeded end-to-end and per-layer benchmark of geotables_jl_spark.

Run from the root of a checkout:

    python3 geobench/run.py --workload pip_join --seed 1 --seconds 25 --trace 0
    python3 geobench/run.py --workload all --seed 1 --seconds 25 --trace 0

One process runs one workload on ``local[4]`` as a closed loop with one
client: set up (driver JVM, session, three untimed warm-up runs), then start a
run only after the previous one ended, until ``--seconds`` are used. Every
run is checked against an independent reference. The last stdout line is
one JSON object ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``; with ``--trace 1`` the per-layer
metrics of traced runs interleaved with untraced ones, and a spans file
under ``.geobench_work/trace/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)  # run as a script: make the geobench package importable

from geobench.metrics import RunLedger, ratio, summarize  # noqa: E402
from geobench.spark_proc import RssSampler, SparkProc  # noqa: E402
from geobench.trace import StatusReader, Tracer, common_layers  # noqa: E402
from geobench.workloads import WORKLOADS  # noqa: E402

CORES = 4
#: the library's 48g default is more than this 15 GB box has
DRIVER_MEM = "4g"
RUN_TIMEOUT_S = 60
#: the first run after start is ~3x a warm one, the second still ~1.3x;
#: runs keep getting faster for a minute or more after that (a pipeline
#: process measured 4.3 s falling to 3.4 s over 90 s), so a third warm-up
#: moves the timed window further along that curve
WARMUP_RUNS = 3
SCALING_RUNS = 2

END_TO_END = (("setup_s", "s"), ("job_s", "s"), ("rows_per_s", "1/s"))
#: per-layer metrics, in the order they are printed; ``peak_rss_mb`` and
#: ``resume_s`` are end-to-end quantities kept here because they cannot be
#: gated (RSS follows the JVM's heap sizing; resume_s exists on one workload)
PER_LAYER = (
    ("peak_rss_mb", "MiB"),
    ("session.start_s", "s"),
    ("session.py_init_s", "s"),
    ("sources.scan_s", "s"),
    ("sources.read_mb", "MiB"),
    ("sources.decode_s", "s"),
    ("geojoin.plan_s", "s"),
    ("geojoin.plan_jobs", "count"),
    ("geojoin.cand_rows", "count"),
    ("geojoin.match_rows", "count"),
    ("geojoin.refine_yield", "ratio"),
    ("geojoin.bcast_mb", "MiB"),
    ("geojoin.bcast_s", "s"),
    ("geom.py_run_s", "s"),
    ("geom.py_sent_mb", "MiB"),
    ("geom.py_recv_mb", "MiB"),
    ("geom.py_rows", "count"),
    ("textstats.py_run_s", "s"),
    ("dedup.exact_shuffle_mb", "MiB"),
    ("dedup.call_s", "s"),
    ("dedup.sig_py_s", "s"),
    ("dedup.cand_pairs", "count"),
    ("dedup.edges", "count"),
    ("dedup.lsh_yield", "ratio"),
    ("checkpoint.stage_s.extract", "s"),
    ("checkpoint.stage_s.dedup", "s"),
    ("checkpoint.stage_s.stats", "s"),
    ("checkpoint.stage_s.tiles", "s"),
    ("checkpoint.write_mb", "MiB"),
    ("checkpoint.bytes_per_row", "B"),
    ("checkpoint.jobs", "count"),
    ("checkpoint.resume_hits", "count"),
    ("resume_s", "s"),
    ("spark.cpu_s", "s"),
    ("spark.run_s", "s"),
    ("spark.gc_s", "s"),
    ("spark.busy_frac", "ratio"),
    ("spark.shuffle_write_mb", "MiB"),
    ("spark.shuffle_read_mb", "MiB"),
    ("spark.spill_mb", "MiB"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.task_skew", "ratio"),
    ("scaling.eff_1to4", "ratio"),
    ("trace.overhead_frac", "ratio"),
)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, help="a workload name, or 'all' to run each in turn")
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _prepare_env(work: str) -> None:
    """Keep every file Spark, Python and the JVM write inside the work dir."""
    for sub in ("tmp", "spark-local", "out", "ckpt"):
        shutil.rmtree(os.path.join(work, sub), ignore_errors=True)
        os.makedirs(os.path.join(work, sub))
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # spark-submit's launcher JVM takes its options from here, not the conf
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


class Bench:
    """One workload's runs in one process: single checked runs and the
    timed loop."""

    def __init__(self, wl, proc, ledger):
        self.wl = wl
        self.proc = proc
        self.ledger = ledger

    def one_run(self, spark, tr) -> dict | None:
        """Run and check once; ``None`` when the run failed."""
        fired = threading.Event()

        def cancel() -> None:
            fired.set()
            spark.sparkContext.cancelAllJobs()

        timer = threading.Timer(RUN_TIMEOUT_S, cancel)
        timer.start()
        try:
            rec = self.wl.run(spark, tr)
            problems = self.wl.check(rec)
        except Exception as e:  # a failed run is counted, and the loop goes on
            traceback.print_exc(file=sys.stderr)
            rec, problems = None, [f"{type(e).__name__}: {str(e)[:200]}"]
        finally:
            timer.cancel()
            timer.join()
        if fired.is_set():
            problems.append(f"timed out after {RUN_TIMEOUT_S} s")
        for p in problems:
            print(f"geobench: {self.wl.name}: {p}", file=sys.stderr)
        return rec if self.ledger.record(problems) else None

    def measure(self, spark, tr, seconds: float, trace: int):
        """The timed closed loop. Returns the untraced and traced ``job_s``
        samples, the per-layer values of each traced run, the resume times
        and the peak RSS over the window."""
        plain, traced, layer_runs, resumes = [], [], [], []
        reader = StatusReader(spark) if trace else None
        deadline = time.perf_counter() + seconds
        with RssSampler(self.proc.jvm_pid) as rss:
            while True:
                t = time.perf_counter()
                # untraced and traced runs in the order U T T U U T T U ...,
                # so warm-up drift falls on both sides alike
                tracing = bool(trace) and tr.run % 4 in (1, 2)
                tr.run += 1
                mark = reader.mark() if tracing else None
                tr.enabled = tracing
                rec = self.one_run(spark, tr)
                tr.enabled = False
                if rec is not None and tracing:
                    tr.spans.append(
                        {"run": tr.run, "name": "run", "parent": None, "start": t,
                         "end": t + rec["job_s"], "s": rec["job_s"]}
                    )
                    rt = reader.since(mark)
                    traced.append(rec["job_s"])
                    layer_runs.append(
                        {**common_layers(rt, rec["job_s"], CORES), **self.wl.layers(rt, rec, tr)}
                    )
                elif rec is not None:
                    plain.append(rec["job_s"])
                    if "resume_s" in rec:
                        resumes.append(rec["resume_s"])
                took = time.perf_counter() - t
                left = deadline - time.perf_counter()
                # a traced process needs one run of each kind, within reason
                need_more = trace and not (plain and traced) and left > -seconds
                if not need_more and left < took:
                    break
        return plain, traced, layer_runs, resumes, rss.peak


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "geotables_jl_spark", "__init__.py")):
        print("geobench: no geotables_jl_spark package beside geobench/", file=sys.stderr)
        return 2
    if args.workload == "all":
        # one process per workload, so each gets its own JVM and set-up
        argv = ["--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        codes = [
            subprocess.call([sys.executable, os.path.abspath(__file__), "--workload", name, *argv])
            for name in WORKLOADS
        ]
        return max(codes)
    if args.workload not in WORKLOADS:
        print(f"geobench: unknown workload {args.workload!r} ({', '.join(WORKLOADS)})", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".geobench_work")
    _prepare_env(work)

    wl = WORKLOADS[args.workload](work, args.seed)
    t = time.perf_counter()
    wl.prepare()
    gen_s = time.perf_counter() - t

    ledger = RunLedger()
    proc = SparkProc(work)
    bench = Bench(wl, proc, ledger)
    try:
        t = time.perf_counter()
        spark = proc.start(CORES)
        start_s = time.perf_counter() - t
        tr = Tracer(spark, wl.name)
        if args.trace:
            tr.probe_broadcasts()
        warm, warm_resume, can_resume = [], [], wl.resume
        for i in range(WARMUP_RUNS):
            # the last warm-up makes and checks the re-invocation too; an
            # untraced process times the cold call alone, so more runs fit
            wl.resume = can_resume and (bool(args.trace) or i == WARMUP_RUNS - 1)
            t = time.perf_counter()
            rec = bench.one_run(spark, tr)
            if rec is None:
                print("geobench: a warm-up run failed", file=sys.stderr)
                return 1
            warm.append(time.perf_counter() - t)
            if "resume_s" in rec:
                warm_resume = [rec["resume_s"]]
        wl.resume = can_resume and bool(args.trace)
        setup_s = time.perf_counter() - T_START - gen_s

        plain, traced, layer_runs, resumes, peak_rss = bench.measure(spark, tr, args.seconds, args.trace)
        if not plain:
            print("geobench: no timed run succeeded", file=sys.stderr)
            return 1
        job = summarize(plain)
        rows_per_s = wl.rows / job["median"]
        lines = [
            f"geobench {wl.name} seed={args.seed} cores={CORES} driver_mem={DRIVER_MEM} "
            f"rows={wl.rows} inputs={gen_s:.2f}s(excluded)",
            f"  setup_s     {setup_s:.4f} s (n=1: session {start_s:.2f} s + warm-up runs "
            f"{' '.join(f'{v:.2f}' for v in warm)} s)",
            f"  job_s       {job['median']:.4f} s median (q1 {job['q1']:.4f}, q3 {job['q3']:.4f}, n={job['n']})",
            f"  rows_per_s  {rows_per_s:.2f} 1/s (n={job['n']})",
            f"  job_s runs  {' '.join(f'{v:.3f}' for v in plain)}",
            f"  peak_rss_mb {peak_rss / 2**20:.1f} MiB (driver JVM + Python workers, n=1 window)",
            f"  fail_frac   {ledger.fail_frac:.4f} ({ledger.failed}/{ledger.attempted} runs, warm-ups included)",
        ]
        if resumes or warm_resume:
            res = summarize(resumes or warm_resume)
            src = "" if resumes else ", last warm-up"
            lines.append(f"  resume_s    {res['median']:.4f} s median (n={res['n']}{src})")
        if not args.trace:
            metrics = {"setup_s": setup_s, "job_s": job["median"], "rows_per_s": rows_per_s}
        else:
            metrics, bases = trace_metrics(bench, spark, tr, layer_runs, traced, plain, resumes, start_s)
            metrics["peak_rss_mb"] = peak_rss / 2**20
            path = os.path.join(work, "trace", f"{wl.name}-seed{args.seed}.json")
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "w") as f:
                json.dump(
                    {"workload": wl.name, "seed": args.seed, "cores": CORES, "driver_mem": DRIVER_MEM,
                     "spans": tr.spans, "runs": layer_runs, "metrics": metrics,
                     "ratio_bases": bases},
                    f, indent=1,
                )
            lines.append(f"  trace       {len(traced)} traced runs, spans in {os.path.relpath(path, ROOT)}")
            for name, unit in PER_LAYER:
                lines.append(f"  {name:28s} {metrics[name]:.6g} {unit}")
        units = dict(END_TO_END + PER_LAYER)
        print("\n".join(lines))
        print(
            json.dumps(
                {
                    "correct": ledger.failed == 0,
                    "attempted": ledger.attempted,
                    "failed": ledger.failed,
                    "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
                }
            )
        )
        return 0
    finally:
        proc.close()


def trace_metrics(bench, spark, tr, layer_runs, traced, plain, resumes, start_s):
    """Per-layer metrics: medians over the traced runs, the prefix probes,
    the 1-core scaling run, and the tracing overhead."""
    wl = bench.wl
    out = {name: 0.0 for name, _ in PER_LAYER}
    for name in out:
        vals = [r[name] for r in layer_runs if name in r]
        if vals:
            out[name] = summarize(vals)["median"]
    tr.enabled = True
    out.update(wl.probes(spark, tr))
    tr.enabled = False
    out["session.start_s"] = start_s
    out["resume_s"] = summarize(resumes)["median"] if resumes else 0.0
    plain_med = summarize(plain)["median"]
    overhead = ratio(summarize(traced)["median"] - plain_med, plain_med) if traced else ratio(0, 0)
    out["trace.overhead_frac"] = overhead["value"]

    # the north rule: rows/s on local[4] against 4x rows/s on local[1],
    # measured on a fresh local[1] session in the same JVM
    bench.proc.stop_session()
    one = bench.proc.start(1)
    tr1 = Tracer(one, wl.name)
    singles = []
    for i in range(SCALING_RUNS + 1):
        rec = bench.one_run(one, tr1)
        if rec is not None and i > 0:
            singles.append(rec["job_s"])
    eff = ratio(wl.rows / plain_med, 4 * wl.rows / summarize(singles)["median"]) if singles else ratio(0, 0)
    out["scaling.eff_1to4"] = eff["value"]
    return out, {"scaling.eff_1to4": eff, "trace.overhead_frac": overhead}


if __name__ == "__main__":
    sys.exit(main())
