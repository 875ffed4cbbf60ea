"""Layered extraction benchmark for docwire_spark.

    python3 perfbench/run.py --workload cc_html --seed 1 --seconds 16 --trace 0
    python3 perfbench/run.py --seed 1          # every workload, one row each

Run from the repository root.  One workload run:

1. builds the workload's inputs from ``--seed`` (``perfbench/inputs.py``);
2. sets up: ``build_session()`` as shipped on ``local[nproc]``, then one
   untimed warm pass (``extract_pages`` -> ``CheckpointedWriter.run``);
3. runs the workload's job, one at a time, until ``--seconds`` of job
   time have passed, each into a fresh empty output directory, and
   checks every output row against the expected bytes between jobs;
   or, with ``--trace 1``, measures each layer instead, a fixed number
   of times (``perfbench/layers.py``), partly in a second Spark context
   that writes an event log.

It prints a table, one detail line, and as its last line one JSON
object ``{correct, attempted, failed, metrics}``: the end-to-end
metrics untraced, the per-layer metrics traced.  It exits 1 when any
row is wrong.  Everything it writes stays under the repository root,
in ``.perfbench_work/`` (removed at exit) and ``.perfbench_out/``.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

import bench  # noqa: E402  (cpu_calibration)
from pyspark import SparkContext  # noqa: E402

from docwire_spark.spark.extract import DEFAULT_SHARDS, extract_pages  # noqa: E402
from docwire_spark.spark.lineage import CheckpointedWriter  # noqa: E402
from docwire_spark.spark.session import build_session  # noqa: E402
from jobs.pipeline_job import run_pipeline  # noqa: E402
from perfbench import layers  # noqa: E402
from perfbench.check import (  # noqa: E402
    check_committed, check_extract_output, check_pipeline_output, read_groups,
    read_log, self_test,
)
from perfbench.inputs import make_inputs, sample_index, write_subset  # noqa: E402
from perfbench.trace import Tracer, WorkerMemory, read_event_log  # noqa: E402

WORKLOADS = ("cc_html", "mixed_formats", "train_pipeline")
CALIBRATION_N = 2_000_000  # integer-burn length per calibration worker
LAYER_REPS = 2
SETTLE_PASSES = 2
PIPELINE_ROWS = 150  # seeded rows of cc_html / mixed_formats run through run_pipeline
PIPELINE_GROUPS = 16  # run_pipeline's default commit groups
FAMILY_ROWS = 1500  # mixed_formats rows timed for the format families of other workloads


def cores() -> int:
    return len(os.sched_getaffinity(0))


def _declared(kind: str) -> dict:
    """name -> unit of the ``end_to_end`` or ``per_layer`` metrics."""
    with open(ROOT / "BENCHMARK.json") as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def _prepare_env(work: Path) -> None:
    """Pin Spark to local[nproc] and keep every temp file in ``work``."""
    for sub in ("tmp", "spark-local"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    java_opts = f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "") + " " + java_opts
    ).strip()
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def _stop_spark(spark) -> None:
    """Stop the context and the JVM behind it, and wait for the JVM."""
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = gw.proc
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


class Workload:
    """One workload's inputs, its job and the check of the job's output."""

    def __init__(self, name: str, inputs, work: Path):
        self.name = name
        self.inputs = inputs
        self.work = work
        self.n_groups = None
        self.summary = None  # of the last run_pipeline job
        # untimed jobs between set-up and timing, so the timed jobs run
        # near the JVM's steady speed (job times fall for three to five
        # jobs after the warm pass, and job_s is a median); none for the
        # pipeline, a job that runs once per process, so its users pay
        # the first-run cost
        self.settle_passes = 0 if name == "train_pipeline" else SETTLE_PASSES

    def extract_commit(self, spark, out_dir: Path):
        pages = spark.read.parquet(self.inputs.path)
        w = CheckpointedWriter(str(out_dir), n_shards=DEFAULT_SHARDS)
        self.n_groups = w.groups
        return w.run(extract_pages(pages, n_shards=DEFAULT_SHARDS))

    def job(self, spark, out_dir: Path):
        if self.name != "train_pipeline":
            return self.extract_commit(spark, out_dir)
        self.summary = run_pipeline(spark, spark.read.parquet(self.inputs.path), str(out_dir))
        return self.summary

    def check(self, out_dir: Path, result):
        if self.name != "train_pipeline":
            return check_extract_output(str(out_dir), self.inputs.expected, self.n_groups)
        return check_pipeline_output(str(out_dir), self.inputs.expected, result,
                                     PIPELINE_GROUPS)


class Tally:
    """Rows attempted and wrong over every checked output of a run."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.wrong_urls: list = []
        self.problems: list = []

    def add(self, outcome) -> None:
        self.attempted += outcome.rows
        self.failed += outcome.n_wrong
        self.wrong_urls += outcome.wrong[:20]
        self.problems += outcome.problems

    def fail_all(self, rows: int, why: str) -> None:
        self.attempted += rows
        self.failed += rows
        self.problems.append(why)


def timed_loop(spark, wl: Workload, seconds: float, label: str, tally: Tally,
               tracer=None, keep_last=False):
    """Run the job until ``seconds`` of job time have passed (at least
    once); returns (job times, peak worker MiB, last output dir)."""
    times, peak, k, last = [], 0.0, 0, None
    while not times or sum(times) < seconds:
        out_dir = wl.work / f"{label}-{k}"
        span = contextlib.nullcontext()
        if tracer is not None:
            spark.sparkContext.setJobGroup(f"{label}.{k}", label)
            span = tracer.span(label)
        try:
            with WorkerMemory(SparkContext._gateway.proc.pid) as mem, span:
                t0 = time.perf_counter()
                result = wl.job(spark, out_dir)
                dt = time.perf_counter() - t0
        except Exception as exc:  # a failed job counts all its rows
            tally.fail_all(len(wl.inputs.urls), f"{label} job {k} failed: {exc!r}")
            break
        times.append(dt)
        peak = max(peak, mem.peak)
        tally.add(wl.check(out_dir, result))
        if last is not None:
            shutil.rmtree(last, ignore_errors=True)
        last = out_dir
        k += 1
    if not keep_last and last is not None:
        shutil.rmtree(last, ignore_errors=True)
    return times, peak, last


def setup(wl: Workload, tally: Tally, import_s: float):
    """build_session() as shipped, then the untimed warm pass; the warm
    output is checked and the checker's self-test runs on it."""
    t0 = time.perf_counter()
    spark = build_session()
    build_s = time.perf_counter() - t0
    warm_dir = wl.work / "warm"
    t0 = time.perf_counter()
    wl.extract_commit(spark, warm_dir)
    warm_s = time.perf_counter() - t0
    groups = read_groups(str(warm_dir), ["url", "extracted_text", "error"])
    log = read_log(str(warm_dir))
    tally.add(check_committed(groups, log, wl.inputs.expected, wl.n_groups))
    for failure in self_test(groups, log, wl.inputs.expected, wl.n_groups):
        tally.problems.append("checker self-test: " + failure)
    shutil.rmtree(warm_dir, ignore_errors=True)
    return spark, {"setup_s": import_s + build_s + warm_s, "session.build_s": build_s,
                   "session.warm_s": warm_s, "import_s": import_s}


def end_to_end(spark, wl: Workload, seconds: float, setup_s: float, tally: Tally,
               detail: dict) -> dict:
    for k in range(wl.settle_passes):
        timed_loop(spark, wl, 0, f"settle{k}", tally)
    times, peak, _ = timed_loop(spark, wl, seconds, "untraced", tally)
    detail["job_times_s"] = times
    if not times:
        raise RuntimeError("no job completed: " + "; ".join(tally.problems))
    job_s = statistics.median(times)
    return {
        "setup_s": setup_s,
        "job_s": job_s,
        "docs_per_s": len(wl.inputs.urls) / job_s,
        "mb_per_s": wl.inputs.summary["bytes"] / 1e6 / job_s,
        "worker_peak_rss_mb": peak,
    }


def traced_layers(spark, wl: Workload, tally: Tally, tracer, detail: dict):
    """Spark layers, starting from the shipped context ``spark`` (scan
    and boundary legs, untraced noop reference), then a second context
    with the event log on (traced noop leg, one job, lineage
    resume/rerun, pipeline phases), then a local[1] context for the
    scaling leg.  Returns (the open local[1] session, metrics)."""
    # scan and boundary legs need no event log; the noop leg here is
    # the untraced reference for the tracing overhead, run after them
    # so the JVM is nearly as warm as for the traced noop leg
    m = layers.extract_legs(spark, wl.inputs.path, ("scan", "boundary", "noop"),
                            LAYER_REPS, tracer)
    untraced_noop_s = m.pop("extract.noop_s")
    ncores = cores()
    evdir = wl.work / "eventlog"
    evdir.mkdir()
    spark.stop()
    spark = build_session(extra_conf={
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": evdir.as_uri(),
        "spark.eventLog.compress": "false",
    })
    layers.noop_seconds(spark, wl.inputs.path)  # warm the new workers, untimed
    m.update(layers.extract_legs(spark, wl.inputs.path, ("noop",), LAYER_REPS, tracer))
    m["trace.overhead_frac"] = m["extract.noop_s"] / untraced_noop_s - 1.0

    # one traced job: enough for its task counts and lineage.commit_s
    times, _peak, last = timed_loop(spark, wl, 0, "job", tally, tracer, keep_last=True)
    if not times:
        raise RuntimeError("no traced job completed: " + "; ".join(tally.problems))
    if wl.name == "train_pipeline":
        summary, pipe_dir, pipe_group = wl.summary, last, "job.0"
        lineage_dir = wl.work / "lineage"
        spark.sparkContext.setJobGroup("lineage", "lineage")
        with tracer.span("lineage.job"):
            wl.extract_commit(spark, lineage_dir)
        commit_s = tracer.durations("lineage.job")[-1] - m["extract.noop_s"]
    else:
        lineage_dir = last
        commit_s = times[0] - m["extract.noop_s"]
        sub = wl.work / "pipeline-in"
        expected = write_subset(wl.inputs, sample_index(wl.inputs, 7, PIPELINE_ROWS), str(sub))
        pipe_dir, pipe_group = wl.work / "pipeline", "pipeline"
        spark.sparkContext.setJobGroup(pipe_group, pipe_group)
        with tracer.span("pipeline"):
            summary = run_pipeline(spark, spark.read.parquet(str(sub)), str(pipe_dir))
        tally.add(check_pipeline_output(str(pipe_dir), expected, summary, PIPELINE_GROUPS))
    m["lineage.commit_s"] = commit_s
    m["lineage.files"], m["lineage.bytes_out"] = layers.output_files(str(lineage_dir))
    spark.sparkContext.setJobGroup("lineage.resume", "lineage.resume")
    m.update(layers.lineage_resume(spark, wl.inputs.path, str(lineage_dir),
                                   DEFAULT_SHARDS, tracer))
    tally.add(check_extract_output(str(lineage_dir), wl.inputs.expected, wl.n_groups))
    pipe_bytes_out = layers.output_files(str(pipe_dir))[1]
    spark.stop()  # closes the event log

    groups = read_event_log(str(evdir))
    m.update(layers.task_metrics(groups, "extract.noop", LAYER_REPS, ncores))
    m.update(layers.pipeline_metrics(
        summary, sum(t[2] for t in groups.get(pipe_group, [])), pipe_bytes_out))
    detail["task_counts"] = {g: len(ts) for g, ts in sorted(groups.items())}

    # single-core leg over the same input, against noop_s on all cores
    spark = build_session(master="local[1]")
    first = sorted(Path(wl.inputs.path).glob("*.parquet"))[0]
    layers.noop_seconds(spark, str(first))  # warm, untimed
    with tracer.span("extract.noop_1core"):
        t1 = layers.noop_seconds(spark, wl.inputs.path)
    m["extract.scaling_eff_1v4"] = t1 / (ncores * m["extract.noop_s"])
    m["extract.noop_docs_per_s"] = len(wl.inputs.urls) / m["extract.noop_s"]
    return spark, m


def run_one(args) -> int:
    import_s = time.perf_counter() - PROCESS_START
    work = ROOT / ".perfbench_work" / f"{args.workload}-s{args.seed}-{os.getpid()}"
    out_dir = ROOT / ".perfbench_out"
    out_dir.mkdir(exist_ok=True)
    _prepare_env(work)
    t0 = time.perf_counter()
    inputs = make_inputs(args.workload, args.seed, str(work / "in"))
    ncores = cores()
    detail = {"inputs": inputs.summary, "gen_s": time.perf_counter() - t0, "cores": ncores}
    wl = Workload(args.workload, inputs, work)
    tally = Tally()
    tracer = Tracer(run_id=f"{args.workload}-s{args.seed}") if args.trace else None
    per_layer: dict = {}
    e2e: dict = {}
    spark = None
    try:
        box_before = bench.cpu_calibration(ncores, CALIBRATION_N)
        if tracer is not None:  # single thread, before any Spark process runs
            rows = inputs.pick()
            fam_rows = (rows if args.workload == "mixed_formats"
                        else make_inputs("mixed_formats", args.seed).pick(range(FAMILY_ROWS)))
            per_layer.update(layers.kernel_layer(rows, fam_rows, tracer))
        spark, setup_m = setup(wl, tally, import_s)
        detail.update(setup_m, input_splits=spark.read.parquet(inputs.path).rdd.getNumPartitions())
        if tracer is None:
            e2e = end_to_end(spark, wl, args.seconds, setup_m["setup_s"], tally, detail)
        else:
            per_layer["session.build_s"] = setup_m["session.build_s"]
            per_layer["session.warm_s"] = setup_m["session.warm_s"]
            spark, m = traced_layers(spark, wl, tally, tracer, detail)
            per_layer.update(m)
            per_layer["extract.parallel_eff"] = (
                per_layer.pop("extract.noop_docs_per_s")
                / (ncores * per_layer["kernel.docs_per_s"])
            )
        _stop_spark(spark)
        spark = None
        box_after = bench.cpu_calibration(ncores, CALIBRATION_N)
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    detail["box"] = {"before": box_before, "after": box_after}
    detail["wrong_rows_frac"] = tally.failed / tally.attempted
    detail["wrong_urls"] = tally.wrong_urls[:50]
    detail["problems"] = tally.problems
    tag = f"{args.workload}-s{args.seed}" + ("-trace" if tracer else "")
    if tracer is not None:
        tracer.dump(str(out_dir / f"{tag}-spans.json"))
        per_layer["box.cpu_single_s"] = (box_before[0] + box_after[0]) / 2
        per_layer["box.eff_cores"] = (box_before[1] + box_after[1]) / 2
    measured = per_layer if tracer is not None else e2e
    declared = _declared("per_layer" if tracer is not None else "end_to_end")
    missing = sorted(set(declared) - set(measured))
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    metrics = {k: {"value": measured[k], "unit": u} for k, u in declared.items()}
    with open(out_dir / f"{tag}.json", "w") as f:
        json.dump({"detail": detail, "metrics": metrics}, f, indent=1)

    print(f"{'workload':16s} {'metric':28s} {'value':>14s} unit")
    for k, m in metrics.items():
        print(f"{args.workload:16s} {k:28s} {m['value']:14.4f} {m['unit']}")
    print(f"{args.workload:16s} {'wrong_rows_frac':28s} {detail['wrong_rows_frac']:14.6f} ratio")
    if tally.wrong_urls or tally.problems:
        print("wrong rows:", tally.wrong_urls[:50], tally.problems, file=sys.stderr)
    print("detail:", json.dumps(detail))
    correct = tally.failed == 0 and not tally.problems
    print(json.dumps({"correct": correct, "attempted": tally.attempted,
                      "failed": tally.failed, "metrics": metrics}))
    return 0 if correct else 1


def run_all(args) -> int:
    """Every workload in its own process; one table row per workload."""
    rows, ok = [], True
    for w in WORKLOADS:
        cmd = [sys.executable, str(Path(__file__).resolve()), "--workload", w,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        try:
            res = json.loads(lines[-1])
        except (IndexError, json.JSONDecodeError):
            res = {"correct": False, "attempted": 0, "failed": 0, "metrics": {}}
        ok &= proc.returncode == 0 and res["correct"]
        rows.append((w, res))
    names = list(dict.fromkeys(k for _w, r in rows for k in r["metrics"]))
    units = {k: m["unit"] for _w, r in rows for k, m in r["metrics"].items()}
    print(f"{'workload':16s} {'correct':8s} {'wrong_rows_frac[ratio]':>22s} "
          + " ".join(f"{f'{n}[{units[n]}]':>24s}" for n in names))
    for w, r in rows:
        frac = r["failed"] / r["attempted"] if r["attempted"] else 1.0
        vals = " ".join(f"{r['metrics'][n]['value']:24.4f}" if n in r["metrics"]
                        else f"{'-':>24s}" for n in names)
        print(f"{w:16s} {str(r['correct']):8s} {frac:22.6f} {vals}")
    return 0 if ok else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, default=None,
                    help="one workload; omitted: all of them, one row each")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=16)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    return run_one(args) if args.workload else run_all(args)


if __name__ == "__main__":
    sys.exit(main())
