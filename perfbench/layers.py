"""Per-layer measurements for the traced run.

Each function times calls into one layer of the library from outside
and returns ``{metric name: value}``.  Names and units are listed in
``BENCHMARK.json``; ``ledger.json`` maps each to the end-to-end metric
it should move.
"""

from __future__ import annotations

import contextlib
import importlib
import os
import statistics
import time

from docwire_spark.kernel.api import extract
from docwire_spark.spark.extract import extract_pages
from docwire_spark.spark.lineage import CheckpointedWriter
from perfbench.check import read_log
from perfbench.inputs import FAMILIES, FAMILY_OF, percentile
from perfbench.trace import tail_seconds


# -- kernel ---------------------------------------------------------------

#: (module, attribute, span name): the HTML stages whose self time the
#: kernel layer reports, patched on the module the caller looks them up in
_HTML_STAGES = (
    ("docwire_spark.kernel.api", "detect_mime", "sniff"),
    ("docwire_spark.kernel.api", "ensure_html_utf8", "charset"),
    ("docwire_spark.kernel.api", "html_to_events", "events"),
    ("docwire_spark.kernel.html_extract", "parse_html", "tree"),
    ("docwire_spark.kernel.dom", "tokenize", "tokenize"),
    ("docwire_spark.kernel.api", "render_plain_text", "render"),
)


@contextlib.contextmanager
def _stage_spans(tracer):
    """Wrap each HTML stage function in a span for the duration."""
    saved = []
    for mod_name, attr, span in _HTML_STAGES:
        mod = importlib.import_module(mod_name)
        orig = getattr(mod, attr)
        saved.append((mod, attr, orig))

        def wrapped(*a, _orig=orig, _span=span, **kw):
            with tracer.span(_span):
                out = _orig(*a, **kw)
                # tokenize is a generator: drain it inside its span
                return iter(list(out)) if _span == "tokenize" else out

        setattr(mod, attr, wrapped)
    try:
        yield
    finally:
        for mod, attr, orig in saved:
            setattr(mod, attr, orig)


def kernel_layer(rows: list, family_rows: list, tracer) -> dict:
    """Single-thread kernel over the workload's rows (``rows``: url,
    payload, kind) and over the rows of a ``mixed_formats`` input
    (``family_rows``, which may be ``rows``).  One plain pass gives
    rates and per-doc times; a second pass with the HTML stages wrapped
    gives self times."""
    def timed_pass(sample):
        times, events, failed = [], 0, 0
        for url, payload, _kind in sample:
            t0 = time.perf_counter()
            res = extract(payload, url=url)
            times.append(time.perf_counter() - t0)
            events += res.n_events
            failed += res.error is not None
        return times, events, failed

    times, events, failed = timed_pass(rows)
    total = sum(times)
    n_bytes = sum(len(r[1]) for r in rows)
    out = {
        "kernel.docs_per_s": len(rows) / total,
        "kernel.mb_per_s": n_bytes / 1e6 / total,
        "kernel.doc_ms.p50": 1000 * percentile(times, 0.50),
        "kernel.doc_ms.p99": 1000 * percentile(times, 0.99),
        "kernel.doc_ms.max": 1000 * max(times),
        "kernel.events_per_doc": events / len(rows),
        "kernel.failed": failed,
    }
    with _stage_spans(tracer):
        for url, payload, _kind in rows:
            with tracer.span("kernel.extract"):
                extract(payload, url=url)
    self_s = tracer.self_times()
    for stage in ("sniff", "charset", "tokenize", "tree", "events", "render"):
        out[f"kernel.{stage}_s"] = self_s.get(stage, 0.0)
    out["kernel.other_s"] = self_s.get("kernel.extract", 0.0)

    fam_times = times if family_rows is rows else timed_pass(family_rows)[0]
    for fam in FAMILIES:
        ts = [t for t, r in zip(fam_times, family_rows) if FAMILY_OF[r[2]] == fam]
        out[f"kernel.{fam}.docs_per_s"] = len(ts) / sum(ts)
        out[f"kernel.{fam}.doc_ms.p99"] = 1000 * percentile(ts, 0.99)
    return out


# -- spark.extract ----------------------------------------------------------

def _identity_batches(counter_batches, counter_rows):
    """mapInArrow body that passes batches through, counting them."""

    def ident(it):
        for batch in it:
            counter_batches.add(1)
            counter_rows.add(batch.num_rows)
            yield batch

    return ident


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def noop_seconds(spark, in_path: str) -> float:
    """``extract_pages`` over the input into the noop sink; wall seconds."""
    t0 = time.perf_counter()
    _noop(extract_pages(spark.read.parquet(in_path)))
    return time.perf_counter() - t0


def extract_legs(spark, in_path: str, legs: tuple, reps: int, tracer) -> dict:
    """Each of ``legs`` (scan: parquet scan of ``url, html``; boundary:
    identity ``mapInArrow``; noop: ``extract_pages``), into the noop
    sink, ``reps`` times under job groups ``extract.<leg>.<rep>``;
    returns ``extract.<leg>_s`` medians (and batch counts for the
    boundary leg)."""
    sc = spark.sparkContext
    batches, rows = sc.accumulator(0), sc.accumulator(0)
    ident = _identity_batches(batches, rows)
    build = {
        "scan": lambda df: df,
        "boundary": lambda df: df.mapInArrow(ident, df.schema),
        "noop": extract_pages,
    }
    out = {}
    for leg in legs:
        times = []
        for rep in range(reps):
            df = spark.read.parquet(in_path).select("url", "html")
            # the group is set after the read, so the schema job is not in it
            sc.setJobGroup(f"extract.{leg}.{rep}", leg)
            with tracer.span(f"extract.{leg}") as span:
                _noop(build[leg](df))
            times.append(span["end"] - span["start"])
            sc.setJobGroup("other", "other")
        out[f"extract.{leg}_s"] = statistics.median(times)
    if "boundary" in legs:
        out["extract.batches"] = batches.value / reps
        out["extract.rows_per_batch"] = rows.value / batches.value
    return out


def task_metrics(groups: dict, prefix: str, reps: int, cores: int) -> dict:
    """Task count, task-time p50/max and tail time of the job groups
    ``prefix.0 .. prefix.<reps-1>`` (median over reps)."""
    per_rep = []
    for rep in range(reps):
        tasks = groups.get(f"{prefix}.{rep}", [])
        durs = [t[1] - t[0] for t in tasks] or [0.0]
        per_rep.append((len(tasks), percentile(durs, 0.5), max(durs), tail_seconds(tasks, cores)))
    med = [statistics.median(col) for col in zip(*per_rep)]
    return {"extract.tasks": med[0], "extract.task_s.p50": med[1],
            "extract.task_s.max": med[2], "extract.tail_s": med[3]}


# -- spark.lineage ----------------------------------------------------------

def output_files(out_dir: str):
    files = [os.path.join(root, f) for root, _d, fs in os.walk(out_dir)
             for f in fs if f.endswith(".parquet")]
    return len(files), sum(os.path.getsize(f) for f in files)


def cut_log_to_half(out_dir: str) -> None:
    """Keep the first half of the commit log's groups, as a run killed
    half-way through its commits leaves it."""
    path = os.path.join(out_dir, "commit_log.jsonl")
    with open(path) as f:
        lines = [line for line in f if line.strip()]
    with open(path, "w") as f:
        f.writelines(lines[: len(lines) // 2])


def lineage_resume(spark, in_path: str, out_dir: str, n_shards: int, tracer) -> dict:
    """Resume a half-committed output, then rerun the fully committed one."""
    cut_log_to_half(out_dir)
    before = len(read_log(out_dir))
    w = CheckpointedWriter(out_dir, n_shards=n_shards)
    with tracer.span("lineage.resume"):
        pages = w.filter_uncommitted(spark.read.parquet(in_path))
        w.run(extract_pages(pages, n_shards=n_shards))
    resumed = read_log(out_dir)[before:]
    with tracer.span("lineage.rerun"):
        stats = CheckpointedWriter(out_dir, n_shards=n_shards).run(
            extract_pages(spark.read.parquet(in_path), n_shards=n_shards)
        )
    if stats["groups_written"]:
        raise RuntimeError(f"rerun of a committed output wrote {stats}")
    return {
        "lineage.resume_s": tracer.durations("lineage.resume")[-1],
        "lineage.resume_rows": sum(e["n_rows"] for e in resumed),
        "lineage.rerun_s": tracer.durations("lineage.rerun")[-1],
    }


# -- jobs.pipeline_job + ops -------------------------------------------------

PHASES = ("extract", "quality_filter", "lm_tail_drop", "pii_redact",
          "dedup_exact", "dedup_near_dup")


def pipeline_metrics(summary: dict, shuffle_bytes: float, stage_bytes_out: int) -> dict:
    out = {}
    for phase in PHASES:
        p = summary["phases"][phase]
        out[f"pipeline.{phase}_s"] = p["wall_s"]
        out[f"pipeline.{phase}.docs"] = p["docs"]
    out["pipeline.shuffle_write_mb"] = shuffle_bytes / 1e6
    out["pipeline.stage_bytes_out"] = stage_bytes_out
    return out
