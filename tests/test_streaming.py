"""Structured Streaming extraction: availableNow drain over a file
source must produce byte-identical results to the batch path, and the
stream checkpoint must make re-runs incremental (only new files)."""

import json
import os

from pyspark.sql import functions as F

from docwire_spark.spark.corpus import build_pages_df
from docwire_spark.spark.extract import extract_pages
from docwire_spark.spark.lineage import CheckpointedWriter
from docwire_spark.streaming import start_extract_stream


def _write_batch(spark, tmp, name, n, seed):
    df = build_pages_df(spark, n, n_hosts=8, seed=seed)
    df.select("url", "warc_ts", "html", "text", "lang").write.mode(
        "overwrite"
    ).parquet(os.path.join(tmp, "src", name))


def test_stream_matches_batch_and_resumes(spark, tmp_path):
    tmp = str(tmp_path)
    src_root = os.path.join(tmp, "src")
    os.makedirs(src_root)
    _write_batch(spark, tmp, "drop1", 120, seed=1)

    sink = os.path.join(tmp, "out")
    chk = os.path.join(tmp, "chk")
    q = start_extract_stream(
        spark, os.path.join(src_root, "*"), sink, chk, n_shards=8, groups=4
    )
    q.awaitTermination()

    out = spark.read.parquet(sink)
    assert out.count() == 120
    assert out.filter(F.col("error").isNotNull()).count() == 0
    # byte-identity vs the synthetic corpus expectation
    pages = build_pages_df(spark, 120, n_hosts=8, seed=1)
    joined = out.join(pages.select("url", "expected_text"), "url")
    bad = joined.filter(
        F.encode(F.col("extracted_text"), "UTF-8") != F.col("expected_text")
    ).count()
    assert bad == 0
    # commit-group partitioning matches the batch writer layout
    groups = {r.commit_group for r in out.select("commit_group").distinct().collect()}
    assert groups <= set(range(4))

    # second drop: checkpoint resumes, only new files processed
    _write_batch(spark, tmp, "drop2", 60, seed=2)
    q2 = start_extract_stream(
        spark, os.path.join(src_root, "*"), sink, chk, n_shards=8, groups=4
    )
    q2.awaitTermination()
    assert spark.read.parquet(sink).count() == 180


def test_stream_and_batch_assign_the_same_commit_groups(spark, tmp_path):
    """One bucket decision: for the same pages, the streaming sink's
    ``commit_group`` per url equals the group the batch
    ``extract_pages`` -> ``CheckpointedWriter`` path commits it in,
    every row's bucket is listed in its group's commit-log entry, and
    ``filter_uncommitted`` drops exactly the urls of committed
    groups."""
    tmp = str(tmp_path)
    _write_batch(spark, tmp, "drop1", 80, seed=3)
    src = os.path.join(tmp, "src", "*")
    sink = os.path.join(tmp, "stream_out")
    start_extract_stream(
        spark, src, sink, os.path.join(tmp, "chk"), n_shards=8, groups=4
    ).awaitTermination()
    streamed = {
        r.url: r.commit_group
        for r in spark.read.parquet(sink).select("url", "commit_group")
        .collect()
    }

    pages = spark.read.parquet(src)
    w = CheckpointedWriter(os.path.join(tmp, "batch_out"), n_shards=8,
                           groups=4)
    w.run(extract_pages(pages, n_shards=8))
    with open(w.log_path) as f:
        entries = {e["group"]: e for e in map(json.loads, f)}
    committed = {}
    for g in range(4):
        rows = spark.read.parquet(
            os.path.join(w.out_dir, f"group={g}")
        ).select("url", "bucket").collect()
        assert {r.bucket for r in rows} <= set(entries[g]["buckets"])
        committed.update((r.url, g) for r in rows)
    assert len(committed) == 80
    assert streamed == committed
    assert len(set(committed.values())) > 1

    # keep only groups 0 and 2 in the log: the resume filter must then
    # return exactly the urls of groups 1 and 3
    with open(w.log_path, "w") as f:
        f.writelines(
            json.dumps(entries[g], sort_keys=True) + "\n" for g in (0, 2)
        )
    remaining = {r.url for r in w.filter_uncommitted(pages).collect()}
    assert remaining == {u for u, g in committed.items() if g in (1, 3)}
