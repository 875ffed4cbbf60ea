"""The distributed extraction job.

Pipeline (north-rule shape):

    pages(url, warc_ts, html, text, lang)
      -> byte-bounded scan splits (maxPartitionBytes; no pre-shuffle —
         url-hash sharding is the computed ``bucket`` column, applied
         physically at the commit boundary)
         [optional oversize split: length(html) > threshold -> own branch]
      -> mapInArrow(extract_batch)    # Arrow batches, no per-row Python
      -> union(oversize branch)
      -> results(url, mime, mime_confidence, extracted_text, spans,
                 meta, error, n_events, bytes_in, partition_id, bucket)
      -> metrics = groupBy(partition_id) aggregation
      -> checkpointed idempotent write sharded by bucket (lineage.py)

The same transformation runs on streaming DataFrames
(``streaming.extract_stream``), so both modes share one batch body
and one result schema.

Skew handling: a host-level salt key helper for host-grouped
operations (extraction itself shards by url hash, which is uniform;
hosts are only skewed when you group by them).

Scale notes (100 TB posture):
- only ``html`` + ``url`` are read by the extraction scan (column
  pruning: select before mapInArrow so parquet never materializes
  unused columns)
- oversized rows: spread by the byte-bounded scan splits by default;
  the opt-in oversize branch isolates extreme rows on their own full
  shard fanout when the size distribution demands it (see
  extract_pages docstring for the measured cost rationale)
- mapInArrow streams batches; per-batch Python cost is amortized over
  the Arrow transfer (no per-row pickling)
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType, BinaryType, IntegerType, LongType, StringType, StructField,
    StructType,
)

from docwire_spark.spark.lineage import url_bucket

OVERSIZE_BYTES = 262_144  # 256 KiB: rows above this get the low-fanout branch
DEFAULT_SHARDS = 128

#: exporter name (an ``ExtractResult`` field) -> result column
#: (reference html_writer / meta_data_writer / csv_writer renders,
#: SURVEY.md §2.5)
EXPORT_COLUMNS = {
    "html": "extracted_html",
    "meta_text": "meta_text",
    "csv": "table_csv",
}


def _result_schema(
    with_binary: bool, with_main_content: bool, exports: tuple = ()
) -> StructType:
    """The one result schema; the optional columns sit right after
    ``extracted_text``.  The batch body takes its Arrow types from it."""
    span = StructType([
        StructField("start", LongType()),
        StructField("end", LongType()),
        StructField("kind", StringType()),
    ])
    return StructType(
        [StructField(name, StringType()) for name in (
            "url", "mime", "mime_confidence", "extracted_text",
            *(["main_content"] if with_main_content else []),
            *(EXPORT_COLUMNS[name] for name in exports),
        )]
        + ([StructField("extracted_bytes", BinaryType())]
           if with_binary else [])
        + [
            StructField("spans", ArrayType(span)),
            StructField("meta_json", StringType()),
            StructField("error", StringType()),
            StructField("n_events", IntegerType()),
            StructField("bytes_in", LongType()),
            StructField("partition_id", IntegerType()),
            StructField("bucket", IntegerType()),
        ]
    )


def _make_extract_batches(
    schema: StructType,
    with_binary: bool,
    with_main_content: bool,
    exports: tuple,
    counters: dict | None,
):
    """mapInArrow body factory: runs the pure-Python kernel per Arrow
    RecordBatch.  Arrow in/out directly (round 3: measured ~8% faster
    than the former mapInPandas path — the kernel needs Python bytes
    either way, but the pandas Series wrappers and the
    DataFrame->Arrow conversion of the wide result are pure
    overhead).  ``extracted_bytes`` is only materialized when
    requested — emitting it unconditionally doubles the Arrow transfer
    per row and the JVM-side conversion cost, which at high task
    concurrency starves the python workers (measured 4x end-to-end
    slowdown on the oversized-row branch).

    Imports live inside so the function ships cleanly to executors via
    --py-files.
    """

    def _extract_batches(iterator):
        import pyarrow as pa
        from pyspark import TaskContext
        from pyspark.sql.pandas.types import to_arrow_schema

        from docwire_spark.kernel.api import extract

        arrow = to_arrow_schema(schema)
        tc = TaskContext.get()
        pid = tc.partitionId() if tc is not None else -1

        for batch in iterator:
            urls = batch.column("url").to_pylist()
            htmls = batch.column("html").to_pylist()
            n = len(urls)
            out = {name: [] for name in arrow.names}
            for url, html in zip(urls, htmls):
                data = html if html is not None else b""
                res = extract(
                    data, url=url or "",
                    want_main_content=with_main_content,
                    exports=exports,
                )
                out["mime"].append(res.mime)
                out["mime_confidence"].append(res.mime_confidence)
                out["extracted_text"].append(
                    res.text.decode("utf-8", "replace")
                )
                if with_main_content:
                    out["main_content"].append(res.main_content)
                for name in exports:
                    rendered = getattr(res, name)
                    out[EXPORT_COLUMNS[name]].append(
                        rendered.decode("utf-8", "replace")
                        if rendered is not None else None
                    )
                if with_binary:
                    out["extracted_bytes"].append(res.text)
                out["spans"].append(
                    [
                        {"start": s, "end": e, "kind": k}
                        for s, e, k in res.spans
                    ]
                )
                out["meta_json"].append(
                    json.dumps(res.meta, default=str, sort_keys=True)
                    if res.meta
                    else None
                )
                out["error"].append(res.error)
                out["n_events"].append(res.n_events)
                out["bytes_in"].append(len(data))
            if counters is not None:  # one update per Arrow batch
                counters["docs"].add(n)
                counters["bytes"].add(sum(out["bytes_in"]))
                counters["failed"].add(
                    sum(1 for e in out["error"] if e is not None)
                )
            out["partition_id"] = [pid] * n
            # url and bucket (computed JVM-side on the narrow input)
            # pass through as the original Arrow arrays
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(f.name).cast(f.type)
                    if f.name in ("url", "bucket")
                    else pa.array(out[f.name], f.type)
                    for f in arrow
                ],
                schema=arrow,
            )

    return _extract_batches


def extract_pages(
    pages: DataFrame,
    n_shards: int = DEFAULT_SHARDS,
    oversize_bytes: int | None = None,
    with_binary: bool = False,
    with_main_content: bool = False,
    exports: tuple = (),
    counters: dict | None = None,
) -> DataFrame:
    """Run the extraction pipeline over a batch or streaming DataFrame
    of pages; returns the results DataFrame.

    ``bucket`` is the url-hash shard (``lineage.url_bucket``, stable
    across runs and cluster sizes) the checkpointed writer and the
    streaming sink commit by.

    url-hash sharding is LOGICAL: the bucket is a computed column and
    the commit boundary (CheckpointedWriter) shards on it — no
    physical pre-shuffle.  The parquet/Iceberg scan already yields
    byte-bounded splits (maxPartitionBytes), which balances per-task
    extraction cost BETTER than row-count-balanced hash shards, and it
    never moves the raw html bytes across the cluster (measured: the
    1.9 GB shuffle of a 600k-doc corpus cost more wall time than the
    entire 16-core extraction; at 100 TB the pre-shuffle would be the
    single largest I/O in the job).

    Oversized-row handling: scan splits spread the rare giant rows by
    byte budget already.  Pass ``oversize_bytes`` to additionally
    route rows above the threshold through their own branch (a second
    scan + filter) when the size distribution is so extreme that one
    row dominates an Arrow batch.

    ``with_binary`` adds ``extracted_bytes``, the kernel's raw output
    bytes, for byte-level comparison against reference goldens.
    """
    src = pages.select("url", "html", url_bucket(n_shards).alias("bucket"))
    schema = _result_schema(with_binary, with_main_content, exports)
    batch_fn = _make_extract_batches(
        schema, with_binary, with_main_content, exports, counters
    )
    if oversize_bytes is None:
        return src.mapInArrow(batch_fn, schema)
    # coalesce: NULL html must not evaporate from both branches (NULL
    # predicate is neither true nor false) — it belongs in the normal
    # branch (error/empty-text path of the kernel)
    is_oversized = (
        F.coalesce(F.length(F.col("html")), F.lit(0))
        > F.lit(oversize_bytes)
    )
    # oversized rows are individually 50-100x more expensive to parse:
    # spread the FEW of them over the full shard budget so no task
    # accumulates a fat tail (this branch is tiny, so its repartition
    # moves almost no bytes)
    oversized = src.filter(is_oversized).repartition(
        n_shards, F.xxhash64(F.col("url"))
    )
    return src.filter(~is_oversized).mapInArrow(batch_fn, schema).unionByName(
        oversized.mapInArrow(batch_fn, schema)
    )


def salted_host_key(df: DataFrame, host_col: str = "host",
                    skew_threshold: int = 10_000, salt_buckets: int = 16,
                    url_col: str = "url") -> DataFrame:
    """Add a deterministic ``salted_host`` key for host-grouped work.

    Hosts with more than ``skew_threshold`` rows get ``salt_buckets``
    sub-keys (salt = xxhash64(url) % k, no randomness -> reproducible).
    The skew map is tiny (only hot hosts) and broadcast.
    """
    counts = (
        df.groupBy(host_col)
        .count()
        .filter(F.col("count") > skew_threshold)
        .select(host_col, F.lit(salt_buckets).alias("k_host"))
    )
    out = df.join(F.broadcast(counts), on=host_col, how="left")
    salt = F.when(
        F.col("k_host").isNotNull(),
        F.pmod(F.xxhash64(F.col(url_col)), F.col("k_host")),
    ).otherwise(F.lit(0))
    return out.withColumn(
        "salted_host", F.concat_ws("#", F.col(host_col), salt.cast("string"))
    ).drop("k_host")


def with_host(df: DataFrame, url_col: str = "url") -> DataFrame:
    return df.withColumn("host", F.parse_url(F.col(url_col), F.lit("HOST")))


def metrics_by_partition(extracted: DataFrame) -> DataFrame:
    """Per-partition lineage/metrics rows (reference analog:
    message_counters, here aggregated JVM-side by Catalyst)."""
    return (
        extracted.groupBy("partition_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("error").isNull(), 1).otherwise(0)).alias("n_ok"),
            F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias(
                "n_failed"
            ),
            F.sum("bytes_in").alias("bytes_in"),
            F.sum("n_events").alias("n_events"),
        )
        .orderBy("partition_id")
    )
