"""Seeded benchmark inputs, built in this process with pyarrow (no Spark).

Every workload's input is a directory of ``FILES_PER_INPUT`` parquet
files with the north-rule scan columns ``(url string, html binary)``.
Beside it the generator keeps, per url, the outcome the extraction
must produce: the exact plain-text bytes, or ``None`` when the row is
a broken payload whose outcome is a non-null ``error``.  Expected
bytes come from the page templates, never from running the kernel.

- ``cc_html``: pages from ``spark.corpus.make_page`` (the page builder
  behind ``corpus.generate_rows``: zipf hosts, four charset variants,
  lists, tables, link/nav/script chrome).  Exactly ``OVERSIZE_SHARE``
  of the pages are oversized (>= 256 KiB), spread evenly over the
  files at seeded positions.  ``generate_rows`` draws oversize per
  page, so its count varies by seed; a fixed count keeps the size mix
  (and so the work per run) the same for every seed.
- ``mixed_formats``: one small document per row in each of the 15
  formats of ``ops.extraction_binary``'s ``GROUP_*`` families, made by
  its ``make_*`` writers.  ``TRUNCATED_SHARE`` of the rows, drawn from
  the formats whose half-length payload can never parse, are cut to
  half their length and must come back as errors.
- ``train_pipeline``: a smaller ``cc_html``-style corpus.

Nothing is ever filtered out: oversized and broken rows stay in.
"""

from __future__ import annotations

import bisect
import hashlib
import os
import random
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from docwire_spark.ops import extraction_binary as xb
from docwire_spark.spark.corpus import _WORDS, _zipf_hosts, make_page

FILES_PER_INPUT = 8
CC_HTML_DOCS = 3000
TRAIN_DOCS = 1000
MIXED_PER_FORMAT = 1000
OVERSIZE_SHARE = 0.01
TRUNCATED_SHARE = 0.02
N_HOSTS = 50

FAMILIES = {
    "ooxml": xb.GROUP_OOXML,
    "odf_iwork": xb.GROUP_ODF_IWORK,
    "ms_binary": xb.GROUP_MS_BINARY,
    "docstream": ("rtf", "eml"),
    "archive": ("zip", "rar"),
    "pdf": ("pdf",),
}
FORMATS = xb.GROUP_OOXML + xb.GROUP_ODF_IWORK + xb.GROUP_MS_BINARY + xb.GROUP_DOCSTREAM
FAMILY_OF = {fmt: fam for fam, fmts in FAMILIES.items() for fmt in fmts}

#: formats whose payload cut to half its length fails to parse (every
#: one of 100 documents each, cut at 10%, 25% and 50%); the others
#: recover a prefix by design (rtf, eml) or parse some cuts (xls, ppt,
#: rar), so a truncated row of theirs has no single right outcome
TRUNCATABLE = ("docx", "xlsx", "pptx", "odt", "fodt", "pages", "doc", "xlsb", "pdf", "zip")


@dataclass
class Inputs:
    workload: str
    path: str
    urls: list
    payloads: list
    kinds: list  # "html" or the binary format of each row
    expected: dict  # url -> expected text bytes, or None for an error
    summary: dict

    def pick(self, index=None) -> list:
        """(url, payload, kind) of the rows at ``index`` (all rows if None)."""
        if index is None:
            index = range(len(self.urls))
        return [(self.urls[i], self.payloads[i], self.kinds[i]) for i in index]


def _file_bounds(n: int):
    return [(f * n // FILES_PER_INPUT, (f + 1) * n // FILES_PER_INPUT)
            for f in range(FILES_PER_INPUT)]


def _html_rows(seed: int, n_docs: int):
    rng = random.Random(seed)
    hosts, cum = _zipf_hosts(N_HOSTS)
    n_over = round(n_docs * OVERSIZE_SHARE)
    oversized = set()
    for f, (lo, hi) in enumerate(_file_bounds(n_docs)):
        k = n_over // FILES_PER_INPUT + (f < n_over % FILES_PER_INPUT)
        oversized.update(rng.sample(range(lo, hi), k))
    rows = []
    for doc_id in range(n_docs):
        drng = random.Random(seed * 1_000_003 + doc_id)
        host = hosts[bisect.bisect_left(cum, drng.random())]
        url, _ts, html, _cc, _lang, expected = make_page(
            drng, doc_id, host, doc_id in oversized
        )
        rows.append((url, html, "html", expected))
    return rows


def _binary_payload(fmt: str, doc_id: int, text: str) -> bytes:
    if fmt == "eml":
        return xb.make_eml(doc_id, text)
    return getattr(xb, "make_" + fmt)(text)


def expected_binary_text(fmt: str, text: str) -> bytes:
    """Plain text the kernel must render: the ``_FMT_TAIL`` newlines
    after the text, or the xlsx 2-cell grid (A1 = text padded by the
    2-space gutter, B1 = '7' padded to the column width)."""
    if fmt == "xlsx":
        out = text.ljust(len(text) + 2) + "7".ljust(len(text)) + "\n\n"
    else:
        out = text + "\n" * xb._FMT_TAIL[fmt].count("chr(10)")
    return out.encode()


def _binary_rows(seed: int, per_format: int):
    rng = random.Random(seed)
    n = per_format * len(FORMATS)
    rows = []
    for i in range(n):
        fmt = FORMATS[i % len(FORMATS)]
        words = [rng.choice(_WORDS) for _ in range(rng.randint(10, 60))]
        if rng.random() < 0.3:
            words[rng.randrange(len(words))] += ","
        words.append(str(rng.randrange(1000)))
        text = " ".join(words) + "."
        url = f"{xb._URL_PREFIX}{i}.{fmt}"
        rows.append((url, _binary_payload(fmt, i, text), fmt,
                     expected_binary_text(fmt, text)))
    candidates = [i for i in range(n) if rows[i][2] in TRUNCATABLE]
    for i in rng.sample(candidates, round(n * TRUNCATED_SHARE)):
        url, payload, fmt, _ = rows[i]
        rows[i] = (url, payload[: len(payload) // 2], fmt, None)
    # round-robin over files so every file holds the same format mix
    return [rows[i] for f in range(FILES_PER_INPUT)
            for i in range(f, n, FILES_PER_INPUT)]


def percentile(vals, q: float):
    vals = sorted(vals)
    return vals[min(len(vals) - 1, int(q * len(vals)))]


def _write(rows, path: str) -> None:
    os.makedirs(path, exist_ok=True)
    for f, (lo, hi) in enumerate(_file_bounds(len(rows))):
        part = rows[lo:hi]
        pq.write_table(
            pa.table({
                "url": pa.array([r[0] for r in part], pa.string()),
                "html": pa.array([r[1] for r in part], pa.binary()),
            }),
            os.path.join(path, f"part-{f:03d}.parquet"),
        )


def _build_rows(workload: str, seed: int):
    if workload == "cc_html":
        return _html_rows(seed, CC_HTML_DOCS)
    if workload == "train_pipeline":
        return _html_rows(seed, TRAIN_DOCS)
    if workload == "mixed_formats":
        return _binary_rows(seed, MIXED_PER_FORMAT)
    raise ValueError(f"unknown workload {workload!r}")


def make_inputs(workload: str, seed: int, path: str | None = None) -> Inputs:
    """Build the workload's rows for ``seed``; write them as parquet
    under ``path`` when one is given."""
    rows = _build_rows(workload, seed)
    if path is not None:
        _write(rows, path)
    digest = hashlib.sha256()
    for url, payload, _kind, _exp in rows:
        digest.update(url.encode() + b"\0" + payload + b"\0")
    sizes = sorted(len(r[1]) for r in rows)
    mix: dict = {}
    for r in rows:
        mix[r[2]] = mix.get(r[2], 0) + 1
    summary = {
        "workload": workload,
        "seed": seed,
        "n_docs": len(rows),
        "bytes": sum(sizes),
        "size_p50": percentile(sizes, 0.50),
        "size_p99": percentile(sizes, 0.99),
        "size_max": sizes[-1],
        "n_oversized": sum(1 for s in sizes if s >= 262_144),
        "n_expected_errors": sum(1 for r in rows if r[3] is None),
        "format_mix": dict(sorted(mix.items())),
        "files": FILES_PER_INPUT,
        "sha256": digest.hexdigest(),
    }
    return Inputs(
        workload=workload,
        path=path,
        urls=[r[0] for r in rows],
        payloads=[r[1] for r in rows],
        kinds=[r[2] for r in rows],
        expected={r[0]: r[3] for r in rows},
        summary=summary,
    )


def sample_index(inputs: Inputs, seed: int, n: int) -> list:
    """Seeded sample of ``n`` row indexes, in input order."""
    rng = random.Random(seed ^ 0x5EED)
    return sorted(rng.sample(range(len(inputs.urls)), min(n, len(inputs.urls))))


def write_subset(inputs: Inputs, index: list, path: str) -> dict:
    """Write the rows at ``index`` as parquet; returns their expected map."""
    _write(inputs.pick(index), path)
    return {inputs.urls[i]: inputs.expected[inputs.urls[i]] for i in index}
