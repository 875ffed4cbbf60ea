"""Outcome checker: reads committed output back and compares every url
with the bytes the generator expects.

Runs outside every timer.  A row is wrong when its url is missing,
repeated or unknown, when its text differs by a single byte from the
expected text, or when an expected error is absent (or an unexpected
one present).  A commit log that does not cover every group exactly
once, or whose row counts disagree with the files, makes the whole
output untrustworthy: every row then counts as wrong.
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field

import pyarrow.parquet as pq


@dataclass
class Outcome:
    rows: int
    wrong: list = field(default_factory=list)  # urls
    problems: list = field(default_factory=list)  # whole-output faults

    @property
    def n_wrong(self) -> int:
        return self.rows if self.problems else min(self.rows, len(self.wrong))


def read_log(out_dir: str) -> list:
    with open(os.path.join(out_dir, "commit_log.jsonl")) as f:
        return [json.loads(line) for line in f if line.strip()]


def read_groups(out_dir: str, columns: list) -> dict:
    """group number -> list of row dicts, read from the committed files."""
    groups = {}
    for gdir in glob.glob(os.path.join(out_dir, "group=*")):
        g = int(gdir.rsplit("=", 1)[1])
        rows = []
        for path in sorted(glob.glob(os.path.join(gdir, "*.parquet"))):
            rows.extend(pq.read_table(path, columns=columns).to_pylist())
        groups[g] = rows
    return groups


def check_log(log: list, groups: dict, n_groups: int) -> list:
    problems = []
    seen = [e["group"] for e in log if "group" in e]
    if sorted(seen) != list(range(n_groups)):
        problems.append(f"commit log groups {sorted(seen)} != 0..{n_groups - 1}")
    for e in log:
        if "group" in e and e["n_rows"] != len(groups.get(e["group"], ())):
            problems.append(
                f"group {e['group']}: log n_rows {e['n_rows']} != "
                f"{len(groups.get(e['group'], ()))} rows in files"
            )
    return problems


def check_rows(rows, expected: dict, text_col: str = "extracted_text") -> list:
    """Urls whose outcome differs from ``expected`` (url -> bytes, or
    None for an expected error); missing and repeated urls included."""
    wrong, seen = [], set()
    for r in rows:
        url = r["url"]
        if url in seen or url not in expected:
            wrong.append(url)
            continue
        seen.add(url)
        want = expected[url]
        if want is None:
            ok = r.get("error") is not None
        else:
            text = r.get(text_col)
            ok = (r.get("error") is None and text is not None
                  and text.encode("utf-8") == want)
        if not ok:
            wrong.append(url)
    wrong.extend(u for u in expected if u not in seen)
    return wrong


def check_committed(groups: dict, log: list, expected: dict, n_groups: int,
                    text_col: str = "extracted_text") -> Outcome:
    rows = [r for g in sorted(groups) for r in groups[g]]
    return Outcome(
        rows=len(expected),
        wrong=check_rows(rows, expected, text_col),
        problems=check_log(log, groups, n_groups),
    )


def check_extract_output(out_dir: str, expected: dict, n_groups: int) -> Outcome:
    """Check an ``extract_pages`` -> ``CheckpointedWriter.run`` output dir."""
    groups = read_groups(out_dir, ["url", "extracted_text", "error"])
    return check_committed(groups, read_log(out_dir), expected, n_groups)


def check_pipeline_output(out_dir: str, expected: dict, summary: dict,
                          n_groups: int) -> Outcome:
    """Check a ``run_pipeline`` output dir: stage-1 text byte-for-byte
    (rows whose extraction must fail are dropped there), phase counts
    non-increasing, the final commit log complete and no two final
    rows sharing a text."""
    stage1 = pq.read_table(
        os.path.join(out_dir, "stage1_extracted", "documents.parquet"),
        columns=["url", "text"],
    ).to_pylist()
    texts_expected = {u: t for u, t in expected.items() if t is not None}
    out = Outcome(rows=len(expected),
                  wrong=check_rows(stage1, texts_expected, "text"))
    counts = [p["docs"] for p in summary["phases"].values()]
    if counts != sorted(counts, reverse=True):
        out.problems.append(f"phase counts increase: {counts}")
    final_dir = os.path.join(out_dir, "final")
    groups = read_groups(final_dir, ["url", "text"])
    out.problems += check_log(read_log(final_dir), groups, n_groups)
    final = [r for g in sorted(groups) for r in groups[g]]
    if len(final) != counts[-1]:
        out.problems.append(f"final rows {len(final)} != last phase {counts[-1]}")
    texts = set()
    for r in final:
        if r["text"] in texts or r["url"] not in texts_expected:
            out.wrong.append(r["url"])
        texts.add(r["text"])
    return out


def self_test(groups: dict, log: list, expected: dict, n_groups: int,
              text_col: str = "extracted_text") -> list:
    """Prove the checker catches one corrupted row and one dropped
    commit-log line on a copy of a real output; returns failures."""
    failures = []
    g = next(g for g in sorted(groups) if groups[g])
    row = groups[g][0]
    bad = dict(row)
    bad[text_col] = (row.get(text_col) or "") + "x"
    bad["error"] = None
    corrupted = dict(groups)
    corrupted[g] = [bad] + groups[g][1:]
    if row["url"] not in check_committed(corrupted, log, expected, n_groups,
                                         text_col).wrong:
        failures.append("a corrupted row was not caught")
    dropped = [e for e in log if e.get("group") != g]
    if not check_committed(groups, dropped, expected, n_groups, text_col).problems:
        failures.append("a dropped commit-log line was not caught")
    return failures
