"""Committed HTML golden corpus: ``tests/fixtures/html/<case>.html``
replayed through ``extract`` with full-byte equality against
``<case>.html.out`` (the reference harness shape,
document_parsing_tests.cpp:125-147).

Every ``.out`` is derived by hand from the reference rules
(html_parser.cpp: tree fix-up, whitespace state machine, head/title/
script suppression, link/list/meta handling; plain_text_writer.cpp:
paragraph/list/link/table rendering), never by running the kernel.  A
``<case>.html.meta_json`` file adds the ``meta_json`` column value the
Spark job writes for that row.
"""

import glob
import json
import os

import pytest

from docwire_spark.kernel.api import extract

FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures", "html")
CASES = sorted(
    os.path.basename(p)[: -len(".html")]
    for p in glob.glob(os.path.join(FIXTURES, "*.html"))
)


def _read(name: str) -> bytes:
    with open(os.path.join(FIXTURES, name), "rb") as f:
        return f.read()


def test_corpus_is_present():
    assert len(CASES) >= 10


@pytest.mark.parametrize("case", CASES)
def test_html_fixture(case):
    res = extract(_read(case + ".html"), url=case + ".html")
    assert res.error is None
    assert res.mime == "text/html"
    assert res.text == _read(case + ".html.out")
    meta_path = os.path.join(FIXTURES, case + ".html.meta_json")
    if os.path.exists(meta_path):
        # the same serialisation spark/extract.py writes to meta_json
        got = json.dumps(res.meta, default=str, sort_keys=True)
        assert got == _read(case + ".html.meta_json").decode()
