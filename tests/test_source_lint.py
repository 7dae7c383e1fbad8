"""Source guard: engine local frames go through session.local_frame.

``spark.createDataFrame`` over a Python list (literal or comprehension)
builds a Python-RDD scan: an RDD job on every evaluation, run by a
second pool of Python workers. This fails if one comes back in the
operators or the API."""

from __future__ import annotations

import re
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "search_engine_spark"
LIST_FRAME = re.compile(r"createDataFrame\(\s*\[")


def test_no_list_created_frames():
    files = sorted((PKG / "operators").rglob("*.py")) + [PKG / "api.py"]
    hits = [
        f"{f.relative_to(PKG.parent)}:{s[:m.start()].count(chr(10)) + 1}"
        for f in files
        for s in [f.read_text()]
        for m in LIST_FRAME.finditer(s)
    ]
    assert not hits, f"createDataFrame over a Python list: {hits}"


def test_lint_pattern_catches_list_frames():
    for src in (
        'spark.createDataFrame([], schema="a long")',
        "spark.createDataFrame(\n    [(1,)], 'a long')",
        "spark.createDataFrame([(i,) for i in ids], 'a long')",
    ):
        assert LIST_FRAME.search(src), src
    assert not LIST_FRAME.search("spark.createDataFrame(pdf, schema=s)")
