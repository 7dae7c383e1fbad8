"""Source guards.

Engine local frames go through session.local_frame: ``spark.createDataFrame``
over a Python list (literal or comprehension) builds a Python-RDD scan: an
RDD job on every evaluation, run by a second pool of Python workers. This
fails if one comes back in the operators or the API.

The driver-contract registry (entry_queries.py) defines no name that
nothing reads.

Every posting part is encoded by one writer (index_build.write_part):
each step of its chain has one call site under operators/."""

from __future__ import annotations

import ast
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


REPO = PKG.parent
ENTRY = PKG / "entry_queries.py"


def _defined_names(tree: ast.Module) -> dict[str, ast.stmt]:
    """Top-level names a module binds itself (imports aside)."""
    out = {}
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            out[node.name] = node
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                if isinstance(t, ast.Name):
                    out[t.id] = node
    return out


def _identifiers(tree: ast.AST) -> set[str]:
    """Every name a tree reads: bare names, attributes, imported names."""
    ids = set()
    for n in ast.walk(tree):
        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
            ids.add(n.id)
        elif isinstance(n, ast.Attribute):
            ids.add(n.attr)
        elif isinstance(n, ast.alias):
            ids.add(n.name)
    return ids


def test_entry_queries_defines_no_dead_names():
    """Every top-level name in entry_queries.py is read somewhere: in the
    module outside its own definition, or by the driver contract, bench.py,
    tools/ or tests/. A registry entry deleted without the constants and
    helpers only it used fails here."""
    tree = ast.parse(ENTRY.read_text())
    users = [REPO / "__spark_entry__.py", REPO / "bench.py",
             *sorted((REPO / "tools").rglob("*.py")),
             *sorted((REPO / "tests").rglob("*.py"))]
    outside = set().union(*(_identifiers(ast.parse(f.read_text()))
                            for f in users))
    reads = [(node, _identifiers(node)) for node in tree.body]
    dead = sorted(
        name for name, node in _defined_names(tree).items()
        if name not in outside
        and not any(name in ids for other, ids in reads if other is not node)
    )
    assert not dead, f"entry_queries.py names nothing reads: {dead}"


PART_CHAIN = ("prepare_salted", "encode_salted", "_attach_terms", "posexplode")


def _call_sites(src: str, name: str) -> int:
    return len(re.findall(rf"(?<!def )\b{name}\(", src))


def test_part_chain_has_one_call_site():
    """Every posting part is written by index_build.write_part and every
    staging row built by index_build.staging_rows: under operators/ each
    step of that chain has exactly one call site, so a hand-written copy
    of the chain cannot grow back."""
    src = "".join(f.read_text() for f in sorted((PKG / "operators").rglob("*.py")))
    counts = {name: _call_sites(src, name) for name in PART_CHAIN}
    assert counts == dict.fromkeys(PART_CHAIN, 1), counts


def test_call_site_pattern():
    assert _call_sites("def prepare_salted(\n", "prepare_salted") == 0
    assert _call_sites("x = F.posexplode('t')", "posexplode") == 1
    assert _call_sites("_encode_salted(x)", "encode_salted") == 0


SCHEMALESS_READ = re.compile(r"\bread\.parquet\(")
COL_ISIN = re.compile(r"\bF\.col\([^()]*\)\.isin\(")


def test_reads_are_declared_and_in_lists_are_one_expression():
    """Under operators/ and in api.py every table is read with its
    declared schema (schemas.read_table: a schema-less read.parquet runs
    a schema-inference job) and every IN list is parsed from one SQL
    string (query._sql_in: Column.isin makes one Py4J round trip per
    literal). pyarrow's field.isin is not a Spark Column and stays."""
    files = sorted((PKG / "operators").rglob("*.py")) + [PKG / "api.py"]
    hits = [
        f"{f.relative_to(PKG.parent)}:{s[:m.start()].count(chr(10)) + 1}"
        for f in files
        for s in [f.read_text()]
        for pat in (SCHEMALESS_READ, COL_ISIN)
        for m in pat.finditer(s)
    ]
    assert not hits, f"schema-less read or Column.isin: {hits}"


def test_read_and_isin_patterns():
    for src in ('spark.read.parquet(f"{d}/x")',
                'F.col("dkey").isin(keys)',
                'F.col("part_id").isin(live)'):
        assert SCHEMALESS_READ.search(src) or COL_ISIN.search(src), src
    for src in ("spark.read.schema(s).parquet(*paths)",
                "field.isin(values)", "np.isin(ids, deleted)",
                "df.write.parquet(p)"):
        assert not (SCHEMALESS_READ.search(src) or COL_ISIN.search(src)), src
