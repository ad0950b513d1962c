"""COVERAGE.md matches the tree: every ``module.py:name`` reference in a
table's implementation column names a def (function or class, or
``Class.method``) in that ``kafi_spark`` module. Spark-free."""

import ast
import fnmatch
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "kafi_spark"

# `functions/text.py:fingerprint_*/rolling_hash(cols=...)`: module, then
# "/"-separated names, each optionally with a call-shape suffix
REF = re.compile(r"([\w/]+\.py):([\w.*]+(?:\([^)]*\))?(?:/[\w.*]+(?:\([^)]*\))?)*)")


def _implementation_refs():
    for line in (ROOT / "COVERAGE.md").read_text().splitlines():
        cells = line.split("|")
        if not line.startswith("|") or len(cells) < 4:
            continue
        for span in re.findall(r"`([^`]*)`", cells[2]):
            for m in REF.finditer(span):
                if m.group(1).startswith("kafi/"):
                    continue  # reference-implementation citation
                for name in m.group(2).split("/"):
                    name = name.split("(", 1)[0]
                    if not re.fullmatch(r"[\d-]+", name):  # line numbers
                        yield m.group(1), name


def _defs(path: Path) -> set[str]:
    """Every def/class name in the module, bare and dotted by its
    enclosing classes/functions."""
    out: set[str] = set()

    def walk(node, prefix):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef,
                                  ast.ClassDef)):
                out.update((child.name, prefix + child.name))
                walk(child, f"{prefix}{child.name}.")
            else:
                walk(child, prefix)

    walk(ast.parse(path.read_text()), "")
    return out


def test_coverage_implementation_refs_name_defs():
    modules = {p.relative_to(PKG).as_posix(): p for p in PKG.rglob("*.py")}
    refs = list(_implementation_refs())
    assert len(refs) > 150  # the parser still reads the tables
    missing = []
    for mod, name in refs:
        # package-relative path, or a bare file name unique in the package
        hits = [p for rel, p in modules.items()
                if rel == mod or rel.endswith("/" + mod)]
        if not hits and (ROOT / mod).exists():
            continue  # a repo-root script (bench.py, tools/…)
        if len(hits) != 1 or not fnmatch.filter(_defs(hits[0]), name):
            missing.append(f"{mod}:{name}")
    assert not missing, missing
