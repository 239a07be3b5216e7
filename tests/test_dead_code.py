"""Every top-level function and class in ``pithos_spark/`` is named
somewhere besides its own definition: in another module, a test, a
script or the benchmark (a whole-word match, so a name the benchmark
wraps by string counts as used).  A definition nothing names is dead
code; git keeps its history."""

import ast
import re
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def _sources() -> dict[Path, str]:
    return {
        p: p.read_text(encoding="utf-8")
        for p in ROOT.rglob("*.py")
        if not any(
            part.startswith(".") for part in p.relative_to(ROOT).parts
        )
    }


def test_no_unreferenced_top_level_definitions():
    sources = _sources()
    text = "\n".join(sources.values())
    words = Counter(re.findall(r"\w+", text))
    defs = Counter(re.findall(r"\b(?:def|class)\s+(\w+)", text))
    package = ROOT / "pithos_spark"
    unreferenced = sorted(
        f"{path.relative_to(ROOT)}:{node.name}"
        for path, src in sources.items()
        if package in path.parents
        for node in ast.parse(src).body
        if isinstance(
            node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
        )
        and words[node.name] <= defs[node.name]
    )
    assert unreferenced == []
