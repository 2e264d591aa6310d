"""Every public top-level function and class of the package has a
consumer outside its own definition and its own tests: engine code
whose only caller is its test is dead weight (ROADMAP aim 2).

Consumers are every .py outside tests/, plus the parity registry and
the oracle-gate script under tests/, plus README.md (a documented
entry point is a consumer). No Spark needed."""

from __future__ import annotations

import ast
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "canal_phoenix_adapter_spark")
EXTRA = ["tests/parity_registry.py", "tests/check_correctness.py", "README.md"]
ALLOWED: set[str] = set()  # names exempt from the rule; keep it empty


def _consumer_files() -> list[str]:
    out = [os.path.join(ROOT, p) for p in EXTRA]
    for d, subdirs, files in os.walk(ROOT):
        subdirs[:] = [s for s in subdirs
                      if not s.startswith(".") and s != "tests"]
        out += [os.path.join(d, f) for f in files if f.endswith(".py")]
    return out


def test_every_public_definition_has_a_non_test_consumer():
    texts = {}
    for p in _consumer_files():
        with open(p, encoding="utf-8") as f:
            texts[p] = f.read().split("\n")
    unused = []
    for p in sorted(t for t in texts if t.startswith(PKG + os.sep)):
        for node in ast.parse("\n".join(texts[p])).body:
            if (not isinstance(node, (ast.FunctionDef, ast.ClassDef))
                    or node.name.startswith("_")):
                continue
            word = re.compile(rf"\b{node.name}\b")
            span = range(node.lineno - 1, node.end_lineno)
            if not any(word.search(line)
                       for q, lines in texts.items()
                       for i, line in enumerate(lines)
                       if not (q == p and i in span)):
                unused.append(f"{os.path.relpath(p, ROOT)}:{node.name}")
    assert [u for u in unused if u.split(":")[1] not in ALLOWED] == [], unused
