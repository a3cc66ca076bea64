"""The engine reads no environment variables: tuning values are module
constants or operator parameters, so the Spark plan and the oracle SQL
baked at registration can never disagree about a dial."""

from __future__ import annotations

import ast
import os

_ENGINE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "importer_spark"
)


def _env_reads(tree: ast.AST) -> list[int]:
    """Line numbers of `os.environ` / `os.getenv` / `environ` / `getenv`
    uses, including the names bound by `from os import ...`."""
    hits = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute) and node.attr in ("environ", "getenv"):
            hits.append(node.lineno)
        elif isinstance(node, ast.ImportFrom) and node.module == "os":
            if any(a.name in ("environ", "getenv") for a in node.names):
                hits.append(node.lineno)
    return hits


def test_engine_reads_no_environment_variables():
    found = []
    for dirpath, dirnames, filenames in os.walk(_ENGINE):
        dirnames[:] = [d for d in dirnames if d != "__pycache__"]
        for fname in sorted(filenames):
            if not fname.endswith(".py"):
                continue
            path = os.path.join(dirpath, fname)
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read(), filename=path)
            rel = os.path.relpath(path, _ENGINE)
            found += [f"{rel}:{line}" for line in _env_reads(tree)]
    assert not found, f"environment reads under importer_spark/: {found}"
