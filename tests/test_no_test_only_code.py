"""No production function is kept alive only by tests.

Every public top-level function in ``cpdd_spark/`` must be referenced by
code that runs outside ``tests/``: the package itself, the query entry
module, the benchmarks and the scripts. A reference from a function that is
itself dead does not count, so a helper that only dead code calls is
reported too. Reference models that tests compare production code against
are listed below with the production path each one checks.
"""

from __future__ import annotations

import ast
import glob
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# reference model -> the production path the tests check against it
REFERENCE_MODELS = {
    "exact_jaccard_sets": "exact set Jaccard: the MinHash/LSH + set-verify near tier",
    "cosine_dup_pairs": "brute-force cross join: similarity.cosine_dup_pairs_lsh",
}


def _names(node: ast.AST) -> set[str]:
    """Identifiers ``node`` uses; an import alone is not a use."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
    return out


def _production_files() -> list[str]:
    files = glob.glob(os.path.join(REPO, "cpdd_spark", "*.py"))
    files += glob.glob(os.path.join(REPO, "*.py"))
    files += glob.glob(os.path.join(REPO, "scripts", "*.py"))
    files += glob.glob(os.path.join(REPO, "perfbench", "**", "*.py"), recursive=True)
    return sorted(f for f in files if f"{os.sep}tests{os.sep}" not in f)


def _dead_public_functions() -> list[str]:
    package = os.path.join(REPO, "cpdd_spark")
    roots: set[str] = set()
    defs: dict[str, tuple[str, set[str]]] = {}  # qualified name -> (name, refs)
    for path in _production_files():
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read(), path)
        if os.path.dirname(path) != package:
            roots |= _names(tree)
            continue
        module = os.path.basename(path)[:-3]
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                defs[f"{module}.{node.name}"] = (node.name, _names(node))
            else:
                roots |= _names(node)
    stale = set(REFERENCE_MODELS) - {name for name, _ in defs.values()}
    assert not stale, f"REFERENCE_MODELS lists functions that no longer exist: {stale}"
    dead: set[str] = set()
    while True:
        live = roots.union(*(refs for q, (_, refs) in defs.items() if q not in dead))
        now = {
            q for q, (name, _) in defs.items()
            if name not in live and name not in REFERENCE_MODELS
        }
        if now == dead:
            break
        dead = now
    return sorted(q for q in dead if not q.split(".")[1].startswith("_"))


def test_no_public_function_lives_only_in_tests():
    dead = _dead_public_functions()
    assert not dead, (
        "public functions with no caller outside tests/ (delete them, or list "
        f"a reference model in REFERENCE_MODELS with its reason): {dead}"
    )
