"""Production surface guard: every top-level name in puddin_spark/ is reached
from a production entry point, or is on ALLOWED with a reason.

Production code is puddin_spark/, __spark_entry__.py, bench*.py, perfbench/
and tools/; tests do not count. The scan is an AST walk, no import: a name
is live when a module-level statement outside a definition (the CLI, the
query registry, `__spark_entry__`, the benchmarks) refers to it, or when a
live definition does. Names match by identifier, not by module, so a name
defined in two modules is live when either is. The same walk fails on an
unused import in puddin_spark/, and on an ALLOWED entry that no longer
exists or has gained a production caller, so the list cannot go stale.
"""
from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "puddin_spark"

# name -> why it stays without a production caller
ALLOWED = {
    # test seams
    "swap_annotator": "test seam: swaps the dependency annotator",
    "swap_langid_model": "test seam: swaps the langid model",
    "swap_embedding_model": "test seam: swaps the sidecar embedding model",
    "executed_plan": "test seam: plan-shape assertions read executed plans",
    # reference implementations that tests compare against
    "simhash64": "per-document reference for the SQL simhash",
    "srp_band_table": "reference band table for the numpy band keys",
    "incremental_srp_band_pairs": "reference pairs for committed_srp_flip_ids",
    "scrub": "reference full scrub chain for the byte-identity tests",
    # puddin parity
    "add_raw_ids": "puddin raw doc ids",
    "add_slice_ids": "puddin slice ids",
    "pile_set_code": "puddin Pile subset codes",
    "validate_conllu_output": "puddin conllu well-formedness check",
    "reconcile_conllu_output": "puddin conllu completeness check",
    # library gates
    "apply_toxicity_gate": "toxicity gate for run_resumable_pipeline(gates=)",
    # input seams
    "load_psl": "loads a real public-suffix list in place of the bundled one",
    # constants
    "TABLES": "table names of the sf datasets the query gates read",
    "EXCL_TYPES": "puddin's canonical exclusion-label order",
    "MISSING_SPACE": "spec pattern the fast scrub guard is checked against",
    "__version__": "package version",
    # test-only code whose tests must keep passing; they go together
    # (ROADMAP item 6)
    "train_bpe_from_corpus": "tests in test_bpe.py",
    "train_bpe_collected": "tests in test_bpe.py",
    "merges_table": "test_bpe.py::test_merges_table_roundtrip",
    "bpe_encode_udf": "tests in test_bpe.py",
    "sessionize_stream": "test_streaming.py::test_sessionize_stream_*",
    "windowed_page_counts": "test_streaming.py::test_windowed_counts_plan",
    "write_bucketed": "test_plans.py::test_bucketed_join_needs_no_exchange",
}


def _production_files() -> list[Path]:
    files = sorted(PKG.rglob("*.py")) + sorted(ROOT.glob("bench*.py"))
    files.append(ROOT / "__spark_entry__.py")
    for d in ("perfbench", "tools"):
        files += sorted((ROOT / d).rglob("*.py"))
    return [p for p in files if p.exists()]


def _loads(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
            out.add(n.id)
        elif isinstance(n, ast.Attribute) and isinstance(n.ctx, ast.Load):
            out.add(n.attr)
    return out


def _defined(stmt: ast.stmt) -> list[str]:
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    if isinstance(stmt, ast.Assign):
        return [t.id for t in stmt.targets if isinstance(t, ast.Name)]
    if isinstance(stmt, ast.AnnAssign) and isinstance(stmt.target, ast.Name):
        return [stmt.target.id]
    return []


def _unused_imports(path: Path, tree: ast.Module) -> list[str]:
    used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    out = []
    for n in ast.walk(tree):
        if isinstance(n, ast.ImportFrom) and n.module == "__future__":
            continue
        if isinstance(n, (ast.Import, ast.ImportFrom)):
            for a in n.names:
                bound = a.asname or a.name.split(".")[0]
                if bound not in used:
                    out.append(f"{path.relative_to(ROOT)}:{n.lineno} {bound}")
    return out


def _closure(defs: dict[str, set[str]], seed: set[str]) -> set[str]:
    seen: set[str] = set()
    todo = [n for n in seed if n in defs]
    while todo:
        n = todo.pop()
        if n not in seen:
            seen.add(n)
            todo += [m for m in defs[n] if m in defs and m not in seen]
    return seen


def test_no_test_only_production_code():
    defs: dict[str, set[str]] = {}
    roots: set[str] = set()
    unused: list[str] = []
    for path in _production_files():
        tree = ast.parse(path.read_text(encoding="utf-8"))
        in_pkg = PKG in path.parents
        if in_pkg:
            unused += _unused_imports(path, tree)
        for stmt in tree.body:
            names = _defined(stmt) if in_pkg else []
            for name in names:
                defs.setdefault(name, set()).update(_loads(stmt) - {name})
            if not names:
                roots |= _loads(stmt)

    live = _closure(defs, roots)
    dead = sorted(set(defs) - _closure(defs, roots | set(ALLOWED)))
    stale = sorted(n for n in ALLOWED if n not in defs or n in live)
    assert not dead, f"no production caller and not in ALLOWED: {dead}"
    assert not stale, f"ALLOWED entries gone or now called: {stale}"
    assert not unused, f"unused imports: {unused}"
