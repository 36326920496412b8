"""Every top-level def in the package is reached from a non-test file.

A static AST pass, no Spark. The roots are every name used in a non-test
``.py`` file outside the package (scripts, the driver contract, the bench)
and in the package's own module-level statements, imports excepted. A def
is reached when its name appears in a root or in the body of a reached def,
so a use inside a def that nothing reaches does not count. The bodies of
the allowlisted defs are roots too: what a kept def uses stays. Names match
by identifier (bare or attribute), not by module.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "pmcanalysis_spark"

# Kept on purpose although only tests call them.
ALLOWED = {
    # reference-format adapters: the reference's own input and output
    # formats (SURVEY S1/S7/S8/S10, F11-F13)
    ("canonicalize", "author_records_from_raw"),
    ("sources/tsv", "stitch_alias_scan"),
    ("sources/tsv", "phenotype_annotation_scan"),
    ("sources/tsv", "to_ntriples"),
    ("sources/tsv", "to_gaf"),
    ("sources/xml", "medline_articles"),
    ("sources/obo", "parse_owl_labels"),
    # ParseMedline3's sentence-grain scoring
    ("operators/sentence_grain", "npmi_scored_sentence_pairs"),
    # public reader of the lineage contract
    ("lineage", "read_lineage"),
    # consumes the run_pipeline --train-bpe artifact
    ("operators/bpe", "encode_bpe"),
    # the flagship's extract and NER stages as a mentions DataFrame
    ("pipeline", "build_mentions"),
    # test helpers that live in the package
    ("fixtures", "build_author_records"),
    ("fixtures", "build_rates"),
    ("fixtures", "fixture_obo_text"),
    ("oracle", "approx_equal"),
    ("codecs", "passthrough_decoder"),
    ("codecs", "fake_fast_decoder"),
}


def _is_test(path: Path) -> bool:
    rel = path.relative_to(ROOT)
    return rel.parts[0] == "tests" or path.name.startswith("test_") or path.name == "conftest.py"


def _names(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
    return out


def _unreached() -> list[tuple[str, str]]:
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    roots: set[str] = set()
    for path in sorted(ROOT.rglob("*.py")):
        rel = path.relative_to(ROOT)
        if any(p.startswith(".") for p in rel.parts) or _is_test(path):
            continue
        tree = ast.parse(path.read_text(), str(path))
        if PKG not in path.parents:
            roots |= _names(tree)
            continue
        module = str(path.relative_to(PKG).with_suffix(""))
        for stmt in tree.body:
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs.setdefault(stmt.name, []).append((module, stmt))
            elif not isinstance(stmt, (ast.Import, ast.ImportFrom)):
                roots |= _names(stmt)
    for name, found in defs.items():
        # what an allowlisted def uses is kept with it
        roots |= {n for module, node in found if (module, name) in ALLOWED for n in _names(node)}
    reached = set(roots)
    todo = list(roots)
    while todo:
        for _module, node in defs.pop(todo.pop(), []):
            new = _names(node) - reached
            reached |= new
            todo.extend(new)
    return sorted((module, name) for name, found in defs.items() for module, _node in found)


def test_every_package_def_has_a_non_test_caller():
    unreached = [d for d in _unreached() if d not in ALLOWED]
    assert not unreached, (
        "package defs reached only from tests (give each a non-test caller "
        f"or delete it with its tests): {unreached}"
    )


def test_allowlist_names_only_unreached_defs():
    stale = ALLOWED - set(_unreached())
    assert not stale, f"allowlisted defs that now have a caller or are gone: {sorted(stale)}"
