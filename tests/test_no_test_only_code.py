"""Every top-level def, switch and constant in the package has a non-test user.

A static AST pass, no Spark. The roots are every name used in a non-test
``.py`` file outside the package (scripts, the driver contract, the bench)
and in the package's own module-level statements, imports and the names
they assign excepted. A def is reached when its name appears in a root or
in the body of a reached def, so a use inside a def that nothing reaches
does not count. The bodies of the allowlisted defs are roots too: what a
kept def uses stays. Names match by identifier (bare or attribute), not by
module. Module-level ``UPPER_CASE`` constants must be reached the same way.

A switch is a parameter of a package function or method whose default is
``None``, ``True`` or ``False``. Some non-test call site must pass it, by
keyword or by position; a call matches a def by name, and a class call
matches its ``__init__``. Passing along a parameter of an enclosing def
counts only when that parameter is itself passed, a conditional expression
passes what its branches pass, and a literal equal to the switch's own
default passes nothing.
"""

from __future__ import annotations

import ast
import re
import textwrap
from functools import cache
from itertools import takewhile
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "pmcanalysis_spark"
CONSTANT = re.compile(r"_?[A-Z][A-Z0-9_]*")

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

# Switches kept on purpose although no non-test caller passes them.
ALLOWED_SWITCHES = {
    # the /snippets endpoint needs a docs table; the server runs without one
    ("server", "KGServer.__init__", "docs"),
    # a public split API: callers choose the weights, the default is 90/5/5
    ("operators/textstats", "dataset_split", "weights"),
    # the md5-collision guard and the hash seam of exact dedup
    ("operators/dedup", "exact_dedup", "confirm_full_text"),
    ("operators/dedup", "exact_dedup", "hash_expr"),
    # test seams: partition counts that small tests pin
    ("operators/textstats", "_two_phase_offsets", "partitions"),
    ("operators/textstats", "pack_sequences", "partitions"),
    ("operators/textstats", "shuffle_order", "partitions"),
    ("operators/textstats", "shard_manifest", "partitions"),
    # a cap that bounds the pair explode of very long sentences
    ("operators/sentence_grain", "sentence_pair_counts", "max_pairs_per_sentence"),
    # the reference reads the OWL file from disk; the scripts pass its text
    ("sources/obo", "hierarchy_from_owl", "path"),
}

# Module-level constants kept on purpose although only tests use them.
ALLOWED_CONSTANTS = {
    # test and reference helpers that live in the package
    ("schemas", "AUTHOR_RECORDS"),
    ("fixtures", "RATES_EXPECTED_AUC"),
    ("sources/tsv", "GAF_HEADER"),
}


def _is_test(path: Path) -> bool:
    rel = path.relative_to(ROOT)
    return rel.parts[0] == "tests" or path.name.startswith("test_") or path.name == "conftest.py"


@cache
def _sources() -> tuple[tuple[str | None, ast.Module], ...]:
    """(package module or None, tree) of every non-test ``.py`` file."""
    out = []
    for path in sorted(ROOT.rglob("*.py")):
        rel = path.relative_to(ROOT)
        if any(p.startswith(".") for p in rel.parts) or _is_test(path):
            continue
        module = str(path.relative_to(PKG).with_suffix("")) if PKG in path.parents else None
        out.append((module, ast.parse(path.read_text(), str(path))))
    return tuple(out)


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


def _constants(stmt: ast.stmt) -> list[str]:
    targets = stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]
    return [t.id for t in targets if isinstance(t, ast.Name) and CONSTANT.fullmatch(t.id)]


@cache
def _unreached() -> tuple[list[tuple[str, str]], list[tuple[str, str]]]:
    """(unreached defs, unreached constants), each as (module, name)."""
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    constants: list[tuple[str, str]] = []
    roots: set[str] = set()
    for module, tree in _sources():
        if module is None:
            roots |= _names(tree)
            continue
        for stmt in tree.body:
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs.setdefault(stmt.name, []).append((module, stmt))
            elif isinstance(stmt, (ast.Assign, ast.AnnAssign)):
                constants += [(module, name) for name in _constants(stmt)]
                roots |= _names(stmt.value) if stmt.value else set()
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
    unreached_defs = sorted((module, name) for name, found in defs.items() for module, _node in found)
    return unreached_defs, sorted(c for c in constants if c[1] not in reached)


def _switches(fn: ast.FunctionDef | ast.AsyncFunctionDef) -> dict[str, bool | None]:
    """The parameters of ``fn`` whose default is None, True or False, with
    that default."""
    a = fn.args
    pos = a.posonlyargs + a.args
    pairs = [*zip(pos[len(pos) - len(a.defaults):], a.defaults), *zip(a.kwonlyargs, a.kw_defaults)]
    return {
        arg.arg: d.value for arg, d in pairs
        if isinstance(d, ast.Constant) and (d.value is None or isinstance(d.value, bool))
    }


def _package_functions(sources):
    """(module, qualname, call name, positional params a call fills, node)."""
    for module, tree in sources:
        if module is None:
            continue
        for stmt in tree.body:
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef)):
                yield module, stmt.name, stmt.name, [a.arg for a in stmt.args.posonlyargs + stmt.args.args], stmt
            elif isinstance(stmt, ast.ClassDef):
                for fn in stmt.body:
                    if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                        continue
                    static = any(isinstance(d, ast.Name) and d.id == "staticmethod" for d in fn.decorator_list)
                    params = [a.arg for a in fn.args.posonlyargs + fn.args.args][0 if static else 1:]
                    call = stmt.name if fn.name == "__init__" else fn.name
                    yield module, f"{stmt.name}.{fn.name}", call, params, fn


@cache
def _unset_switches(sources: tuple[tuple[str | None, ast.Module], ...]) -> list[tuple[str, str, str]]:
    """The switches of ``sources`` ((package module or None, tree) pairs,
    as ``_sources`` gives) that no call passes."""
    by_call: dict[str, list[tuple[str, str, list[str]]]] = {}
    key_of: dict[ast.AST, tuple[str, str]] = {}
    defaults: dict[tuple[str, str, str], bool | None] = {}
    for module, qual, call, params, fn in _package_functions(sources):
        by_call.setdefault(call, []).append((module, qual, params))
        key_of[fn] = (module, qual)
        defaults |= {(module, qual, p): d for p, d in _switches(fn).items()}
    switches = set(defaults)

    # switch -> the ways a call sets it, each the set of switches that must
    # all be set for that call to pass a value (empty: set outright)
    setters: dict[tuple[str, str, str], set[frozenset]] = {}

    def visit(node: ast.AST, enclosing: tuple) -> None:
        for child in ast.iter_child_nodes(node):
            inner = enclosing
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
                inner = (*enclosing, child)
            elif isinstance(child, ast.Call):
                f = child.func
                name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                for module, qual, params in by_call.get(name, ()):
                    given = [(k.arg, k.value) for k in child.keywords if k.arg]
                    given += zip(params, takewhile(lambda a: not isinstance(a, ast.Starred), child.args))
                    for param, value in given:
                        key = (module, qual, param)
                        setters.setdefault(key, set()).update(_passed_from(value, enclosing, key))
            visit(child, inner)

    def _enclosing_switch(name: str, enclosing: tuple):
        """The switch that ``name`` reads when it is a parameter of the
        nearest enclosing def having it, else None."""
        for fn in reversed(enclosing):
            a = fn.args
            if name in {x.arg for x in a.posonlyargs + a.args + a.kwonlyargs}:
                key = (*key_of.get(fn, ("", "")), name)
                return key if key in switches else None
        return None

    def _passed_from(value: ast.expr, enclosing: tuple, key: tuple) -> set[frozenset]:
        """The ways passing ``value`` sets ``key``. A literal equal to
        ``key``'s own default sets nothing, an enclosing switch passed along
        sets it when that switch is set, and a conditional sets it through
        its branches; a branch that runs only when the test's switch is set
        also needs that switch."""
        if isinstance(value, ast.IfExp):
            body = _passed_from(value.body, enclosing, key)
            orelse = _passed_from(value.orelse, enclosing, key)
            test, negated = value.test, False
            if isinstance(test, ast.UnaryOp) and isinstance(test.op, ast.Not):
                test, negated = test.operand, True
            flag = _enclosing_switch(test.id, enclosing) if isinstance(test, ast.Name) else None
            if flag:
                if bool(defaults[flag]) == negated:  # unset, the test is false
                    body = {ways | {flag} for ways in body}
                else:
                    orelse = {ways | {flag} for ways in orelse}
            return body | orelse
        if isinstance(value, ast.Constant) and key in defaults and value.value is defaults[key]:
            return set()
        passed = _enclosing_switch(value.id, enclosing) if isinstance(value, ast.Name) else None
        return {frozenset({passed} if passed else ())}

    for _module, tree in sources:
        visit(tree, ())
    is_set: set = set()
    grew = True
    while grew:
        grew = False
        for key, ways in setters.items():
            if key not in is_set and any(w <= is_set for w in ways):
                is_set.add(key)
                grew = True
    return sorted(
        (module, qual, p) for module, qual, p in switches - is_set
        if (module, qual.split(".")[0]) not in ALLOWED
    )


def test_every_package_def_has_a_non_test_caller():
    unreached = [d for d in _unreached()[0] if d not in ALLOWED]
    assert not unreached, (
        "package defs reached only from tests (give each a non-test caller "
        f"or delete it with its tests): {unreached}"
    )


def test_allowlist_names_only_unreached_defs():
    stale = ALLOWED - set(_unreached()[0])
    assert not stale, f"allowlisted defs that now have a caller or are gone: {sorted(stale)}"


def test_every_switch_is_set_by_a_non_test_caller():
    unset = [s for s in _unset_switches(_sources()) if s not in ALLOWED_SWITCHES]
    assert not unset, (
        "None/True/False-default parameters that no non-test caller passes "
        f"(keep the branch callers run and delete the parameter): {unset}"
    )


def test_switch_passed_as_its_default_or_through_an_unset_switch_stays_unset():
    """A conditional passes only what its branches pass, and a literal equal
    to the parameter's own default passes nothing."""

    module = textwrap.dedent("""
        def f(x=None, y=False):
            return x, y

        def g(a, flag=False):
            return f(x=a if flag else None)
    """)

    def unset(*calls: str) -> list[tuple[str, str, str]]:
        return _unset_switches((("m", ast.parse("\n".join([module, *calls]))),))

    assert ("m", "f", "x") in unset()
    assert ("m", "f", "x") in unset("f(x=None, y=False)")
    assert ("m", "f", "y") in unset("f(1, False)")
    # the same shapes set the switch once the branch or the value does
    assert ("m", "f", "x") not in unset("g(1, flag=True)")
    assert ("m", "f", "x") not in unset("f(x=0)")
    assert ("m", "f", "y") not in unset("f(y=True)")


def test_switch_allowlist_names_only_unset_switches():
    stale = ALLOWED_SWITCHES - set(_unset_switches(_sources()))
    assert not stale, f"allowlisted switches that now have a caller or are gone: {sorted(stale)}"


def test_every_package_constant_is_used_outside_tests():
    unused = [c for c in _unreached()[1] if c not in ALLOWED_CONSTANTS]
    assert not unused, f"module-level constants that only tests use (delete them): {unused}"


def test_constant_allowlist_names_only_unused_constants():
    stale = ALLOWED_CONSTANTS - set(_unreached()[1])
    assert not stale, f"allowlisted constants that now have a user or are gone: {sorted(stale)}"
