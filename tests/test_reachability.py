"""Nothing in the package outlives its last program caller.

"The program" is ``__spark_entry__.py``, ``bench.py``, ``tools/*.py`` and
``perfbench/*.py`` plus everything they import.  A stdlib-``ast`` scan
walks it to a fixpoint:

* a module is reached when reached code imports it, at any nesting
  level (importing ``a.b.c`` also runs ``a`` and ``a.b``);
* a top-level ``def``, ``class`` or constant of a reached package module
  is reached when reached code names it, as a ``Name``, an
  ``Attribute``, an import alias or an identifier string constant;
* reached code is a whole root file, the module-level statements of a
  reached module, and the bodies of reached top-level definitions, so a
  definition named only from inside an unreached one stays unreached.

Names match by identifier, not by module, which errs towards calling a
definition reached.  Anything unreached is deleted together with its
unit tests, unless ``ALLOWLIST`` keeps it for one of two reasons: it is
the Python restatement a remaining test uses as the expected value of a
reached definition (``ORACLE``), or it is test harness (``HARNESS``).
"""

import ast
import re
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PACKAGE = "ferenda_spark"

ORACLE = "test oracle for "
HARNESS = "test harness: "

ALLOWLIST = {
    "functions.web.url_path": ORACLE + "url_path_col",
    "functions.web.url_host": ORACLE + "url_host_col",
    "functions.web.registered_domain": ORACLE + "registered_domain_col",
    "functions.web.url_template": ORACLE + "url_template_col",
    "functions.text.nfc": ORACLE + "nfc_col",
    "functions.text.strip_accents": ORACLE + "strip_accents_col",
    "functions.text.sanitize_term": ORACLE + "sanitize_term_col",
    "functions.tablefns.chunk_words_col": ORACLE + "ChunkWords",
    "operators.layout.py_zorder2": ORACLE + "zorder_key2",
    "operators.similarity.lsh_band_buckets": ORACLE + "band_bucket_udf",
    "operators.graph.precision_recall":
        HARNESS + "golden triple P/R in test_triples",
    "operators.graph.graph_diff":
        HARNESS + "the graph compare precision_recall counts, as frames",
    "operators.metadata.assert_required_predicates":
        HARNESS + "rdf:type-per-subject check in test_triples",
}


def _roots(repo):
    return ([repo / "__spark_entry__.py", repo / "bench.py"]
            + sorted((repo / "tools").glob("*.py"))
            + sorted((repo / "perfbench").glob("*.py")))


def _module_name(path, repo):
    parts = list(path.relative_to(repo).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


class _Refs(ast.NodeVisitor):
    """Identifiers and absolute module names one piece of code mentions."""

    def __init__(self, module, is_package):
        self.names, self.modules = set(), set()
        self._module, self._is_package = module, is_package

    def visit_Name(self, node):
        if isinstance(node.ctx, ast.Load):
            self.names.add(node.id)

    def visit_Attribute(self, node):
        self.names.add(node.attr)
        self.generic_visit(node)

    def visit_Constant(self, node):
        if isinstance(node.value, str) and node.value.isidentifier():
            self.names.add(node.value)

    def visit_Import(self, node):
        for alias in node.names:
            self.modules.add(alias.name)
            self.names.update(alias.name.split("."))

    def visit_ImportFrom(self, node):
        base = node.module or ""
        if node.level:
            pkg = self._module.split(".")
            if not self._is_package:
                pkg = pkg[:-1]
            pkg = pkg[:len(pkg) - (node.level - 1)]
            base = ".".join(pkg + ([base] if base else []))
        self.modules.add(base)
        for alias in node.names:
            self.names.add(alias.name)
            self.modules.add(f"{base}.{alias.name}")


def _refs(nodes, module, is_package):
    r = _Refs(module, is_package)
    for n in nodes:
        r.visit(n)
    return r


def _units(tree):
    """Split a module body into its top-level definitions and the rest."""
    units, rest = {}, []
    for stmt in tree.body:
        if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef)):
            units.setdefault(stmt.name, []).append(stmt)
            continue
        targets = []
        if isinstance(stmt, ast.Assign):
            for t in stmt.targets:
                elts = t.elts if isinstance(t, ast.Tuple) else [t]
                targets += [e.id for e in elts if isinstance(e, ast.Name)]
        elif isinstance(stmt, ast.AnnAssign) and stmt.value is not None:
            if isinstance(stmt.target, ast.Name):
                targets = [stmt.target.id]
        targets = [t for t in targets if not t.startswith("__")]
        if targets:
            for t in targets:
                units.setdefault(t, []).append(stmt)
        else:
            rest.append(stmt)
    return units, rest


def unreached(repo, package=PACKAGE, roots=None, keep=()):
    """(unreached modules, unreached top-level definitions), each as
    names dotted below ``package``, for the program rooted at ``roots``
    (default: the entry point, ``bench.py``, ``tools/`` and
    ``perfbench/``).  Definitions in ``keep`` count as reached, and so
    does what they use."""
    repo = Path(repo)
    prefix = len(package) + 1
    modules = {}
    for path in sorted((repo / package).rglob("*.py")):
        name = _module_name(path, repo)
        is_package = path.name == "__init__.py"
        units, rest = _units(ast.parse(path.read_text(), str(path)))
        modules[name] = (
            _refs(rest, name, is_package),
            {u: _refs(stmts, name, is_package) for u, stmts in units.items()})

    names, imported = set(), set()

    def take(refs):
        names.update(refs.names)
        for m in refs.modules:
            parts = m.split(".")
            imported.update(".".join(parts[:i])
                            for i in range(1, len(parts) + 1))

    for path in (_roots(repo) if roots is None else roots):
        take(_refs([ast.parse(Path(path).read_text(), str(path))],
                   "__main__", False))

    reached_mods, reached_units = set(), set()
    changed = True
    while changed:
        changed = False
        for m, (rest, units) in modules.items():
            if m not in reached_mods and m in imported:
                reached_mods.add(m)
                take(rest)
                changed = True
            if m not in reached_mods:
                continue
            for u, refs in units.items():
                kept = f"{m[prefix:]}.{u}" in keep
                if (m, u) not in reached_units and (kept or u in names):
                    reached_units.add((m, u))
                    take(refs)
                    changed = True

    dead_mods = {m[prefix:] for m in modules
                 if m not in reached_mods and m != package}
    dead_defs = {f"{m[prefix:]}.{u}" if m != package else u
                 for m in reached_mods for u in modules[m][1]
                 if (m, u) not in reached_units}
    return dead_mods, dead_defs


def test_program_reaches_every_module_and_definition():
    dead_mods, dead_defs = unreached(REPO, keep=ALLOWLIST)
    assert not dead_mods, f"modules no program imports: {sorted(dead_mods)}"
    extra = sorted(dead_defs - set(ALLOWLIST))
    assert not extra, f"definitions no program file reaches: {extra}"


def test_allowlist_entries_are_unreached_and_justified():
    _, dead_defs = unreached(REPO)
    stale = sorted(set(ALLOWLIST) - dead_defs)
    assert not stale, f"allowlisted but reached (drop the entry): {stale}"
    for qual, reason in ALLOWLIST.items():
        assert reason.startswith((ORACLE, HARNESS)), (qual, reason)
        if reason.startswith(ORACLE):
            module, _ = qual.rsplit(".", 1)
            checked = reason[len(ORACLE):]
            assert f"{module}.{checked}" not in dead_defs, (qual, checked)
            src = (REPO / PACKAGE / (module.replace(".", "/") + ".py"))
            assert re.search(rf"^(def|class) {checked}\b", src.read_text(),
                             re.M), (qual, checked)


def test_scanner_reports_exactly_the_unreached_definitions(tmp_path):
    pkg = tmp_path / "pkg"
    pkg.mkdir()
    (pkg / "__init__.py").write_text("")
    (pkg / "lib.py").write_text(
        "LIMIT = 3\n\n"
        "def used():\n    return LIMIT\n\n"
        "def unused():\n    return helper()\n\n"
        "def helper():\n    return 1\n")
    (pkg / "orphan.py").write_text("def lonely():\n    return 0\n")
    root = tmp_path / "main.py"
    root.write_text("from pkg.lib import used\nprint(used())\n")
    dead_mods, dead_defs = unreached(tmp_path, "pkg", [root])
    assert dead_mods == {"orphan"}
    assert dead_defs == {"lib.unused", "lib.helper"}
