"""Nothing in the package outlives its last program caller.

"The program" is ``__spark_entry__.py``, ``bench.py``, ``tools/*.py`` and
``perfbench/*.py`` plus everything they import.  A stdlib-``ast`` scan
walks it to a fixpoint:

* a module is reached when reached code imports it, at any nesting
  level (importing ``a.b.c`` also runs ``a`` and ``a.b``);
* a top-level ``def``, ``class`` or constant of a reached package module
  is reached when reached code names it, as a ``Name``, an
  ``Attribute`` or an import alias (a string constant is not a
  reference: a column name or an argparse ``prog=`` that spells a
  definition's name does not reach it);
* a method of a reached class is reached when reached code names it,
  the same way; a dunder method is reached with its class, since the
  language calls it;
* reached code is a whole root file, the module-level statements of a
  reached module, the bodies of reached top-level functions and
  constants, a reached class without its methods (bases, decorators,
  class-level statements) and the bodies of its reached methods, so a
  definition named only from inside an unreached one stays unreached.

Names match by identifier, not by module, which errs towards calling a
definition reached.  Anything unreached is deleted together with its
unit tests, unless ``ALLOWLIST`` keeps it for one of three reasons: it
is the Python restatement a remaining test uses as the expected value
of a reached definition (``ORACLE``), it is test harness
(``HARNESS``), or it is a method a framework calls by its name
(``CALLBACK``).

The root files' own top-level definitions (``__spark_entry__.py``,
``bench.py`` and ``tools/*.py``) are walked the same way: one is
reached when a root file's module-level statements or a reached root
definition names it, unless ``ROOT_ALLOWLIST`` keeps it as an entry
point that code outside the program calls (``CONTRACT``).

The same walk keeps options from outliving their last varied caller.
Every defaulted parameter of a function or method defined in a reached
package module, and called by name from reached code, gets one value
per program call site: the keyword argument, else the positional
argument at its index, else the default.  A value that is not a literal
counts as varied, and so does any parameter a ``*args``/``**kwargs``
argument could feed.  A parameter whose every value is the same literal
is one value with an option around it: the value becomes a constant in
the body and the branches it deselects are deleted, unless
``OPTION_ALLOWLIST`` keeps it as a deployment setting (``DEPLOYMENT``:
a path, glob or file name) or as test harness (``HARNESS``: a test can
reach the behaviour no other way).
"""

import ast
import copy
import operator
import re
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PACKAGE = "ferenda_spark"

ORACLE = "test oracle for "
HARNESS = "test harness: "
CALLBACK = "framework callback: "
DEPLOYMENT = "deployment setting: "

ALLOWLIST = {
    "functions.web.url_path": ORACLE + "url_path_col",
    "functions.web.url_host": ORACLE + "url_host_col",
    "functions.web.registered_domain": ORACLE + "registered_domain_col",
    "functions.web.url_template": ORACLE + "url_template_col",
    "functions.web.canonical_url": ORACLE + "canonical_url_col",
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
    "functions.tablefns.ChunkWords.eval":
        CALLBACK + "spark.udtf calls a registered UDTF's eval",
}


OPTION_ALLOWLIST: dict[str, str] = {}

CONTRACT = "entry point: "

ROOT_ALLOWLIST = {
    "__spark_entry__.py::oracle_sql":
        CONTRACT + "the gate oracles, beside queries()",
}


def _roots(repo):
    return ([repo / "__spark_entry__.py", repo / "bench.py"]
            + sorted((repo / "tools").glob("*.py"))
            + sorted((repo / "perfbench").glob("*.py")))


def _root_checked(repo):
    return ([repo / "__spark_entry__.py", repo / "bench.py"]
            + sorted((repo / "tools").glob("*.py")))


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


_FUNCTIONS = (ast.FunctionDef, ast.AsyncFunctionDef)


def _split_classes(stmts):
    """A unit's statements with each class stripped of its methods,
    and {``Class.method``: its defs}."""
    shells, methods = [], {}
    for stmt in stmts:
        if isinstance(stmt, ast.ClassDef):
            shell = copy.copy(stmt)
            shell.body = [s for s in stmt.body
                          if not isinstance(s, _FUNCTIONS)] or [ast.Pass()]
            for s in stmt.body:
                if isinstance(s, _FUNCTIONS):
                    methods.setdefault(f"{stmt.name}.{s.name}", []).append(s)
            stmt = shell
        shells.append(stmt)
    return shells, methods


def _reach(repo, package, roots, keep):
    """Walk the program to its fixpoint: (parsed package modules as
    {name: (rest refs, {unit: refs}, units, rest)}, reached modules,
    reached (module, unit) pairs, the parsed root files).  Units are
    top-level definitions, each class without its methods, and the
    methods as ``Class.method``."""
    repo = Path(repo)
    modules = {}
    for path in sorted((repo / package).rglob("*.py")):
        name = _module_name(path, repo)
        is_package = path.name == "__init__.py"
        units, rest = _units(ast.parse(path.read_text(), str(path)))
        split = {}
        for u, stmts in list(units.items()):
            units[u], methods = _split_classes(stmts)
            split.update(methods)
        units.update(split)
        modules[name] = (
            _refs(rest, name, is_package),
            {u: _refs(stmts, name, is_package) for u, stmts in units.items()},
            units, rest)

    names, imported = set(), set()

    def take(refs):
        names.update(refs.names)
        for m in refs.modules:
            parts = m.split(".")
            imported.update(".".join(parts[:i])
                            for i in range(1, len(parts) + 1))

    root_trees = [ast.parse(Path(path).read_text(), str(path))
                  for path in (_roots(repo) if roots is None else roots)]
    for tree in root_trees:
        take(_refs([tree], "__main__", False))

    prefix = len(package) + 1
    reached_mods, reached_units = set(), set()
    changed = True
    while changed:
        changed = False
        for m, (rest, units, _, _) in modules.items():
            if m not in reached_mods and m in imported:
                reached_mods.add(m)
                take(rest)
                changed = True
            if m not in reached_mods:
                continue
            for u, refs in units.items():
                if (m, u) in reached_units:
                    continue
                cls, _, name = u.rpartition(".")
                if cls and (m, cls) not in reached_units:
                    continue
                dunder = cls and name.startswith("__") and name.endswith("__")
                if dunder or name in names or f"{m[prefix:]}.{u}" in keep:
                    reached_units.add((m, u))
                    take(refs)
                    changed = True
    return modules, reached_mods, reached_units, root_trees


def unreached(repo, package=PACKAGE, roots=None, keep=()):
    """(unreached modules, unreached top-level definitions and
    unreached methods of reached classes), each as names dotted below
    ``package``, for the program rooted at ``roots`` (default: the
    entry point, ``bench.py``, ``tools/`` and ``perfbench/``).
    Definitions in ``keep`` count as reached, and so does what they
    use."""
    modules, reached_mods, reached_units, _ = _reach(repo, package, roots,
                                                     keep)
    prefix = len(package) + 1
    dead_mods = {m[prefix:] for m in modules
                 if m not in reached_mods and m != package}
    dead_defs = set()
    for m in reached_mods:
        for u in modules[m][1]:
            cls = u.rpartition(".")[0]
            # an unreached class is reported once, not per method
            if (m, u) not in reached_units and (
                    not cls or (m, cls) in reached_units):
                dead_defs.add(f"{m[prefix:]}.{u}" if m != package else u)
    return dead_mods, dead_defs


def unreached_root_defs(repo, roots=None, checked=None, keep=()):
    """Top-level definitions of the ``checked`` root files (default:
    the entry point, ``bench.py`` and ``tools/``) that no reached code
    names, as ``<path>::<name>``.  Reached code is every root file's
    module-level statements (all of a root file that is not checked)
    and the bodies of reached root definitions; definitions in ``keep``
    count as reached."""
    repo = Path(repo)
    roots = _roots(repo) if roots is None else roots
    checked = set(_root_checked(repo) if checked is None else checked)
    names, units = set(), {}
    for path in roots:
        tree = ast.parse(Path(path).read_text(), str(path))
        if path not in checked:
            names |= _refs([tree], "__main__", False).names
            continue
        path_units, rest = _units(tree)
        names |= _refs(rest, "__main__", False).names
        where = Path(path).relative_to(repo).as_posix()
        for u, stmts in path_units.items():
            units[f"{where}::{u}"] = (u, _refs(stmts, "__main__",
                                               False).names)
    reached = set()
    changed = True
    while changed:
        changed = False
        for qual, (u, refs) in units.items():
            if qual not in reached and (u in names or qual in keep):
                reached.add(qual)
                names |= refs
                changed = True
    return set(units) - reached


_ARITHMETIC = {
    ast.Add: operator.add, ast.Sub: operator.sub, ast.Mult: operator.mul,
    ast.Div: operator.truediv, ast.FloorDiv: operator.floordiv,
    ast.Mod: operator.mod, ast.Pow: operator.pow,
    ast.USub: operator.neg, ast.UAdd: operator.pos,
}


def _fold(node):
    """The value of a literal, or of arithmetic over literals."""
    op = _ARITHMETIC.get(type(getattr(node, "op", None)))
    if op is None:
        return ast.literal_eval(node)
    if isinstance(node, ast.UnaryOp):
        return op(_fold(node.operand))
    left, right = _fold(node.left), _fold(node.right)
    if op is operator.pow and abs(right) > 64:
        raise ValueError("exponent too large to fold")
    return op(left, right)


def _literal(node):
    """A hashable stand-in for a literal expression, arithmetic over
    literals folded (``1 / 3``, ``30 * 86400``), or None."""
    try:
        value = _fold(node)
    except (ValueError, TypeError, SyntaxError, MemoryError,
            RecursionError, ArithmeticError):
        return None
    return type(value).__name__, repr(value)


def _defaulted(fn, is_method):
    """(name, positional index or None, default) for every defaulted
    parameter of ``fn``; the index counts from the first argument a
    call site writes (past ``self`` for a method)."""
    a = fn.args
    pos = a.posonlyargs + a.args
    first = len(pos) - len(a.defaults)
    out = [(arg.arg, i - is_method, d)
           for i, (arg, d) in enumerate(zip(pos[first:], a.defaults), first)]
    out += [(arg.arg, None, d)
            for arg, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
    return out


def _site_value(call, name, index, default):
    """The value a call site gives one parameter, or None if varied."""
    for k in call.keywords:
        if k.arg == name:
            return _literal(k.value)
    star = next((i for i, x in enumerate(call.args)
                 if isinstance(x, ast.Starred)), None)
    if index is not None and star is not None and index >= star:
        return None
    if index is not None and 0 <= index < len(call.args):
        return _literal(call.args[index])
    if any(k.arg is None for k in call.keywords):
        return None
    return _literal(default)


def _calls(tree):
    """(called name, call) for every call in ``tree``.  A class's
    ``__init__`` is keyed under the class name, so a
    ``super().__init__(...)`` call counts as a call of each base class."""
    supers = {}
    # ast.walk visits an outer class before the classes nested in it,
    # so a call inside a nested class ends up keyed to the inner bases
    for cls in ast.walk(tree):
        if isinstance(cls, ast.ClassDef):
            bases = [b.id if isinstance(b, ast.Name) else b.attr
                     for b in cls.bases
                     if isinstance(b, (ast.Name, ast.Attribute))]
            for node in ast.walk(cls):
                if (isinstance(node, ast.Call)
                        and isinstance(node.func, ast.Attribute)
                        and node.func.attr == "__init__"
                        and isinstance(node.func.value, ast.Call)
                        and isinstance(node.func.value.func, ast.Name)
                        and node.func.value.func.id == "super"):
                    supers[node] = bases
    for call in ast.walk(tree):
        if not isinstance(call, ast.Call):
            continue
        if call in supers:
            for base in supers[call]:
                yield base, call
            continue
        f = call.func
        yield (f.id if isinstance(f, ast.Name)
               else f.attr if isinstance(f, ast.Attribute) else None), call


def one_value_options(repo, package=PACKAGE, roots=None):
    """{parameter dotted below ``package``: its one literal value} for
    every defaulted parameter of a reached package function or method
    that every program call site gives the same literal."""
    modules, reached_mods, reached_units, root_trees = _reach(
        repo, package, roots, ())
    prefix = len(package) + 1
    defs = {}        # called name -> [(qualified name, params)]

    def collect(node, qual, in_class):
        for ch in ast.iter_child_nodes(node):
            if isinstance(ch, ast.ClassDef):
                collect(ch, f"{qual}.{ch.name}", True)
            elif isinstance(ch, (ast.FunctionDef, ast.AsyncFunctionDef)):
                static = any(isinstance(d, ast.Name)
                             and d.id == "staticmethod"
                             for d in ch.decorator_list)
                params = _defaulted(ch, in_class and not static)
                fq = f"{qual}.{ch.name}"
                called = (qual.rsplit(".", 1)[-1]
                          if in_class and ch.name == "__init__" else ch.name)
                defs.setdefault(called, []).append((fq, params))
                collect(ch, fq, False)
            else:
                collect(ch, qual, in_class)

    program = list(root_trees)
    for m in sorted(reached_mods):
        _, _, units, rest = modules[m]
        body = []
        for u, stmts in units.items():
            if (m, u) not in reached_units or "." in u:
                continue
            for stmt in stmts:
                if isinstance(stmt, ast.ClassDef):
                    # the class with its reached methods put back
                    stmt = copy.copy(stmt)
                    stmt.body = stmt.body + [
                        d for meth, defs in units.items()
                        if meth.startswith(f"{u}.")
                        and (m, meth) in reached_units for d in defs]
                body.append(stmt)
        tree = ast.Module(body=body + rest, type_ignores=[])
        program.append(tree)
        collect(tree, m[prefix:] if m != package else "", False)

    values = {}
    for tree in program:
        for name, call in _calls(tree):
            for fq, params in defs.get(name, ()):
                for pname, index, default in params:
                    values.setdefault(f"{fq}.{pname}".lstrip("."), set()) \
                        .add(_site_value(call, pname, index, default))
    return {q: next(iter(v))[1] for q, v in values.items()
            if len(v) == 1 and None not in v}


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
        assert reason.startswith((ORACLE, HARNESS, CALLBACK)), (qual, reason)
        if reason.startswith(CALLBACK):
            # only a method is called by a framework through its name
            module, cls, _ = qual.rsplit(".", 2)
            src = (REPO / PACKAGE / (module.replace(".", "/") + ".py"))
            assert re.search(rf"^class {cls}\b", src.read_text(), re.M), \
                (qual, cls)
            continue
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


def test_scanner_reports_exactly_the_unreached_methods(tmp_path):
    pkg = tmp_path / "pkg"
    pkg.mkdir()
    (pkg / "__init__.py").write_text("")
    (pkg / "lib.py").write_text(
        "class Store:\n"
        "    LIMIT = 3\n\n"
        "    def __init__(self):\n        self.n = self.LIMIT\n\n"
        "    def used(self):\n        return self._step()\n\n"
        "    def _step(self):\n        return 1\n\n"
        "    def unused(self):\n        return self._only_unused()\n\n"
        "    def _only_unused(self):\n        return 2\n\n"
        "    def callback(self):\n        return 3\n\n"
        "class Dead:\n"
        "    def used(self):\n        return 4\n")
    root = tmp_path / "main.py"
    root.write_text("from pkg.lib import Store\nprint(Store().used())\n")
    # a dead class is reported once; its methods are not listed
    assert unreached(tmp_path, "pkg", [root]) == (set(), {
        "lib.Store.unused", "lib.Store._only_unused", "lib.Store.callback",
        "lib.Dead"})
    # a kept method is reached, and so is what it calls
    assert unreached(tmp_path, "pkg", [root],
                     keep={"lib.Store.unused"})[1] == {
        "lib.Store.callback", "lib.Dead"}


def test_scanner_does_not_count_a_string_as_a_reference(tmp_path):
    pkg = tmp_path / "pkg"
    pkg.mkdir()
    (pkg / "__init__.py").write_text("")
    (pkg / "lib.py").write_text(
        "def score():\n    return 1\n\n"
        "def ranked(df):\n    return df.orderBy('score')\n\n"
        "def export():\n    return 2\n")
    root = tmp_path / "main.py"
    # a column name and an argparse prog= spell two definitions' names
    root.write_text(
        "import argparse\nfrom pkg.lib import ranked\n\n"
        "def report():\n    return 3\n\n"
        "argparse.ArgumentParser(prog='export', description='report')\n"
        "ranked(None)\n")
    assert unreached(tmp_path, "pkg", [root]) == (
        set(), {"lib.score", "lib.export"})
    assert unreached_root_defs(tmp_path, [root], [root]) == {
        "main.py::report"}


def test_root_files_reach_their_definitions():
    extra = sorted(unreached_root_defs(REPO, keep=ROOT_ALLOWLIST)
                   - set(ROOT_ALLOWLIST))
    assert not extra, f"root-file definitions nothing reaches: {extra}"


def test_root_allowlist_entries_are_unreached_and_justified():
    stale = sorted(set(ROOT_ALLOWLIST) - unreached_root_defs(REPO))
    assert not stale, f"allowlisted but reached (drop the entry): {stale}"
    for qual, reason in ROOT_ALLOWLIST.items():
        assert reason.startswith(CONTRACT), (qual, reason)


def test_scanner_reports_exactly_the_unreached_root_defs(tmp_path):
    (tmp_path / "tools").mkdir()
    main = tmp_path / "main.py"
    main.write_text(
        "LIMIT = 3\n\n"
        "def used():\n    return LIMIT\n\n"
        "def unused():\n    return helper()\n\n"
        "def helper():\n    return 1\n\n"
        "def shared():\n    return 2\n\n"
        "print(used())\n")
    cli = tmp_path / "tools" / "cli.py"
    cli.write_text(
        "from main import shared\n\n"
        "def run():\n    return shared()\n\n"
        "def stale():\n    return run()\n\n"
        "if __name__ == '__main__':\n    run()\n")
    # a root that is not checked still reaches what it names
    other = tmp_path / "other.py"
    other.write_text("from main import helper\n")
    roots = [main, cli, other]
    assert unreached_root_defs(tmp_path, roots, [main, cli]) == {
        "main.py::unused", "tools/cli.py::stale"}
    assert unreached_root_defs(tmp_path, [main, cli], [main, cli]) == {
        "main.py::unused", "main.py::helper", "tools/cli.py::stale"}


def test_no_option_takes_one_value():
    flagged = one_value_options(REPO)
    extra = {q: v for q, v in flagged.items() if q not in OPTION_ALLOWLIST}
    assert not extra, (
        "parameters every program call site gives one literal (make each "
        f"a constant and delete the branches it deselects): {extra}")


def test_option_allowlist_entries_are_one_value_and_justified():
    flagged = one_value_options(REPO)
    stale = sorted(set(OPTION_ALLOWLIST) - set(flagged))
    assert not stale, f"allowlisted but varied (drop the entry): {stale}"
    for qual, reason in OPTION_ALLOWLIST.items():
        assert reason.startswith((DEPLOYMENT, HARNESS)), (qual, reason)


def test_scanner_reports_exactly_the_one_value_options(tmp_path):
    pkg = tmp_path / "pkg"
    pkg.mkdir()
    (pkg / "__init__.py").write_text("")
    (pkg / "lib.py").write_text(
        "def op(df, varied=1, never=2, same=3):\n    return df\n\n"
        "def fed(df, opt=4):\n    return df\n\n"
        "def ratio(df, share=1 / 3, cap=30 * 86400, neg=-2):\n"
        "    return df\n\n"
        "class A:\n    def __init__(self, x=1):\n        self.x = x\n\n"
        "class B(A):\n    def __init__(self):\n"
        "        super().__init__(x=5)\n")
    root = tmp_path / "main.py"
    # A.__init__.x takes 3 here and 5 through B's super().__init__
    root.write_text(
        "import sys\nfrom pkg.lib import A, B, fed, op\n"
        "op(0, varied=len(sys.argv), same=7)\n"
        "op(0, 5, same=7)\n"
        "kw = {'opt': 9}\n"
        "fed(0, **kw)\n"
        "A(x=3)\nB()\n"
        # arithmetic over literals folds: cap varies, neg does not
        "ratio(0, neg=-(1 + 1))\nratio(0, cap=2 ** 3)\n")
    assert one_value_options(tmp_path, "pkg", [root]) == {
        "lib.op.never": "2", "lib.op.same": "7",
        "lib.ratio.share": repr(1 / 3), "lib.ratio.neg": "-2"}
