"""G9: post-parse tree visitors over the flat structure-node table.

The Spark restatement of the reference's visitor surface:
``visitor_functions`` returns (callable, initial-state) pairs and
``visit_node`` walks the parsed document tree depth-first, calling
each function with (node, state); the function returns the state its
children should see, or None to prune the subtree
(/root/reference/ferenda/sources/legal/se/swedishlegalsource.py:
911-921 ``visitor_functions``, :1071-1095 ``visit_node``; concrete
visitors: ``construct_id`` sfs.py:1135, ``find_definitions``
sfs.py:1223).

Execution model: a visitor walk is sequential WITHIN a document and
embarrassingly parallel ACROSS documents — the same split as the
structure parser itself — so the walk runs per-document inside one
Arrow-batched ``applyInPandas`` stage keyed by document url.  At
100 TB the only shuffle is the groupBy on url (and none at all if
the node table is already written bucketed/partitioned by url, the
layout ``statute_structure`` output should be stored in).  Visitors
are arbitrary Python by design — this is the extension point where
the reference runs user code, so a Python stage is the honest cost;
anything expressible as Columns should NOT be a visitor.

Node dicts carry the structure-table fields plus an ``anno`` dict;
visitors communicate per-node results by writing string keys into
``node["anno"]`` (the analog of construct_id mutating node.uri) and
cross-node results through their state object.  The operator returns
the node table with one extra ``anno`` map<string,string> column.

Within a parent, children are visited in natural-ordinal order
(numeric ordinals numerically, letter ordinals alphabetically),
which is document order for the statute grammar (each nesting level
has a single child kind with monotone ordinals); roots are ordered
chapters-first then by ordinal.
"""

from __future__ import annotations

from typing import Callable, Iterable

import pandas as pd
from pyspark.sql import DataFrame

Visitor = tuple[Callable[[dict, object], object], object]

VISIT_SCHEMA = ("url string, node_id string, kind string, "
                "ordinal string, parent_id string, depth int, "
                "text string, anno map<string,string>")


def _child_order(node: dict):
    o = node["ordinal"] or ""
    return (0, int(o)) if o.isdigit() else (1, o)


def _root_order(node: dict):
    return (0 if node["kind"] == "chapter" else 1, _child_order(node))


def _walk(node: dict, children: dict, fn, state) -> None:
    newstate = fn(node, state)
    if newstate is None:
        return
    for child in sorted(children.get(node["node_id"], []),
                        key=_child_order):
        _walk(child, children, fn, newstate)


def visit_nodes(nodes: DataFrame, visitors: Iterable[Visitor]) -> DataFrame:
    """Run each (fn, initial_state) visitor depth-first over every
    document's node tree; return nodes + ``anno`` map column.

    ``fn(node, state)`` returns the state for the node's children or
    None to prune the subtree (the reference's visit_node contract).
    Initial states are copied per document via ``dict``/``list``/
    ``set`` shallow copy so a mutable accumulator never leaks across
    documents (fresh-state-per-basefile, parse_body :577)."""
    visitors = list(visitors)

    def _fresh(state):
        return state.copy() if isinstance(state, (dict, list, set)) \
            else state

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = pdf.to_dict("records")
        for r in rows:
            r["anno"] = {}
        children: dict[str, list[dict]] = {}
        roots = []
        by_id = {r["node_id"]: r for r in rows}
        for r in rows:
            pid = r["parent_id"]
            if pid is not None and pid in by_id:
                children.setdefault(pid, []).append(r)
            else:
                roots.append(r)
        for fn, init in visitors:
            # one fresh state per (visitor, document), shared across
            # the document's root forest: a mutable accumulator spans
            # the whole document (the reference walks ONE Body root;
            # our flat table is that body's child forest)
            state = _fresh(init)
            for root in sorted(roots, key=_root_order):
                _walk(root, children, fn, state)
        return pd.DataFrame(
            rows, columns=["url", "node_id", "kind", "ordinal",
                           "parent_id", "depth", "text", "anno"])

    return (nodes.groupBy("url")
            .applyInPandas(lambda _, pdf: run(pdf),
                           schema=VISIT_SCHEMA))


# -- stock visitors (the reference's concrete visitor_functions) -----------

def construct_uri_visitor() -> Visitor:
    """Assign each node its fragment URI (construct_id, sfs.py:1135:
    nodes get uri = base + '#' + hierarchical id; here node_id IS the
    hierarchical K/P/S/N id)."""
    def fn(node, state):
        node["anno"]["uri"] = f"{node['url']}#{node['node_id']}"
        return state
    # stateless visitor: thread True, NOT None — None means prune
    # (visit_node :1077-1078)
    return (fn, True)


def path_visitor() -> Visitor:
    """Annotate each node with its ancestor node_id chain — top-down
    state threading: state is the parent's path."""
    def fn(node, path):
        mine = f"{path}/{node['node_id']}" if path else node["node_id"]
        node["anno"]["path"] = mine
        return mine
    return (fn, "")


def chapter_context_visitor() -> Visitor:
    """Annotate each node with the ordinal of its enclosing chapter
    (None outside any chapter) — the state-object pattern of
    find_definitions (sfs.py:1223): the visited context, not the
    node itself, decides the annotation."""
    # '' = "outside any chapter": a None state would read as prune
    def fn(node, chap):
        if node["kind"] == "chapter":
            chap = node["ordinal"]
        if chap:
            node["anno"]["chapter"] = chap
        return chap
    return (fn, "")
