"""The serving workload's SPARQL query and its DuckDB oracle, and the
triple P/R check of the build workload.

The query is the repository's top-cited gate query
(``kg_sparql_topcited``): GROUP BY, ORDER BY and LIMIT over every
current ``dcterms:references`` edge. The oracle SQL restates it over the
same current edges in DuckDB.
"""

from __future__ import annotations

import duckdb

EDGE_COLS = ["subj", "pred", "obj", "obj_is_literal", "obj_datatype",
             "obj_lang"]

SPARQL = {
    "topcited": """
SELECT ?target (COUNT(?s) AS ?n) WHERE {
  ?s <http://purl.org/dc/terms/references> ?target .
}
GROUP BY ?target
ORDER BY DESC(?n) ?target
LIMIT 20
""",
}

# DuckDB over table ``e`` (the current edges).
ORACLE = {
    "topcited": """
SELECT obj AS target, count(*) AS n FROM e
WHERE pred = 'dcterms:references'
GROUP BY obj ORDER BY n DESC, target LIMIT 20
""",
}

# The query round: every shape once, in a fixed order.
MIX = [("topcited", {})]

ORDERED = {"topcited"}


def canonical(shape: str, rows) -> list:
    """Rows as comparable tuples, sorted unless the query orders."""
    tuples = [tuple(r) for r in rows]
    return tuples if shape in ORDERED else sorted(tuples)


def triple_pr(got_pdf, want_pdf) -> dict:
    """Triple precision and recall of ``got_pdf`` against ``want_pdf``
    as distinct (``EDGE_COLS``) sets, NULLs equal."""
    con = duckdb.connect()
    try:
        con.register("g", got_pdf[EDGE_COLS])
        con.register("w", want_pdf[EDGE_COLS])
        tp, fp, fn = (con.execute(f"SELECT count(*) FROM ({q})").fetchone()[0]
                      for q in ("SELECT * FROM g INTERSECT SELECT * FROM w",
                                "SELECT * FROM g EXCEPT SELECT * FROM w",
                                "SELECT * FROM w EXCEPT SELECT * FROM g"))
    finally:
        con.close()
    return {"tp": tp, "fp": fp, "fn": fn,
            "precision": tp / (tp + fp) if tp + fp else 1.0,
            "recall": tp / (tp + fn) if tp + fn else 1.0}


def oracle_answers(edges_pdf, mix) -> list:
    """DuckDB's answer for every query instance of ``mix``."""
    con = duckdb.connect()
    try:
        con.register("e", edges_pdf[EDGE_COLS])
        out = []
        for shape, params in mix:
            rows = con.execute(ORACLE[shape], params or None).fetchall()
            out.append(canonical(shape, rows))
        return out
    finally:
        con.close()
