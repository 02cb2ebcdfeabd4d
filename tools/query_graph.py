"""spark-submit SPARQL runner over a materialized GraphStore — the
serving-side analog of the reference's triplestore query path
(documentrepository.py construct_annotations hitting a Fuseki/Sesame
endpoint), here a batch job over the committed graph tables.

Usage:
    spark-submit --master local[N] --py-files ferenda_spark.zip \
        tools/query_graph.py <store_dir> <query.rq | -> \
        [--max-depth N] [--explain] [key=value ...]

Property-path closures iterate to fixpoint by default (real SPARQL
semantics); --max-depth N bounds them for known-shallow hierarchies.

Reads the store's commit-scoped current edge view, compiles the
query (operators/sparql.py subset; %(key)s params from the CLI), and
prints the result: CONSTRUCT as sorted N-Triples-style lines on
stdout (grep ^TRIPLE), SELECT as tab-separated rows (grep ^ROW).
"""

import sys

from pyspark.sql import SparkSession


def run(spark: SparkSession, argv: list[str]) -> None:
    from ferenda_spark.operators.graph import GraphStore
    from ferenda_spark.operators.sparql import parse_sparql, sparql_query

    store_dir, query_src = argv[0], argv[1]
    rest = argv[2:]
    max_depth = None
    if "--max-depth" in rest:
        i = rest.index("--max-depth")
        if i + 1 >= len(rest):
            raise ValueError("--max-depth needs a value")
        max_depth = int(rest[i + 1])
        rest = rest[:i] + rest[i + 2:]
    explain = "--explain" in rest
    if explain:
        rest.remove("--explain")
    params = dict(kv.split("=", 1) for kv in rest)
    text = (sys.stdin.read() if query_src == "-"
            else open(query_src, encoding="utf-8").read())

    store = GraphStore(spark, store_dir)
    edges = store.read_current("edge").select(
        "subj", "pred", "obj", "obj_is_literal", "obj_datatype",
        "obj_lang")
    q = parse_sparql(text, params)
    out = sparql_query(edges, text, params, max_depth=max_depth)
    if explain:
        # serving-side diagnosability: print the compiled physical
        # plan (grep ^PLAN) without executing the query
        plan = out._jdf.queryExecution().executedPlan().toString()
        for line in plan.splitlines():
            print(f"PLAN\t{line}")
        print("DONE 0 rows (explain only)")
        return
    if q.form in ("construct", "describe"):
        rows = out.orderBy("subj", "pred", "obj").collect()
        for r in rows:
            obj = (f'"{r["obj"]}"' if r["obj_is_literal"]
                   else f"<{r['obj']}>")
            print(f"TRIPLE <{r['subj']}> <{r['pred']}> {obj} .")
    else:
        cols = out.columns
        # A query with ORDER BY defines its own result sequence —
        # re-sorting would discard it (the compiled plan already ends
        # in the orderBy, and with LIMIT it's a single TakeOrdered).
        # Only sort column-wise for determinism when the query left
        # the order unspecified.
        rows = (out.collect() if q.order_by
                else out.orderBy(*cols).collect())
        for r in rows:
            print("ROW\t" + "\t".join("" if r[c] is None else str(r[c])
                                      for c in cols))
    # stdout on purpose: spark-submit's PythonRunner merges the
    # driver's stderr into stdout anyway, so an explicit tagged
    # stdout marker is the only stable contract.
    print(f"DONE {len(rows)} rows")


def main() -> None:
    spark = SparkSession.builder.appName("ferenda-query").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try:
        run(spark, sys.argv[1:])
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
