"""Cypher-subset front end: parse the reference app's actual query
strings and compile them to DataFrame plans over ``GraphModel``.

The reference ships its entire query surface as Cypher text (26 call
sites: app.py + get_insert.py + train_fix.py). The serving facade
re-expresses each endpoint by hand; this package additionally runs the
reference's statements *verbatim* — a user of the reference can paste
their Cypher and get the same rows from Spark, with Catalyst doing the
planning. Reads compile in ``compiler``; write statements
(MERGE/SET/REMOVE/FOREACH/DELETE) apply in ``writes`` as set-at-a-time
batch upserts that return a new GraphModel, with edge rows stored per
the model's contract (``graph.model.orient_edges``).
"""

from neo4j_database_spark.cypher.compiler import run_cypher
from neo4j_database_spark.cypher.writes import apply_cypher_write


class CypherSession:
    """neo4j-session-shaped facade: ``run`` dispatches read statements
    to the compiler (returns a DataFrame) and write statements to the
    batch-upsert translator (mutates the session's GraphModel, returns
    None). Lets reference code using ``driver.session()`` port by
    swapping the session object."""

    def __init__(self, graph):
        self.graph = graph

    def run(self, query: str, params: dict | None = None):
        from neo4j_database_spark.cypher import parser as P

        if P.parse(query).is_write:
            self.graph = apply_cypher_write(self.graph, query, params)
            return None
        return run_cypher(self.graph, query, params)

    def explain(self, query: str, params: dict | None = None,
                mode: str = "formatted") -> str:
        """Neo4j ``EXPLAIN``-shaped: compile the read statement and
        return the physical plan Catalyst chose (without executing).
        The Spark plan is the engine's honest answer to "how will this
        run" — join strategies, pushed filters, exchanges — where Neo4j
        would show its operator pipeline."""
        df = run_cypher(self.graph, query, params)
        return df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), mode
        )


__all__ = ["run_cypher", "apply_cypher_write", "CypherSession"]
