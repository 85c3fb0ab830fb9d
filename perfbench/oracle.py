"""DuckDB oracle for the benchmark: expected store tables and responses.

Expectations come from the repo's own DuckDB twins in
`__spark_entry__` (`_kg_sql_prefix()` for `ranges`, `oracle_sql()` for
the statements table and the declared SPARQL queries), evaluated over
the `events` view that `gen.write_events` registers.  They are computed
once, before anything is timed; every check runs outside the timed
window.
"""

from __future__ import annotations

from collections import Counter

import __spark_entry__ as E

REV = E.STATE_REV

# serving mix: query class -> the declared query's SPARQL text (the
# kg_sparql_<class> entry of __spark_entry__.queries(), whose inputs are
# the store's ranges/turns tables, exactly what the endpoint passes)
QUERIES = {
    "graph_state": "SELECT DISTINCT ?s ?o WHERE { GRAPH "
                   f"<rev:global/{REV}> {{ ?s P0 ?o }} }}",
    "count": f"SELECT ?s (COUNT(?o) AS ?n) WHERE {{ GRAPH <rev:global/{REV}>"
             " { ?s P0 ?o } } GROUP BY ?s",
    "graph_deltas": "SELECT DISTINCT ?s ?p ?o WHERE { "
                    f"{{ GRAPH rev:additions/{REV} {{ ?s ?p ?o }} }} UNION "
                    "{ GRAPH rev:deletions/14 { ?s ?p ?o } } }",
    "graph_var": "SELECT DISTINCT ?g ?o WHERE { GRAPH ?g { Q7 P0 ?o } }",
    "path": "SELECT DISTINCT ?o WHERE { Q7 P0+ ?o }",
    "magic": "SELECT DISTINCT ?t ?who ?c WHERE { ?t hist:author ?who . "
             "?t schema:about ?c . ?t hist:revisionId ?r . "
             'FILTER(?r >= "5"^^xsd:integer) }',
    "from": f"SELECT DISTINCT ?s ?p ?o FROM rev:additions/{REV} "
            "FROM rev:deletions/14 WHERE { ?s ?p ?o }",
}

RANGES_COLS = "conv_id, subj, pred, obj, range_start, range_end"
STATEMENT_COLS = "conv_id, turn_idx, stmt_id, subj, pred, obj, stmt_rank, best_rank"


def _cell(v) -> str:
    """A value as the endpoint's TSV prints it (None -> empty)."""
    return "" if v is None else str(v)


class Oracle:
    """Expected outputs for one generated corpus (`events` view on `con`)."""

    def __init__(self, con):
        self.con = con
        sql = E.oracle_sql()
        con.execute(
            f"CREATE OR REPLACE TABLE exp_ranges AS {E._kg_sql_prefix()} "
            f"SELECT {RANGES_COLS} FROM ranges"
        )
        con.execute(
            "CREATE OR REPLACE TABLE exp_statements AS "
            + sql["kg_statements_reified"]
        )
        self.ranges_rows, self.hot_rows = con.execute(
            "SELECT count(*), count(*) FILTER (WHERE subj = 'Q7') FROM exp_ranges"
        ).fetchone()
        self.responses = {}
        for cls in QUERIES:
            cur = con.execute(sql["kg_sparql_" + cls])
            header = [d[0] for d in cur.description]
            rows = Counter(tuple(_cell(v) for v in r) for r in cur.fetchall())
            self.responses[cls] = (header, rows)

    @property
    def max_rows(self) -> int:
        return max(sum(rows.values()) for _, rows in self.responses.values())

    def _diff(self, table: str, cols: str, path: str) -> int:
        got = f"SELECT {cols} FROM read_parquet('{path}/*.parquet')"
        exp = f"SELECT {cols} FROM {table}"
        return self.con.execute(
            f"SELECT count(*) FROM (({got} EXCEPT ALL {exp}) "
            f"UNION ALL ({exp} EXCEPT ALL {got}))"
        ).fetchone()[0]

    def check_store(self, store: str) -> list[str]:
        """Tables of `store` that differ from the oracle (as multisets)."""
        bad = []
        if self._diff("exp_ranges", RANGES_COLS, f"{store}/ranges"):
            bad.append("ranges")
        if self._diff("exp_statements", STATEMENT_COLS, f"{store}/statements"):
            bad.append("statements")
        return bad

    def check_response(self, cls: str, body: str) -> bool:
        """True when a TSV response holds exactly the expected rows."""
        header, rows = self.responses[cls]
        lines = body.split("\n")
        if lines and lines[-1] == "":
            lines.pop()
        if not lines or lines[0].split("\t") != header:
            return False
        got = Counter(tuple(line.split("\t")) for line in lines[1:])
        return got == rows
