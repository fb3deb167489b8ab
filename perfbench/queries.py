"""The four SPARQL SELECT templates, their DuckDB twins and the query mix.

Each template is a SPARQL text for ``json_ld_spark.sparql.sparql`` and an
SQL text for DuckDB over the published quads (view ``q``). Results are
compared after ``normalize``: order-free templates as sorted lists,
ordered ones (``conv``, ``top``) as lists in result order.
"""

from __future__ import annotations

import numpy as np

T = "https://example.org/transcript#"

SPARQL = {
    # all quads of one turn IRI
    "point": "SELECT ?p ?o WHERE {{ <{turn}> ?p ?o }}",
    # role and text of one conversation's turns, in turn-index order
    # (turnIndex is an xsd:integer literal kept lexical: the order is lexical)
    "conv": (
        "PREFIX t: <{T}> SELECT ?idx ?role ?text WHERE {{ ?turn t:conversation <{conv}> ; "
        "t:turnIndex ?idx ; t:role ?role ; t:text ?text }} ORDER BY ?idx"
    ),
    # turns mentioning one entity, counted by role
    "entity": (
        "PREFIX t: <{T}> SELECT ?role (COUNT(?turn) AS ?n) WHERE {{ "
        "?turn t:mentions <{entity}> ; t:role ?role }} GROUP BY ?role"
    ),
    # top-20 entities by distinct conversations over assistant turns
    "top": (
        "PREFIX t: <{T}> SELECT ?e (COUNT(DISTINCT ?conv) AS ?n) WHERE {{ "
        '?turn t:role "assistant" ; t:mentions ?e ; t:conversation ?conv }} '
        "GROUP BY ?e ORDER BY DESC(?n) ?e LIMIT 20"
    ),
}

SQL = {
    "point": "SELECT pred, obj FROM q WHERE subj = $1",
    "conv": f"""
        SELECT i.obj, r.obj, x.obj FROM q c
        JOIN q i ON i.subj = c.subj AND i.pred = '{T}turnIndex'
        JOIN q r ON r.subj = c.subj AND r.pred = '{T}role'
        JOIN q x ON x.subj = c.subj AND x.pred = '{T}text'
        WHERE c.pred = '{T}conversation' AND c.obj = $1
        ORDER BY i.obj""",
    "entity": f"""
        SELECT r.obj, count(*) FROM q m
        JOIN q r ON r.subj = m.subj AND r.pred = '{T}role'
        WHERE m.pred = '{T}mentions' AND m.obj = $1
        GROUP BY r.obj""",
    "top": f"""
        SELECT m.obj AS e, count(DISTINCT c.obj) AS n FROM q r
        JOIN q m ON m.subj = r.subj AND m.pred = '{T}mentions'
        JOIN q c ON c.subj = r.subj AND c.pred = '{T}conversation'
        WHERE r.pred = '{T}role' AND r.obj = 'assistant'
        GROUP BY m.obj ORDER BY n DESC, e LIMIT 20""",
}

ORDERED = {"conv", "top"}
PARAM = {"point": "turn", "conv": "conv", "entity": "entity", "top": None}

# The timed queries, in a seeded order. Point lookups dominate, as on a
# serving read path. The composition puts the 90th percentile in the
# middle of one analytical template's band, never on the edge between
# two templates: ranks 43-47 of 50 are `entity`, the fastest analytical
# template, on kg_native; ranks 17-20 of 20 are `conv` on kg_generic.
MIX = ["point"] * 42 + ["entity"] * 5 + ["conv"] * 2 + ["top"]
# On a graph without mention quads, entity and top would answer nothing.
GENERIC_MIX = ["point"] * 16 + ["conv"] * 4


def warm_up(mix: list[str]) -> list[str]:
    """Untimed before the timed queries: plans every template of the mix
    and warms the JIT on the read path, where point lookups keep getting
    faster, by 10-20 %, over their first few dozen runs."""
    return ["point"] * 20 + sorted(set(mix) - {"point"})


class QueryMix:
    """Seeded query instances drawn from the published graph."""

    def __init__(self, ref, seed: int):
        self.rng = np.random.default_rng([seed, 3])
        self.params = {
            "turn": ref.sample("SELECT DISTINCT subj FROM q ORDER BY 1"),
            "conv": ref.sample(
                f"SELECT DISTINCT obj FROM q WHERE pred = '{T}conversation' ORDER BY 1"
            ),
            "entity": ref.sample(
                f"SELECT DISTINCT obj FROM q WHERE pred = '{T}mentions' ORDER BY 1"
            )
            # a graph without mention quads still gets entity queries
            # (with empty answers), so every workload runs the same mix
            or ["https://example.org/entity/none/0"],
        }

    def instance(self, template: str) -> tuple[str, str, str | None]:
        """(template, SPARQL text, parameter)."""
        key = PARAM[template]
        value = None
        if key is not None:
            values = self.params[key]
            value = values[int(self.rng.integers(len(values)))]
        text = SPARQL[template].format(T=T, **({key: value} if key else {}))
        return template, text, value

    def cycle(self, templates: list[str]) -> list[tuple[str, str, str | None]]:
        return [self.instance(t) for t in self.rng.permutation(templates)]


def normalize(template: str, rows) -> list[tuple]:
    out = [tuple(None if v is None else (int(v) if isinstance(v, int) else str(v)) for v in r)
           for r in rows]
    return out if template in ORDERED else sorted(out, key=repr)


def reference(ref, template: str, param: str | None) -> list[tuple]:
    return normalize(template, ref.query(SQL[template], [param] if param else []))
