"""Independent DuckDB references for every output the benchmark checks.

Builds: the quad set ``materialize_kg`` must publish, computed from the
generated input table with plain SQL (no code shared with the program).
Queries: the same four templates as ``queries.py``, in SQL, over the
published parquet.
"""

from __future__ import annotations

import glob
import json
import os

import duckdb

CONV_BASE = "https://example.org/conv/"
VOCAB = "https://example.org/transcript#"
XSD = "http://www.w3.org/2001/XMLSchema#"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
QUAD_COLS = ["graph", "subj", "pred", "obj_kind", "obj", "datatype", "lang"]


def _lit(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _published(out_dir: str) -> str:
    return _lit(os.path.join(out_dir, "data", "*", "*.parquet"))


class Reference:
    """One in-memory DuckDB connection holding the input and the
    reference quad set (``ref_quads``, with mention quads flagged)."""

    def __init__(self, transcripts_dir: str, dictionary_path: str):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        self.con.execute(
            "CREATE TABLE turns AS SELECT DISTINCT * FROM read_parquet(?)",
            [os.path.join(transcripts_dir, "*.parquet")],
        )
        self.con.execute(
            "CREATE TABLE dict AS SELECT * FROM read_parquet(?)", [dictionary_path]
        )
        subj = f"{_lit(CONV_BASE)} || conv_id || '/turn/' || CAST(turn_idx AS VARCHAR)"
        ts = "strftime(make_timestamp(epoch_us(ts)), '%Y-%m-%dT%H:%M:%SZ')"

        def lit(pred: str, obj: str, dt: str) -> str:
            return (
                f"SELECT NULL AS graph, {subj} AS subj, {_lit(VOCAB + pred)} AS pred, "
                f"'literal' AS obj_kind, {obj} AS obj, {_lit(XSD + dt)} AS datatype, "
                f"NULL AS lang, false AS mention FROM turns WHERE {obj} IS NOT NULL"
            )

        def iri(pred: str, obj: str) -> str:
            return (
                f"SELECT NULL AS graph, {subj} AS subj, {_lit(pred)} AS pred, "
                f"'iri' AS obj_kind, {obj} AS obj, NULL AS datatype, NULL AS lang, "
                "false AS mention FROM turns"
            )

        self.con.execute(
            "CREATE TABLE ref_quads AS "
            + " UNION ALL ".join(
                [
                    iri(RDF_TYPE, _lit(VOCAB + "Turn")),
                    iri(VOCAB + "conversation", f"{_lit(CONV_BASE)} || conv_id"),
                    lit("role", "role", "string"),
                    lit("text", "text", "string"),
                    lit("tool", "tool", "string"),
                    lit("timestamp", ts, "dateTime"),
                    lit("turnIndex", "CAST(turn_idx AS VARCHAR)", "integer"),
                ]
            )
            # mention quads: every distinct dictionary surface among the
            # lowercased text tokens of a turn links to its best entity
            # (highest prior, ties to the smallest entity_id)
            + f"""
            UNION ALL
            SELECT DISTINCT NULL, m.subj, {_lit(VOCAB + 'mentions')}, 'iri', b.entity_id,
                   NULL, NULL, true
            FROM (
                SELECT DISTINCT subj, tok FROM (
                    SELECT {subj} AS subj,
                           unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS tok
                    FROM turns)
                WHERE length(tok) >= 3
            ) m
            JOIN (
                SELECT surface, entity_id FROM (
                    SELECT surface, entity_id, row_number() OVER (
                        PARTITION BY surface ORDER BY prior DESC, entity_id) AS rk
                    FROM dict)
                WHERE rk = 1
            ) b ON b.surface = m.tok
            """
        )
        self.turns = self.con.execute("SELECT count(*) FROM turns").fetchone()[0]

    def check_build(self, out_dir: str, with_mentions: bool) -> list[str]:
        """Problems with a published build; empty when it is correct."""
        problems = []
        files = glob.glob(os.path.join(out_dir, "data", "*", "*.parquet"))
        if not files:
            return ["nothing published"]
        cols = ", ".join(QUAD_COLS)
        self.con.execute(
            f"CREATE OR REPLACE TEMP VIEW pub AS SELECT {cols} FROM read_parquet({_published(out_dir)})"
        )
        ref = f"SELECT {cols} FROM ref_quads" + ("" if with_mentions else " WHERE NOT mention")
        missing, extra, rows, distinct = self.con.execute(
            f"""SELECT (SELECT count(*) FROM ({ref} EXCEPT SELECT * FROM pub)),
                       (SELECT count(*) FROM (SELECT * FROM pub EXCEPT {ref})),
                       (SELECT count(*) FROM pub),
                       (SELECT count(*) FROM (SELECT DISTINCT * FROM pub))"""
        ).fetchone()
        if missing or extra:
            problems.append(f"quad set differs: {missing} missing, {extra} extra")
        if rows != distinct:
            problems.append(f"{rows - distinct} duplicate quads published")
        with open(os.path.join(out_dir, "_manifest", "manifest.json")) as f:
            manifest = json.load(f)
        listed = sorted(int(b) for b in manifest["buckets"])
        on_disk = sorted(
            int(os.path.basename(os.path.dirname(p)).split("=", 1)[1])
            for p in glob.glob(os.path.join(out_dir, "data", "*", ""))
        )
        if listed != on_disk:
            problems.append(f"manifest buckets {listed} != published buckets {on_disk}")
        if sum(b["rows"] for b in manifest["buckets"].values()) != rows:
            problems.append("manifest row counts do not sum to the published rows")
        return problems

    def load_published(self, out_dir: str) -> None:
        """Load the published quads into table ``q`` for the query references."""
        self.con.execute(
            f"CREATE OR REPLACE TABLE q AS SELECT * FROM read_parquet({_published(out_dir)})"
        )

    def query(self, sql: str, params: list) -> list[tuple]:
        return self.con.execute(sql, params).fetchall()

    def sample(self, sql: str) -> list:
        return [r[0] for r in self.con.execute(sql).fetchall()]

    def close(self) -> None:
        self.con.close()
