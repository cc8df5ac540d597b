"""DuckDB twins of the served answers, composed from the engine's own
oracle SQL (``oracles._bm25_fields_sql``, ``oracles._PYMK_SCORED_SQL``,
``oracles.ORACLES["pymk_all_top5"]``) over the generated source tables.
Used only by the correctness gate, outside every timed section."""

from __future__ import annotations

import duckdb
import pyarrow as pa

from social_graph_based_people_recommender_using_amazon_neptune_and_textract_spark import (
    oracles as O,
)

_ROUND = 6


def canon(rows) -> list[tuple]:
    """Rows as tuples with floats rounded, in their served order."""
    return [
        tuple(round(float(x), _ROUND) if isinstance(x, float) else x for x in r)
        for r in rows
    ]


def ordered(rows: list[tuple]) -> bool:
    """(score desc, id asc) — score is the last column, id the first."""
    keys = [(-r[-1], r[0]) for r in rows]
    return keys == sorted(keys)


class Oracle:
    def __init__(self, data_dir: str) -> None:
        self.con = duckdb.connect()
        for t in ("customer", "nation", "events"):
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )
        self._corpus = False

    def records(self) -> list[tuple]:
        """The card records ``sources.tables.bizcard_text_records``
        derives from the sources, (s3_bucket, s3_key, lines), from its
        DuckDB twin."""
        rows = self.con.execute(
            f"WITH {O.BIZCARD_LINES_SQL} SELECT s3_bucket, s3_key, lines FROM bizcard_raw"
        ).fetchall()
        return sorted((b, k, list(lines)) for b, k, lines in rows)

    def _ensure_corpus(self) -> None:
        """Materialize the parsed cards and the bizcard graph once."""
        if self._corpus:
            return
        self._corpus = True
        self.con.execute(
            f"CREATE TABLE parsed AS WITH {O.BIZCARD_LINES_SQL}, {O.PARSED_SQL} "
            "SELECT * FROM parsed"
        )
        self.con.execute(
            f"CREATE TABLE bizcards AS WITH {O.BIZCARDS_CTES} SELECT * FROM bizcards"
        )
        self.con.execute(
            f"CREATE TABLE bvertices AS WITH {O._BGRAPH_SQL} SELECT * FROM bvertices"
        )
        self.con.execute(f"CREATE TABLE bbi AS WITH {O._BGRAPH_SQL} SELECT * FROM bbi")

    def load_cards(self, records: list[tuple]) -> None:
        """Replace the card corpus by ``records`` (s3_bucket, s3_key,
        lines): the from-scratch index over exactly these uploads."""
        self.con.register(
            "cards_in",
            pa.table(
                {
                    "s3_bucket": [r[0] for r in records],
                    "s3_key": [r[1] for r in records],
                    "lines": [list(r[2]) for r in records],
                }
            ),
        )
        chain = O.BIZCARDS_CTES.replace(O.BIZCARD_LINES_SQL + ", ", "", 1)
        self.con.execute(
            f"CREATE OR REPLACE TABLE bizcards AS WITH bizcard_raw AS "
            f"(SELECT * FROM cards_in), {chain} SELECT * FROM bizcards"
        )
        self.con.unregister("cards_in")
        self._corpus = True

    def close(self) -> None:
        self.con.close()

    def _rows(self, sql: str) -> list[tuple]:
        return canon(self.con.execute(sql).fetchall())

    def friended_names(self) -> list[str]:
        """Lower-cased names of the bizcard-graph people with a friend."""
        self._ensure_corpus()
        return [
            r[0]
            for r in self.con.execute(
                'SELECT DISTINCT v."_name" FROM bvertices v JOIN bbi ON v.id = bbi.src'
            ).fetchall()
        ]

    def search(self, terms: list[str], owner: str | None, limit: int = 10) -> list[tuple]:
        self._ensure_corpus()
        where = f"WHERE b.owner = '{owner}'" if owner else ""
        if not terms:
            return self._rows(
                "SELECT doc_id, owner, name, CAST(0.0 AS DOUBLE) AS score "
                f"FROM bizcards b {where} {'AND' if where else 'WHERE'} is_alive = 1 "
                f"ORDER BY doc_id LIMIT {limit}"
            )
        return self._rows(
            f"WITH {O._bm25_fields_sql(terms)} "
            "SELECT b.doc_id, b.owner, b.name, s.score "
            f"FROM scored s JOIN bizcards b ON s.id = b.doc_id {where} "
            f"ORDER BY s.score DESC, b.doc_id ASC LIMIT {limit}"
        )

    def pymk(self, name: str, limit: int = 10, v: str = "bvertices", bi: str = "bbi") -> list[tuple]:
        if v == "bvertices":
            self._ensure_corpus()
        return self._rows(
            f"WITH {O._PYMK_SCORED_SQL.format(v=v, bi=bi, user=name, limit=limit)} "
            f"SELECT v.id, v.name, s.score FROM scored s JOIN {v} v ON s.cand_id = v.id "
            "ORDER BY s.score DESC, v.id ASC"
        )

    def pymk_all_top5(self) -> list[tuple]:
        return sorted(self._rows(O.ORACLES["pymk_all_top5"]))

    def load_graph(self, vertices_dir: str, edges_dir: str) -> None:
        """(Re)define ``gv`` / ``gbi`` over an ingested graph snapshot."""
        self.con.execute(
            "CREATE OR REPLACE TABLE gv AS SELECT id, name, \"_name\" "
            f"FROM read_parquet('{vertices_dir}/*.parquet')"
        )
        self.con.execute(
            "CREATE OR REPLACE TABLE gbi AS "
            f"SELECT src, dst FROM read_parquet('{edges_dir}/*.parquet') "
            f"UNION ALL SELECT dst, src FROM read_parquet('{edges_dir}/*.parquet')"
        )
