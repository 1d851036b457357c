"""DuckDB oracles over the generated input, and checks of what the program
committed.

Expected values come from DuckDB running the package's own oracle SQL
(``oracles._PARSED`` and ``oracles._ROUTED``, which is generated from
``route.SINK_PREDICATES_SQL``) over the same generated parquet the program
reads. Committed values are read back from the warehouse files by DuckDB,
never through Spark, so checking adds no Spark jobs.
"""

from __future__ import annotations

import os

import duckdb

# substring-search field weights of the reference scorer: text 10,
# level 8, tool/op 6, and the default 2 for role and error_signature
SEARCH_WEIGHTS = (
    ("text", 10), ("level", 8), ("role", 2), ("tool", 6), ("op", 6), ("error_signature", 2),
)


class Oracle:
    """Expected per-sink rows, postings and search results for one input."""

    def __init__(self, input_dir: str, parsed_sql: str, routed_sql: str, sinks: tuple[str, ...]):
        self.sinks = tuple(sinks)
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        glob = os.path.join(input_dir, "*.parquet")
        self.con.execute(f"CREATE VIEW transcripts AS SELECT * FROM read_parquet('{glob}')")
        self.con.execute(f"CREATE TABLE routed_t AS WITH {parsed_sql}, {routed_sql} SELECT * FROM routed")
        self.n_turns = self.con.execute("SELECT count(*) FROM transcripts").fetchone()[0]
        self.sink_rows = {s: 0 for s in self.sinks}
        self.sink_rows.update(
            dict(self.con.execute("SELECT sink, count(*) FROM routed_t GROUP BY sink").fetchall())
        )
        # posting totals of (sink, conv_id, term) -> count over default tokens
        self.postings = {s: (0, 0) for s in self.sinks}
        for sink, n, tokens in self.con.execute(
            """
            WITH terms AS (
              SELECT sink, conv_id,
                     unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS term
              FROM routed_t
            ), agg AS (
              SELECT sink, conv_id, term, count(*) AS cnt FROM terms
              WHERE term <> '' GROUP BY sink, conv_id, term
            )
            SELECT sink, count(*), sum(cnt) FROM agg GROUP BY sink
            """
        ).fetchall():
            self.postings[sink] = (n, int(tokens))

    def close(self) -> None:
        self.con.close()

    def topk(self, sink: str, query: str, k: int) -> list[tuple]:
        """The substring top-k in the DuckDB scoring form."""
        score = " + ".join(
            f"(CASE WHEN instr(lower({c}), $q) > 0 THEN {w} ELSE 0 END)" for c, w in SEARCH_WEIGHTS
        )
        sql = f"""
            SELECT conv_id, turn_idx, score FROM (
              SELECT conv_id, turn_idx, CAST({score} AS DOUBLE) AS score
              FROM routed_t WHERE sink = $sink
            ) WHERE score > 0
            ORDER BY score DESC, conv_id, turn_idx LIMIT {int(k)}
        """
        rows = self.con.execute(sql, {"q": query.lower(), "sink": sink}).fetchall()
        return [(c, int(t), float(s)) for c, t, s in rows]

    def check_warehouse(self, root: str, n_parts: int | None = None) -> list[str]:
        """Mismatches between the committed warehouse and the oracle:
        per-sink rows, agg_terms posting totals, lineage row counts equal to
        the committed sink rows, and (when given) one checkpoint per input
        partition."""
        bad: list[str] = []
        committed = {}
        for s in self.sinks:
            got = self._count(os.path.join(root, f"sink_{s}"))
            committed[s] = got
            if got != self.sink_rows[s]:
                bad.append(f"sink_{s}: {got} rows committed, oracle {self.sink_rows[s]}")
        agg = os.path.join(root, "agg_terms")
        got_post = {s: (0, 0) for s in self.sinks}
        if _has_parquet(agg):
            for sink, n, tokens in self.con.execute(
                f"SELECT sink, count(*), sum(cnt) FROM read_parquet('{_glob(agg)}') GROUP BY sink"
            ).fetchall():
                got_post[sink] = (n, int(tokens))
        for s in self.sinks:
            if got_post.get(s) != self.postings[s]:
                bad.append(f"agg_terms[{s}]: (postings, tokens) {got_post.get(s)}, oracle {self.postings[s]}")
        lin = os.path.join(root, "lineage")
        lineage = {}
        if _has_parquet(lin):
            lineage = dict(
                self.con.execute(
                    f"SELECT sink, sum(row_count) FROM read_parquet('{_glob(lin)}') GROUP BY sink"
                ).fetchall()
            )
        for s in self.sinks:
            if lineage.get(s) != committed[s]:
                bad.append(f"lineage[{s}]: {lineage.get(s)} rows recorded, {committed[s]} committed")
        if n_parts is not None:
            cp = os.path.join(root, "checkpoints")
            parts = 0
            if _has_parquet(cp):
                parts = self.con.execute(
                    f"SELECT count(DISTINCT part_id) FROM read_parquet('{_glob(cp)}')"
                ).fetchone()[0]
            if parts != n_parts:
                bad.append(f"checkpoints: {parts} partitions, expected {n_parts}")
        return bad

    def _count(self, table_dir: str) -> int:
        if not _has_parquet(table_dir):
            return 0
        return self.con.execute(f"SELECT count(*) FROM read_parquet('{_glob(table_dir)}')").fetchone()[0]


def _glob(table_dir: str) -> str:
    return os.path.join(table_dir, "**", "*.parquet")


def _has_parquet(table_dir: str) -> bool:
    for _, _, files in os.walk(table_dir):
        if any(f.endswith(".parquet") for f in files):
            return True
    return False


def parquet_files(table_dir: str) -> tuple[int, int]:
    """(file count, total bytes) of the parquet files under a directory."""
    n = size = 0
    for dirpath, _, files in os.walk(table_dir):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(dirpath, f))
    return n, size
