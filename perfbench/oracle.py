"""DuckDB oracle, independent of Spark and of the lake code.

It replays the generated inputs (the staged parquet batches and the
operations' SQL predicate text) into an in-memory DuckDB table and
answers every read the benchmark checks. Checksums are integer sums
written in SQL that Spark and DuckDB evaluate identically, so a
match is exact, not within a tolerance.
"""

from __future__ import annotations

import duckdb
import pyarrow as pa

# Order-independent row-set checksum over every lineitem column.
CHECKSUM_EXPRS = [
    "count(*)",
    "sum(row_key)",
    "sum(l_orderkey * 3 + l_partkey * 5 + l_suppkey)",
    "sum(row_key % 1000 * l_linenumber)",
    "sum(cast(l_quantity as bigint))",
    "sum(cast(round(l_extendedprice * 100) as bigint))",
    "sum(cast(round(l_discount * 100) as bigint) * 7"
    " + cast(round(l_tax * 100) as bigint))",
    "sum(length(l_returnflag) + length(l_linestatus) * 3"
    " + length(l_shipmode) * 11 + length(l_comment) * 17)",
    "sum(year(l_shipdate) * 10000 + month(l_shipdate) * 100"
    " + dayofmonth(l_shipdate))",
]

MERGE_UPDATE_COLS = ["l_quantity", "l_extendedprice", "l_comment"]


def _ints(row) -> tuple:
    return tuple(None if v is None else int(v) for v in row)


def spark_checksum(df) -> tuple:
    """The checksum of a Spark DataFrame (runs one aggregate job)."""
    return _ints(df.selectExpr(*CHECKSUM_EXPRS).collect()[0])


class LakeMirror:
    """The expected table contents, maintained by replaying each
    operation's inputs with SQL semantics."""

    def __init__(self, first_batch: str):
        self.con = duckdb.connect()
        self.con.execute(
            f"CREATE TABLE t AS SELECT * FROM read_parquet('{first_batch}')"
        )

    def append(self, path: str) -> None:
        self.con.execute(f"INSERT INTO t SELECT * FROM read_parquet('{path}')")

    def delete(self, predicate_sql: str) -> None:
        self.con.execute(f"DELETE FROM t WHERE {predicate_sql}")

    def merge(self, path: str) -> None:
        """MERGE on row_key: matched rows take the source's
        ``MERGE_UPDATE_COLS``; unmatched source rows are inserted."""
        sets = ", ".join(f"{c} = s.{c}" for c in MERGE_UPDATE_COLS)
        self.con.execute(
            f"UPDATE t SET {sets} FROM read_parquet('{path}') s "
            "WHERE t.row_key = s.row_key"
        )
        self.con.execute(
            f"INSERT INTO t SELECT * FROM read_parquet('{path}') s "
            "WHERE s.row_key NOT IN (SELECT row_key FROM t)"
        )

    def point(self, key: int) -> list[tuple]:
        return sorted(
            self.con.execute("SELECT * FROM t WHERE row_key = ?", [key]).fetchall()
        )

    def checksum(self) -> tuple:
        return _ints(
            self.con.execute(f"SELECT {', '.join(CHECKSUM_EXPRS)} FROM t").fetchone()
        )


class DedupOracle:
    """Checks one curation pass against exact 3-shingle Jaccard.

    ``shingles`` maps doc id to its shingle set; ``planted`` lists
    ``(original_id, copy_id, kind)``.
    """

    def __init__(self, shingles: dict[int, set[str]], planted, tau: float):
        self.tau = tau
        self.planted = planted
        self.con = duckdb.connect()
        pairs = [(d, s) for d, ss in shingles.items() for s in ss]
        src = pa.table({"doc_id": pa.array([p[0] for p in pairs], pa.int64()),
                        "shingle": pa.array([p[1] for p in pairs], pa.string())})
        self.con.register("src", src)
        self.con.execute("CREATE TABLE sh AS SELECT * FROM src")
        self.con.unregister("src")
        self.con.execute(
            "CREATE TABLE sz AS SELECT doc_id, count(*) AS n FROM sh GROUP BY 1"
        )
        self._cache: dict[frozenset, tuple[list[str], float]] = {}

    def best_partner_jaccard(self, ids: list[int]) -> dict[int, float]:
        """Highest exact Jaccard of each doc in ``ids`` to any other doc."""
        self.con.register("q", pa.table({"doc_id": pa.array(ids, pa.int64())}))
        rows = self.con.execute(
            """
            WITH inter AS (
              SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS k
              FROM sh a JOIN sh b
                ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
              WHERE a.doc_id IN (SELECT doc_id FROM q)
              GROUP BY 1, 2)
            SELECT i.a, max(i.k / (sa.n + sb.n - i.k))
            FROM inter i JOIN sz sa ON sa.doc_id = i.a
            JOIN sz sb ON sb.doc_id = i.b
            GROUP BY 1
            """
        ).fetchall()
        self.con.unregister("q")
        return {int(a): float(j) for a, j in rows}

    def check(self, removed: set[int]) -> tuple[list[str], float]:
        """(problems, dup_recall) for the set of removed doc ids."""
        key = frozenset(removed)
        if key not in self._cache:
            self._cache[key] = self._check(removed)
        return self._cache[key]

    def _check(self, removed: set[int]) -> tuple[list[str], float]:
        problems = []
        best = self.best_partner_jaccard(sorted(removed))
        lonely = [d for d in removed if best.get(d, 0.0) < self.tau]
        if lonely:
            problems.append(
                f"{len(lonely)} removed docs have no partner with "
                f"Jaccard >= {self.tau} (e.g. {sorted(lonely)[:5]})"
            )
        hit = 0
        for orig, copy, kind in self.planted:
            gone = (orig in removed) + (copy in removed)
            if gone == 2:
                problems.append(f"both {orig} and its copy {copy} removed")
            if kind == "exact" and gone == 0:
                problems.append(f"exact duplicate {copy} of {orig} kept")
            hit += gone >= 1
        return problems, hit / len(self.planted)
