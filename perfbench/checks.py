"""Output checks. They run outside every timed interval and outside
set-up, and feed ``failed`` / ``error_rate``.

Frames are compared with the query gate's own order-insensitive hash
(``tools/check_correctness.canonical_hash``), imported so both gates
agree on what "equal" means.
"""

from __future__ import annotations

import os

import pandas as pd

from tools.check_correctness import canonical_hash


class Tally:
    """Operations attempted and failed. An operation fails when it
    raises or when any check on its output is wrong."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def record(self, ok: bool, what: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


def frames_match(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    return (sorted(got.columns) == sorted(want.columns)
            and len(got) == len(want)
            and canonical_hash(got) == canonical_hash(want))


def parquet_glob(path: str) -> str:
    """DuckDB source for a parquet file or a Spark-written directory."""
    return path if os.path.isfile(path) else f"{path}/**/*.parquet"


# --------------------------------------------------------------------------
# elt_chain
# --------------------------------------------------------------------------

def chain_quarantine_expected(con, source_dir: str, rule_sql: str) -> int:
    """Rows of every landed lineitem increment that break a quality
    rule. Keys are unique inside one increment, so the ingest's
    keep-latest keeps every row and landing holds each increment
    whole."""
    src = parquet_glob(f"{source_dir}/lineitem.parquet")
    return con.sql(f"SELECT count(*) FROM read_parquet('{src}') "
                   f"WHERE {rule_sql}").fetchone()[0]


def chain_q01_expected(con, source_dir: str, rule_sql: str) -> pd.DataFrame:
    """``q01_line_revenue`` over the rows that passed the quality gate."""
    src = parquet_glob(f"{source_dir}/lineitem.parquet")
    return con.sql(
        "SELECT l_orderkey, l_linenumber, COALESCE(l_extendedprice, 0.0) "
        "* (1.0 - COALESCE(l_discount, 0.0)) AS revenue "
        f"FROM read_parquet('{src}') WHERE NOT ({rule_sql})").df()


def read_output(con, path: str) -> pd.DataFrame:
    return con.sql(f"SELECT * FROM read_parquet('{parquet_glob(path)}')").df()


# --------------------------------------------------------------------------
# cdc_upsert
# --------------------------------------------------------------------------

def keep_latest_expected(con, files: list[str], key: str, seq: str,
                         op: str, delete_op: str = "D") -> pd.DataFrame:
    """Live rows after applying every change file in order: the newest
    change per key wins, and keys whose newest change is a delete are
    gone."""
    srcs = ", ".join(f"'{f}'" for f in files)
    return con.sql(
        f"SELECT * EXCLUDE (rn) FROM (SELECT *, row_number() OVER "
        f"(PARTITION BY {key} ORDER BY {seq} DESC) AS rn "
        f"FROM read_parquet([{srcs}])) "
        f"WHERE rn = 1 AND {op} IS DISTINCT FROM '{delete_op}'").df()
