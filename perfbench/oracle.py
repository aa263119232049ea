"""DuckDB oracle: expected rows, schema and value hash for every op.

Expected results come only from stable surfaces:

- ``__spark_entry__.oracle_sql()`` for registry queries, run by DuckDB on
  the generated tables;
- the same strings for the parametrized audience requests, with the
  request's keywords, subreddits and time window substituted into the
  ``signal_scan_month`` / ``community_discovery`` templates. Each
  substitution must match its anchor exactly once; when a template no
  longer parametrizes, ``TemplateDrift`` is raised and the run fails;
- DuckDB reading the files a sink or stream wrote.

``result_key`` is the comparison: row count, lower-case column set and an
order-insensitive hash of the values (floats rounded to 4 places).
"""

from __future__ import annotations

import hashlib
import math
import re
import threading
from decimal import Decimal

import numpy as np

from gen import ALL_TABLES


def tables_read(sql: str) -> tuple[str, ...]:
    """The fixture tables an oracle query scans (its FROM / JOIN targets):
    the input an op reads, for the rows-in throughput. String literals are
    blanked first: a request's keyword such as ``'join customer'`` is data,
    not a join."""
    code = re.sub(r"'(?:[^']|'')*'", "''", sql)
    pat = r"(?i)\b(?:FROM|JOIN)\s+(" + "|".join(ALL_TABLES) + r")\b"
    return tuple(sorted(set(re.findall(pat, code))))


class TemplateDrift(RuntimeError):
    """An oracle template no longer has the shape the substitution expects."""


def _canon(v) -> str:
    if v is None:
        return "None"
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (int, float, Decimal, np.integer, np.floating)):
        f = float(v)
        if math.isnan(f):
            return "None"  # pandas turns NULLs in numeric columns into NaN
        f = round(f, 4)
        return repr(f + 0.0)  # + 0.0 folds -0.0 into 0.0
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(x)}" for k, x in sorted(v.items())) + "}"
    return str(v)


def result_key(pdf) -> tuple[int, tuple[str, ...], str]:
    """(rows, sorted lower-case columns, value hash) of a pandas frame.
    Numbers compare by value whatever their type, so a sink that writes
    integers as doubles (or JSON that reads them back as integers) still
    matches."""
    cols = sorted(pdf.columns, key=str.lower)
    rows = sorted(
        "\x1f".join(_canon(v) for v in row)
        for row in pdf[cols].astype(object).itertuples(index=False, name=None)
    )
    digest = hashlib.md5("\x1e".join(rows).encode()).hexdigest()
    return len(rows), tuple(c.lower() for c in cols), digest


def _sub_once(sql: str, pattern: str, repl: str, what: str) -> str:
    out, n = re.subn(pattern, lambda _m: repl, sql)
    if n != 1:
        raise TemplateDrift(f"{what}: expected 1 match of {pattern!r}, found {n}")
    return out


def _values(items: list[str]) -> str:
    for s in items:
        if "'" in s:
            raise ValueError(f"quote in oracle literal {s!r}")
    return ", ".join(f"({i + 1}, '{s}')" for i, s in enumerate(items))


_VALUES_RE = r"\(VALUES \(1, '[^']*'\)(?:, \(\d+, '[^']*'\))*\)"
_SUBS_RE = r"WHERE subreddit IN \('[^']*'(?:, '[^']*')*\)"
_TIME_RE = (
    r"AND created_ts >= TIMESTAMP '2024-01-01 00:00:00' \+ to_seconds\("
    r"\(SELECT count\(\*\) FROM documents\) \* (\d+) - (\d+)\)"
)


def scan_signals_sql(template: str, subreddits: list[str], keywords: list[str], time_filter: str) -> str:
    """``signal_scan_month``'s oracle with the request's parameters."""
    from audience_finder_pro_spark.plans.audience import TIME_FILTER_HOURS

    sql = _sub_once(template, _VALUES_RE, f"(VALUES {_values(keywords)})", "signal keywords")
    wanted = ", ".join(f"'{s.replace('r/', '')}'" for s in subreddits)
    sql = _sub_once(sql, _SUBS_RE, f"WHERE subreddit IN ({wanted})", "signal subreddits")
    m = re.search(_TIME_RE, sql)
    if m is None or len(re.findall(_TIME_RE, sql)) != 1:
        raise TemplateDrift("signal time window: anchor not found exactly once")
    if time_filter == "all":
        return sql[: m.start()] + sql[m.end():]
    secs = TIME_FILTER_HOURS[time_filter] * 3600
    return sql[: m.start(2)] + str(secs) + sql[m.end(2):]


def discovery_sql(template: str, queries: list[str]) -> str:
    """``community_discovery``'s oracle with the request's queries."""
    return _sub_once(template, _VALUES_RE, f"(VALUES {_values(sorted(queries))})", "discovery queries")


class Oracle:
    """DuckDB over one generated table directory; expected keys are
    computed once per SQL string and kept for the run."""

    def __init__(self, sf_dir: str, tables: tuple[str, ...]):
        import duckdb

        from __spark_entry__ import oracle_sql

        self.sql = oracle_sql()
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        for t in tables:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        self._memo: dict[str, tuple] = {}

    def expected(self, sql: str) -> tuple:
        if sql not in self._memo:
            self._memo[sql] = result_key(self.con.execute(sql).df())
        return self._memo[sql]

    def prefetch(self, sqls: list[str]) -> threading.Thread:
        """Compute expected keys on a second DuckDB cursor in a background
        thread (run while the JVM starts). A query that fails here is
        simply recomputed, and its error raised, when first checked."""

        def work():
            cur = self.con.cursor()
            try:
                for sql in sqls:
                    if sql not in self._memo:
                        try:
                            self._memo[sql] = result_key(cur.execute(sql).df())
                        except Exception:  # noqa: BLE001 - re-raised by expected()
                            pass
            finally:
                cur.close()

        thread = threading.Thread(target=work, name="oracle-prefetch", daemon=True)
        thread.start()
        return thread

    def same_rows(self, sql: str, expected_sql: str) -> bool:
        """Whether two queries return the same multiset of rows, compared
        exactly inside DuckDB (for files a sink wrote, whose values
        round-trip unchanged)."""
        n = self.con.execute(
            f"SELECT (SELECT count(*) FROM ({sql})), (SELECT count(*) FROM ({expected_sql})), "
            f"(SELECT count(*) FROM (({sql}) EXCEPT ALL ({expected_sql})))"
        ).fetchone()
        return n[0] == n[1] and n[2] == 0

    def query(self, sql: str):
        return self.con.execute(sql).df()

    def close(self) -> None:
        self.con.close()
