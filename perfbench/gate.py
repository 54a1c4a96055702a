"""Correctness gate: DuckDB reference counts and sink read-back.

The reference re-derives every per-sink count from the generated input
parquet with an engine other than Spark. It restates the pipeline's contract
rather than importing it: the audit regex, the left join against the service
catalog, and the severity fallback coalesce(parsed, catalog default,
'unknown'). Route predicates are portable SQL, so the same text runs in both
engines.

Read-back counts the rows that actually landed in one tick's sink partition,
per sink format (parquet footers, gzip JSON lines, gzip log lines, YAML list
items).
"""

from __future__ import annotations

import gzip
import os
from typing import Mapping, Sequence

import duckdb
import pyarrow.parquet as pq

# The audit line shape the parse layer must recognise: four capture groups,
# severity first.
AUDIT_REGEX = r"\[(debug|info|warn|error|critical)\] actor=(\S+) action=(\S+) resource=(\S+)"


def _sql_str(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


AUDIT_FIELDS = ("severity", "actor", "action", "resource")


class Reference:
    """Per-sink reference counts over one generated input table."""

    def __init__(self, input_dir: str, catalog_rows: Sequence[tuple], routes: Sequence,
                 temp_dir: str):
        self.routes = list(routes)
        self.con = duckdb.connect(config={"temp_directory": temp_dir, "threads": 2})
        values = ", ".join(
            "(" + ", ".join(_sql_str(v) for v in row) + ")" for row in catalog_rows
        )
        self.con.execute(
            "CREATE TABLE catalog AS SELECT * FROM (VALUES " + values
            + ") c(tool, role, service, category, default_severity)"
        )
        glob = os.path.join(input_dir, "*.parquet")
        self.con.execute(
            f"""
            CREATE TABLE enriched AS
            WITH t AS (
                -- one regex match per row; a non-match yields '' in every group
                SELECT conv_id, turn_idx, role, tool, ts,
                       regexp_extract(text, {_sql_str(AUDIT_REGEX)},
                                      [{", ".join(_sql_str(f) for f in AUDIT_FIELDS)}]) AS m
                FROM read_parquet({_sql_str(glob)})
            )
            SELECT t.conv_id, t.turn_idx, t.role, t.tool, t.ts,
                   nullif(t.m.actor, '') AS actor,
                   nullif(t.m.action, '') AS action,
                   nullif(t.m.resource, '') AS resource,
                   coalesce(nullif(t.m.severity, ''), c.default_severity, 'unknown') AS severity,
                   coalesce(c.service, 'unknown') AS service,
                   coalesce(c.category, 'unknown') AS category
            FROM t LEFT JOIN catalog c ON t.tool = c.tool AND t.role = c.role
            """
        )

    def _select(self) -> str:
        hits = [
            f"sum(CASE WHEN ({r.predicate}) THEN 1 ELSE 0 END) AS \"{r.route_id}\""
            for r in self.routes
        ]
        any_hit = " OR ".join(f"coalesce(({r.predicate}), false)" for r in self.routes)
        return (
            "count(*) AS turns, count(actor) AS parsed, "
            f"sum(CASE WHEN {any_hit} THEN 0 ELSE 1 END) AS unrouted, " + ", ".join(hits)
        )

    def _row(self, row: Sequence) -> dict:
        turns, parsed, unrouted, *hits = row
        return {
            "turns": int(turns or 0),
            "parsed": int(parsed or 0),
            "unrouted": int(unrouted or 0),
            "counts": {r.route_id: int(n or 0) for r, n in zip(self.routes, hits)},
        }

    def whole(self) -> dict:
        """Counts over the whole table (one whole-table operation)."""
        return self._row(self.con.execute(f"SELECT {self._select()} FROM enriched").fetchone())

    def windows(self, run_ts: Sequence[str], window: str) -> dict[str, dict]:
        """Counts per tick: rows with ts in [run_ts - window, run_ts]."""
        ticks = ", ".join(f"(TIMESTAMP {_sql_str(t)})" for t in run_ts)
        rows = self.con.execute(
            f"""
            SELECT strftime(k.run_ts, '%Y-%m-%d %H:%M:%S'), {self._select()}
            FROM (VALUES {ticks}) k(run_ts)
            JOIN enriched ON enriched.ts BETWEEN k.run_ts - INTERVAL {window} AND k.run_ts
            GROUP BY k.run_ts
            """
        ).fetchall()
        empty = self._row([0, 0, 0] + [0] * len(self.routes))
        found = {ts: self._row(rest) for ts, *rest in rows}
        return {t: found.get(t, empty) for t in run_ts}

    def close(self) -> None:
        self.con.close()


def count_mismatches(
    got: Mapping[str, int], want: Mapping[str, int], what: str
) -> list[str]:
    """Every route whose count differs; zero counts equal a missing route."""
    keys = set(got) | set(want)
    return [
        f"{what} {k}: got {got.get(k, 0)}, want {want.get(k, 0)}"
        for k in sorted(keys)
        if got.get(k, 0) != want.get(k, 0)
    ]


def _data_files(part_dir: str) -> list[str]:
    out = []
    for root, _dirs, files in os.walk(part_dir):
        out.extend(
            os.path.join(root, f) for f in files if f.startswith("part-")
        )
    return sorted(out)


def _count_lines(path: str, opener, prefix: bytes | None = None) -> int:
    n = 0
    with opener(path, "rb") as f:
        for line in f:
            if prefix is None or line.startswith(prefix):
                n += 1
    return n


def read_back(sink: str, safe_run_ts: str, sink_format: str) -> tuple[int, int, int]:
    """(rows, bytes, files) of one route's run_ts partition as written."""
    files = _data_files(os.path.join(sink, f"run_ts={safe_run_ts}"))
    rows = 0
    for path in files:
        if sink_format == "parquet":
            rows += pq.read_metadata(path).num_rows
        elif sink_format in ("json", "log"):
            rows += _count_lines(path, gzip.open)
        elif sink_format == "yaml":
            # each record is one list item: "- <first field>: ..." then
            # indented continuation lines
            rows += _count_lines(path, open, prefix=b"- ")
        else:
            raise ValueError(f"unknown sink format {sink_format!r}")
    return rows, sum(os.path.getsize(p) for p in files), len(files)


def snapshot(root: str) -> dict[str, tuple[int, int]]:
    """Every file under `root` with its size and mtime, for no-new-files checks."""
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            st = os.stat(os.path.join(dirpath, f))
            out[os.path.join(dirpath, f)] = (st.st_size, st.st_mtime_ns)
    return out
