"""The benchmark's own reference computation (DuckDB over the generated
feed files) and the checks that compare the engine's outputs with it.

The expected state at log position ``S`` is, per ``(repo, path)``, the
event with the greatest ``(seq, commit)`` among events with ``seq <= S``,
kept only when it is not a delete. Rows are compared as
``(repo, path, commit, lang, sha256(content))``.
"""

from __future__ import annotations

import hashlib

import duckdb


class CheckFailed(Exception):
    """An engine output disagreed with the oracle."""


def content_hash(content: str | None) -> str | None:
    return None if content is None else hashlib.sha256(content.encode()).hexdigest()


def digest(rows) -> tuple[int, str]:
    """Row count and an order-insensitive digest: the sum, modulo 2**128,
    of a sha256 prefix of each row."""
    total = 0
    n = 0
    for r in rows:
        h = hashlib.sha256("\x1f".join("" if v is None else str(v) for v in r).encode())
        total = (total + int.from_bytes(h.digest()[:16], "big")) % (1 << 128)
        n += 1
    return n, f"{total:032x}"


class Oracle:
    """DuckDB views over the feed parquet files the engine ingested."""

    def __init__(self, feed_paths: list[str]):
        self.con = duckdb.connect()
        self.con.execute("SET threads = 2")
        files = ", ".join("'" + p.replace("'", "''") + "'" for p in feed_paths)
        self.con.execute(f"CREATE VIEW feed AS SELECT * FROM read_parquet([{files}])")

    def close(self) -> None:
        self.con.close()

    def n_events(self) -> int:
        return self.con.execute("SELECT count(*) FROM feed").fetchone()[0]

    def _latest(self, seq_max: int, where: str = "TRUE") -> str:
        return (
            "SELECT * FROM ("
            "  SELECT *, row_number() OVER ("
            "    PARTITION BY repo, path ORDER BY seq DESC, commit DESC) AS rn"
            f"  FROM feed WHERE seq <= {int(seq_max)} AND ({where})"
            ") WHERE rn = 1 AND op <> 'delete'"
        )

    def state(self, seq_max: int) -> list[tuple]:
        return self.con.execute(
            "SELECT repo, path, commit, lang, sha256(content) FROM ("
            + self._latest(seq_max) + ")"
        ).fetchall()

    def rows_for_keys(self, seq_max: int, keys: list[tuple[str, str]]) -> dict:
        """``{(repo, path): row}`` for the keys live at ``seq_max``."""
        if not keys:
            return {}
        self.con.execute("CREATE OR REPLACE TEMP TABLE probe (repo VARCHAR, path VARCHAR)")
        self.con.executemany("INSERT INTO probe VALUES (?, ?)", keys)
        got = self.con.execute(
            "SELECT repo, path, commit, lang, sha256(content) FROM ("
            + self._latest(seq_max, "(repo, path) IN (SELECT (repo, path) FROM probe)")
            + ")"
        ).fetchall()
        return {(r[0], r[1]): r for r in got}

    def view(self, seq_max: int) -> dict[str, tuple[int, int]]:
        """Per-``lang`` live row count and content bytes at ``seq_max``."""
        got = self.con.execute(
            "SELECT lang, count(*), sum(strlen(content)) FROM ("
            + self._latest(seq_max) + ") GROUP BY lang"
        ).fetchall()
        return {lang: (int(n), int(b or 0)) for lang, n, b in got}


def check_state(got_rows, want_rows, what: str) -> None:
    got, want = digest(got_rows), digest(want_rows)
    if got[0] != want[0]:
        raise CheckFailed(f"{what}: {got[0]} rows, oracle has {want[0]}")
    if got[1] != want[1]:
        raise CheckFailed(f"{what}: row digest {got[1]} != oracle {want[1]}")


def check_lookup(got_rows, want: dict, keys, what: str) -> None:
    """``got_rows``: the engine's rows for ``keys``; ``want``: the oracle's
    live rows among them. Deleted and absent keys must return nothing."""
    seen: dict = {}
    wanted = set(keys)
    for r in got_rows:
        k = (r[0], r[1])
        if k not in wanted:
            raise CheckFailed(f"{what}: returned unrequested key {k}")
        if k in seen:
            raise CheckFailed(f"{what}: key {k} returned twice")
        seen[k] = tuple(r)
    for k in keys:
        if seen.get(k) != (tuple(want[k]) if k in want else None):
            raise CheckFailed(
                f"{what}: key {k} returned {seen.get(k)}, oracle has {want.get(k)}"
            )


def check_view(got: dict, want: dict, what: str) -> None:
    if got != want:
        raise CheckFailed(f"{what}: view {sorted(got.items())} != oracle {sorted(want.items())}")
