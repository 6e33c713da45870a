"""Seeded change-feed generator, independent of the engine.

Events describe files of source repositories, keyed by ``(repo, path)``:
``seq`` (a unique, increasing log position), ``op`` (``upsert`` or
``delete``), ``repo``, ``path``, ``commit``, ``lang``, ``content``,
``event_ts`` and ``delivery_batch``. One repository (``repo_0000``, the
monorepo) owns about 30% of the keys and about 5% of events are deletes,
which carry no content. Everything comes from one ``numpy`` generator
seeded by the caller, so the same seed writes byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

N_REPOS = 50
HOT_KEY_FRAC = 0.30
DELETE_FRAC = 0.05
LANGS = {
    "py": "python", "scala": "scala", "java": "java", "ts": "typescript",
    "rs": "rust", "go": "go", "md": "markdown", "json": "json",
}
_EXTS = list(LANGS)
_TS0 = 1_700_000_000

SCHEMA = pa.schema([
    ("seq", pa.int64()),
    ("op", pa.string()),
    ("repo", pa.string()),
    ("path", pa.string()),
    ("commit", pa.string()),
    ("lang", pa.string()),
    ("content", pa.string()),
    ("event_ts", pa.timestamp("us", tz="UTC")),
    ("delivery_batch", pa.int32()),
])


class KeySpace:
    """``n_keys`` keys with a seeded repository, path and language each."""

    def __init__(self, rng: np.random.Generator, n_keys: int):
        self.n_keys = n_keys
        hot = rng.random(n_keys) < HOT_KEY_FRAC
        repo_id = np.where(hot, 0, rng.integers(1, N_REPOS, n_keys))
        ext = rng.integers(0, len(_EXTS), n_keys)
        dirs = rng.integers(0, 97, n_keys)
        self.repo = pa.array([f"repo_{r:04d}" for r in repo_id])
        self.path = pa.array(
            [f"src/d{d}/f_{k}.{_EXTS[e]}" for k, (d, e) in enumerate(zip(dirs, ext))]
        )
        self.lang = pa.array([LANGS[_EXTS[e]] for e in ext])
        self.hot_keys = np.flatnonzero(hot)

    def key(self, k: int) -> tuple[str, str]:
        return self.repo[k].as_py(), self.path[k].as_py()


def _str(a) -> pa.Array:
    return pc.cast(pa.array(a), pa.string())


def make_events(
    rng: np.random.Generator,
    keys: KeySpace,
    n_events: int,
    first_seq: int = 1,
    n_delivery_batches: int = 1,
) -> pa.Table:
    """``n_events`` events with seqs ``first_seq ..``, keys drawn uniformly
    from ``keys``. With ``n_delivery_batches > 1`` each event is assigned
    a random delivery batch, so every batch carries seqs from the whole
    range (out-of-order delivery)."""
    k = rng.integers(0, keys.n_keys, n_events)
    is_del = rng.random(n_events) < DELETE_FRAC
    repeats = rng.integers(1, 17, n_events)
    salt = rng.integers(0, 1_000_003, n_events)
    commits = np.frombuffer(rng.bytes(20 * n_events).hex().encode(), dtype="S40")
    seq = np.arange(first_seq, first_seq + n_events, dtype=np.int64)
    seq_s = _str(seq)
    head = pc.binary_join_element_wise("def fn_", _str(k), "():  # v", seq_s, "\n", "")
    line = pc.binary_join_element_wise(
        "    x_", _str(salt), " = compute(seed) + ", seq_s, "\n", "")
    content = pc.binary_join_element_wise(head, pc.binary_repeat(line, repeats), "")
    return pa.table(
        {
            "seq": seq,
            "op": pc.if_else(is_del, "delete", "upsert"),
            "repo": keys.repo.take(k),
            "path": keys.path.take(k),
            "commit": pc.cast(pa.array(commits, pa.binary(40)), pa.string()),
            "lang": keys.lang.take(k),
            "content": pc.if_else(is_del, pa.scalar(None, pa.string()), content),
            "event_ts": pa.array((_TS0 + seq) * 1_000_000, pa.int64()).cast(
                pa.timestamp("us", tz="UTC")
            ),
            "delivery_batch": rng.integers(0, n_delivery_batches, n_events).astype(np.int32),
        },
        schema=SCHEMA,
    )


def write_feed(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return path
