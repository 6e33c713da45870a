"""Each benchmark check rejects the fault it exists to catch.

    python3 -m pytest perfbench/test_checks.py -q

No Spark: the oracle runs over a small feed and the "engine output" is
the oracle's own answer, then damaged one way per test.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from perfbench import feed
from perfbench.oracle import (
    CheckFailed,
    Oracle,
    check_lookup,
    check_state,
    check_view,
    content_hash,
)

# key a: upserted, then deleted; key b: two upserts delivered out of order;
# key c: one upsert
_EVENTS = [
    (1, "upsert", "r", "a.py", "c1", "python", "print(1)"),
    (4, "upsert", "r", "b.py", "c4", "python", "print(4)"),
    (2, "delete", "r", "a.py", "c2", "python", None),
    (3, "upsert", "r", "b.py", "c3", "python", "print(3)"),
    (5, "upsert", "r", "c.md", "c5", "markdown", "# five"),
]


@pytest.fixture()
def oracle(tmp_path):
    cols = list(zip(*_EVENTS))
    t = pa.table({
        "seq": pa.array(cols[0], pa.int64()), "op": list(cols[1]), "repo": list(cols[2]),
        "path": list(cols[3]), "commit": list(cols[4]), "lang": list(cols[5]),
        "content": pa.array(cols[6], pa.string()),
    })
    o = Oracle([feed.write_feed(t, str(tmp_path / "feed.parquet"))])
    yield o
    o.close()


def _row(path, commit, lang, content):
    return ("r", path, commit, lang, content_hash(content))


def test_oracle_keeps_latest_live_row(oracle):
    assert sorted(oracle.state(5)) == [
        _row("b.py", "c4", "python", "print(4)"), _row("c.md", "c5", "markdown", "# five"),
    ]
    assert sorted(oracle.state(1)) == [_row("a.py", "c1", "python", "print(1)")]
    assert oracle.view(5) == {"python": (1, 8), "markdown": (1, 6)}
    assert oracle.n_events() == 5


def test_exact_state_passes_in_any_order(oracle):
    check_state(list(reversed(oracle.state(5))), oracle.state(5), "state")


def test_dropped_row_rejected(oracle):
    with pytest.raises(CheckFailed, match="rows"):
        check_state(oracle.state(5)[1:], oracle.state(5), "state")


def test_altered_content_hash_rejected(oracle):
    got = oracle.state(5)
    got[0] = (*got[0][:4], content_hash("tampered"))
    with pytest.raises(CheckFailed, match="digest"):
        check_state(got, oracle.state(5), "state")


def test_resurrected_delete_rejected(oracle):
    stale = _row("a.py", "c1", "python", "print(1)")
    with pytest.raises(CheckFailed):
        check_state(oracle.state(5) + [stale], oracle.state(5), "state")
    keys = [("r", "a.py"), ("r", "b.py"), ("r", "nope.py")]
    want = oracle.rows_for_keys(5, keys)
    assert set(want) == {("r", "b.py")}
    check_lookup([want[("r", "b.py")]], want, keys, "lookup")
    with pytest.raises(CheckFailed, match="a.py"):
        check_lookup([want[("r", "b.py")], stale], want, keys, "lookup")


def test_lookup_stale_or_missing_row_rejected(oracle):
    keys = [("r", "b.py")]
    want = oracle.rows_for_keys(5, keys)
    with pytest.raises(CheckFailed):
        check_lookup([_row("b.py", "c3", "python", "print(3)")], want, keys, "lookup")
    with pytest.raises(CheckFailed):
        check_lookup([], want, keys, "lookup")


def test_wrong_view_sum_rejected(oracle):
    want = oracle.view(5)
    check_view(dict(want), want, "view")
    with pytest.raises(CheckFailed):
        check_view({**want, "python": (1, 9)}, want, "view")
    with pytest.raises(CheckFailed):
        check_view({**want, "python": (2, 8)}, want, "view")


def test_generator_is_seeded():
    def make(seed):
        rng = np.random.default_rng(seed)
        return feed.make_events(rng, feed.KeySpace(rng, 100), 500, n_delivery_batches=4)

    a, b = make(7), make(7)
    assert a.equals(b)
    assert not a.equals(make(8))
    assert a.column("seq").to_pylist() == list(range(1, 501))
    ops = a.column("op").to_pylist()
    assert 0 < ops.count("delete") < 60
    assert all(c is None for c, op in zip(a.column("content").to_pylist(), ops)
               if op == "delete")
