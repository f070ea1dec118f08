"""Tests of the benchmark's own logic (no Spark needed):

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import model as M  # noqa: E402


# -- percentile rule -----------------------------------------------------------
def test_percentile_is_nearest_rank():
    values = [float(v) for v in range(1, 11)]  # 1..10
    assert M.percentile(values, 50) == 5.0
    assert M.percentile(values, 80) == 8.0
    assert M.percentile(values, 90) == 9.0
    assert M.percentile(values, 100) == 10.0
    assert M.percentile([3.0], 80) == 3.0
    with pytest.raises(ValueError):
        M.percentile([], 50)


def test_supported_percentile_keeps_ten_samples_beyond():
    assert M.supported_percentile(10) is None
    for n in (11, 20, 60, 61, 137):
        q = M.supported_percentile(n)
        assert M.samples_beyond(n, q) >= 10
        # any higher percentile would leave fewer than ten beyond
        assert M.samples_beyond(n, q + 100.0 / n) < 10
    assert M.supported_percentile(60) == pytest.approx(100 * 50 / 60)
    # p80 needs at least 50 samples for ten beyond it
    assert M.samples_beyond(50, 80) == 10
    assert M.samples_beyond(49, 80) < 10


def test_median():
    assert M.median([3.0, 1.0, 2.0]) == 2.0
    assert M.median([4.0, 1.0, 3.0, 2.0]) == 2.5


# -- generator determinism -------------------------------------------------------
def _script(seed: int):
    g = M.ChangeGenerator(seed)
    snap = g.snapshot(40)
    seeding = g.seeding_commits(snap)
    commits = [g.commit(5, ("novels",)), g.alter("novels"), g.commit(200)]
    return snap, seeding, commits, g.model.rows, g.model.counts


def test_generator_is_deterministic_per_seed():
    assert _script(7) == _script(7)
    assert _script(7) != _script(8)


def test_generator_changes_replay_to_its_model():
    g = M.ChangeGenerator(3)
    snap = g.snapshot(50)
    replay = M.SourceModel()
    for t, rows in snap.items():
        replay.load(t, rows)
    for _ in range(40):
        changes = g.alter("accounts") if _ % 13 == 0 else g.commit(25)
        for c in changes:
            replay.apply(c)
    assert replay.rows == g.model.rows
    assert replay.columns == g.model.columns
    assert replay.counts == g.model.counts
    ops = {op for t in M.TABLES for op in g.model.counts[t]}
    assert {"insert", "update", "delete", "alter-table"} <= ops


def test_generator_produces_key_changes_and_reinserts():
    g = M.ChangeGenerator(11)
    g.snapshot(30)
    changes = [c for _ in range(100) for c in g.commit(10, ("novels",))]
    pk = M.PK["novels"]
    moved = [c for c in changes if c["op"] == "update" and c["data"][pk] != c["before"][pk]]
    deleted_then_inserted = {
        c["data"][pk] for c in changes if c["op"] == "delete"
    } & {c["data"][pk] for c in changes if c["op"] == "insert"}
    assert moved and deleted_then_inserted


# -- expected-state model on a hand sequence ---------------------------------------
def _ins(k, title, txn="t"):
    return {"table": "novels", "op": "insert", "txn_id": txn,
            "data": {"novel_id": str(k), "title": title, "author_id": "1"}}


def test_model_hand_sequence():
    m = M.SourceModel()
    m.load("novels", [{"novel_id": "1", "title": "a", "author_id": "1"}])
    m.apply(_ins(2, "b"))
    # a primary-key-changing update moves the row from key 2 to key 9
    m.apply({"table": "novels", "op": "update", "txn_id": "t",
             "before": {"novel_id": "2", "title": "b", "author_id": "1"},
             "data": {"novel_id": "9", "title": "b2", "author_id": "1"}})
    assert set(m.rows["novels"]) == {1, 9}
    assert m.rows["novels"][9]["title"] == "b2"
    # delete, then re-insert the same key with new contents
    m.apply({"table": "novels", "op": "delete", "txn_id": "t",
             "before": {"novel_id": "1", "title": "a", "author_id": "1"},
             "data": {"novel_id": "1", "title": "a", "author_id": "1"}})
    assert 1 not in m.rows["novels"]
    m.apply(_ins(1, "again"))
    assert m.rows["novels"][1]["title"] == "again"
    # add-column: rows present get the default, later rows carry their value
    m.apply({"table": "novels", "op": "alter-table", "txn_id": "t",
             "ddl": {"action": "add-column", "column": "ext_1", "type": "int", "default": "5"}})
    assert m.columns["novels"][-1] == "ext_1"
    assert m.rows["novels"][1]["ext_1"] == "5" and m.rows["novels"][9]["ext_1"] == "5"
    m.apply({**_ins(4, "d"), "data": {**_ins(4, "d")["data"], "ext_1": "8"}})
    m.apply(_ins(5, "e"))  # omits the column: the default applies
    assert m.rows["novels"][4]["ext_1"] == "8"
    assert m.rows["novels"][5]["ext_1"] == "5"
    assert m.rows["novels"][5]["isbn"] is None
    assert m.expected_statistics("novels", full_load=True, cdc=True) == {
        "FullLoadRows": 1, "Inserts": 4, "Updates": 1, "Deletes": 1, "Ddls": 3,
    }
    assert m.expected_statistics("novels", full_load=False, cdc=True)["Ddls"] == 1
    assert m.expected_statistics("novels", full_load=True, cdc=False) == {
        "FullLoadRows": 1, "Inserts": 0, "Updates": 0, "Deletes": 0, "Ddls": 2,
    }


def test_model_rejects_impossible_changes():
    m = M.SourceModel()
    m.apply(_ins(1, "a"))
    with pytest.raises(ValueError):
        m.apply(_ins(1, "dup"))
    m.apply(_ins(2, "b"))
    with pytest.raises(ValueError):  # moving onto a live key
        m.apply({"table": "novels", "op": "update", "txn_id": "t",
                 "before": {"novel_id": "1"}, "data": {"novel_id": "2"}})


def test_join_count_and_expected_envelopes():
    m = M.SourceModel()
    m.load("authors", [{"author_id": "1"}, {"author_id": "2"}])
    m.load("novels", [
        {"novel_id": "1", "author_id": "1"},
        {"novel_id": "2", "author_id": "3"},
        {"novel_id": "3", "author_id": "2"},
    ])
    assert m.join_count() == 2
    env = M.expected_envelopes(
        [_ins(1, "a", "txn-1-4"), _ins(1, "a", "txn-1-4"),
         {"table": "novels", "op": "alter-table", "txn_id": "txn-1-5", "ddl": {}}]
    )
    assert env == {("txn-1-4", "insert", "novels", "1"): 2,
                   ("txn-1-5", "alter-table", "novels", None): 1}
    assert M.txn_number("txn-1-5") == 5


# -- freshness bookkeeping under a fake clock ----------------------------------------
class FakeClock:
    def __init__(self) -> None:
        self.t = 100.0

    def __call__(self) -> float:
        return self.t


def test_freshness_bookkeeping_with_fake_clock():
    clock = FakeClock()
    book = M.FreshnessBook()
    book.committed("a", due=101.0, n_envelopes=2)
    book.committed("b", due=102.0, n_envelopes=1)
    assert book.backlog() == 2 and book.backlog_max == 2
    clock.t = 103.5
    book.seen("a", clock())  # first of two envelopes: not yet visible
    book.seen("control-event", clock())  # not a generator commit: ignored
    assert "a" not in book.visible and book.backlog() == 2
    clock.t = 107.0
    book.seen("a", clock())
    book.note_backlog()
    assert book.visible["a"] == 107.0
    assert book.freshness() == [6.0]
    assert book.missing() == ["b"] and not book.all_visible()
    clock.t = 110.0
    book.seen("b", clock())
    assert book.all_visible()
    assert book.freshness() == [6.0, 8.0]  # in commit order
    assert book.backlog_max == 2


# -- consumer ----------------------------------------------------------------------
class FakeIterator:
    """A shard whose records arrive with the parquet file named after them."""

    def __init__(self, records_dir: str, clock: FakeClock) -> None:
        self.records_dir = records_dir
        self.clock = clock
        self.pending: list[dict] = []
        self.calls = 0

    def publish(self, name: str, txns: list[str]) -> None:
        self.pending += [
            {"SequenceNumber": len(self.pending) + i,
             "Data": {"data": {}, "metadata": {"transaction-id": t, "operation": "insert",
                                               "table-name": "novels"}}}
            for i, t in enumerate(txns)
        ]
        open(os.path.join(self.records_dir, name), "w").close()

    def get_records(self, limit=None):
        self.calls += 1
        self.clock.t += 0.5  # a read takes time: the commit is seen when it returns
        out, self.pending = self.pending, []
        return out


def test_consumer_polls_on_new_record_files_and_stamps_on_return(tmp_path):
    import workload as W

    records = tmp_path / "records"
    records.mkdir()
    clock = FakeClock()
    book = M.FreshnessBook()
    shard = FakeIterator(str(records), clock)
    engine = type("E", (), {
        "store": type("S", (), {"path": str(tmp_path)})(),
        "get_shard_iterator": lambda self, s: shard,
    })()
    c = W.Consumer(engine, 1, book, clock)
    assert not c._new_files() and shard.calls == 0  # nothing new: no read
    book.committed("a", due=100.0, n_envelopes=2)
    shard.publish("part-0.parquet", ["a", "a"])
    (records / "_SUCCESS").touch()  # not a record file
    assert c._new_files()
    c.poll()
    assert book.visible["a"] == 100.5 and book.freshness() == [0.5]
    assert not c._new_files()  # the same files again: no new poll
    assert c.count(lambda r: r["txn"] == "a") == 2
