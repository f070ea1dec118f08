"""Seeded change generator, the generator's own model of source state, and
the pure bookkeeping the benchmark reports from (percentiles, freshness).

Nothing here imports Spark: the generator only produces feed-shaped change
dicts (``sources/changefeed.py`` shape, all values strings) and snapshot
rows, and the model replays every change it hands out so the benchmark can
check the engine's final state, envelopes and statistics against it.
"""

from __future__ import annotations

import math
import random
from collections import Counter

DB = "testdb"

# Primary key and base columns per table: the reference data model of
# fixtures.py (authors, accounts, novels), column for column.
PK = {"authors": "author_id", "accounts": "id", "novels": "novel_id"}
COLUMNS = {
    "authors": [
        "author_id", "first_name", "last_name", "date_of_birth", "nationality",
        "biography", "email", "phone_number", "active", "created_at",
    ],
    "accounts": [
        "id", "name", "age", "birth_date", "account_balance", "is_active",
        "signup_time", "last_login", "bio", "profile_picture",
        "favorite_color", "height", "weight",
    ],
    "novels": [
        "novel_id", "title", "author_id", "publish_date", "isbn", "genre",
        "page_count", "publisher", "language", "available_copies",
        "total_copies", "created_at",
    ],
}
TABLES = tuple(COLUMNS)

_WORDS = (
    "amber", "birch", "cedar", "delta", "ember", "fjord", "grove", "harbor",
    "iris", "juniper", "kestrel", "lumen", "meadow", "north", "opal", "prairie",
)
_GENRES = ("Adventure", "Science Fiction", "Mystery", "Romance", "History")
_COLORS = ("red", "green", "blue", "teal", "amber")


def _date(rng: random.Random) -> str:
    return f"{rng.randint(1950, 2005)}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"


def _ts(rng: random.Random) -> str:
    return (
        f"{rng.randint(2015, 2024)}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d} "
        f"{rng.randint(0, 23):02d}:{rng.randint(0, 59):02d}:{rng.randint(0, 59):02d}"
    )


def _word(rng: random.Random) -> str:
    return rng.choice(_WORDS).capitalize()


class KeySet:
    """Keys with O(1) add, remove and uniform random choice."""

    def __init__(self) -> None:
        self._items: list[int] = []
        self._pos: dict[int, int] = {}

    def __len__(self) -> int:
        return len(self._items)

    def add(self, k: int) -> None:
        if k not in self._pos:
            self._pos[k] = len(self._items)
            self._items.append(k)

    def remove(self, k: int) -> None:
        i = self._pos.pop(k)
        last = self._items.pop()
        if i < len(self._items):
            self._items[i] = last
            self._pos[last] = i

    def choice(self, rng: random.Random) -> int:
        return self._items[rng.randrange(len(self._items))]


class SourceModel:
    """The source tables as the generator has committed them: rows keyed by
    integer primary key (values are the feed's strings, ``None`` for SQL
    NULL), the evolving column list, defaults of added columns, and the
    per-table operation counts ``describe_table_statistics`` must report."""

    def __init__(self) -> None:
        self.rows: dict[str, dict[int, dict[str, str | None]]] = {t: {} for t in TABLES}
        self.columns: dict[str, list[str]] = {t: list(c) for t, c in COLUMNS.items()}
        self.defaults: dict[str, dict[str, str]] = {t: {} for t in TABLES}
        self.counts: dict[str, Counter] = {t: Counter() for t in TABLES}

    def _image(self, table: str, data: dict[str, str]) -> dict[str, str | None]:
        return {
            c: data.get(c, self.defaults[table].get(c)) for c in self.columns[table]
        }

    def load(self, table: str, rows: list[dict[str, str]]) -> None:
        for r in rows:
            self.rows[table][int(r[PK[table]])] = self._image(table, r)
        self.counts[table]["load"] += len(rows)

    def apply(self, change: dict) -> None:
        """Replay one feed change with source-database semantics."""
        table, op = change["table"], change["op"]
        pk = PK[table]
        rows = self.rows[table]
        if op == "insert":
            k = int(change["data"][pk])
            if k in rows:
                raise ValueError(f"{table}: insert of existing key {k}")
            rows[k] = self._image(table, change["data"])
        elif op == "update":
            old, new = int(change["before"][pk]), int(change["data"][pk])
            if old not in rows or (new != old and new in rows):
                raise ValueError(f"{table}: update {old}->{new} violates the key")
            del rows[old]
            rows[new] = self._image(table, change["data"])
        elif op == "delete":
            del rows[int(change["before"][pk])]
        elif op == "alter-table":
            ddl = change["ddl"]
            if ddl["action"] != "add-column":
                raise ValueError(f"unsupported DDL {ddl['action']!r}")
            col, default = ddl["column"], ddl.get("default")
            if col not in self.columns[table]:
                self.columns[table].append(col)
            if default is not None:
                self.defaults[table][col] = default
            for r in rows.values():
                r.setdefault(col, default)
        else:
            raise ValueError(f"unknown op {op!r}")
        self.counts[table][op] += 1

    def expected_statistics(self, table: str, full_load: bool, cdc: bool) -> dict[str, int]:
        """The ``describe_table_statistics`` counters one task reports for a
        table: a full load contributes its rows and its drop-table +
        create-table control events, CDC every committed change."""
        c = self.counts[table]
        return {
            "FullLoadRows": c["load"] if full_load else 0,
            "Inserts": c["insert"] if cdc else 0,
            "Updates": c["update"] if cdc else 0,
            "Deletes": c["delete"] if cdc else 0,
            "Ddls": (c["alter-table"] if cdc else 0) + (2 if full_load else 0),
        }

    def join_count(self) -> int:
        """Rows of novels ⋈ authors on author_id."""
        authors = self.rows["authors"]
        return sum(
            1
            for r in self.rows["novels"].values()
            if r["author_id"] is not None and int(r["author_id"]) in authors
        )


# change mix: insert / update / delete shares; the share of updates that
# move a row to a fresh key; the share of inserts that revive a deleted key
MIX = (0.35, 0.45, 0.20)
PK_CHANGE = 0.05
REINSERT = 0.25


class ChangeGenerator:
    """Deterministic source workload: the same seed gives the same snapshot
    rows and the same sequence of commits. Every change it returns has
    already been replayed into ``self.model``, so after the last commit the
    model is the state the engine must converge to."""

    def __init__(self, seed: int) -> None:
        self.seed = seed
        self.rng = random.Random(seed)
        self.model = SourceModel()
        self.live = {t: KeySet() for t in TABLES}
        self.deleted = {t: KeySet() for t in TABLES}
        self.next_id = dict.fromkeys(TABLES, 1)
        self.txn_no = 0
        self.ddl_no = 0

    # -- row images ------------------------------------------------------
    def _row(self, table: str, k: int) -> dict[str, str]:
        rng = self.rng
        if table == "authors":
            first, last = _word(rng), _word(rng)
            r = {
                "author_id": str(k), "first_name": first, "last_name": last,
                "date_of_birth": _date(rng), "nationality": rng.choice(_WORDS),
                "biography": f"Biography of {first} {last}.",
                "email": f"{first.lower()}.{k}@example.com",
                "phone_number": f"{rng.randint(100, 999)}-{rng.randint(1000, 9999)}",
                "active": rng.choice(("true", "false")), "created_at": _ts(rng),
            }
        elif table == "accounts":
            r = {
                "id": str(k), "name": _word(rng), "age": str(rng.randint(18, 90)),
                "birth_date": _date(rng),
                "account_balance": f"{rng.randint(0, 999999)}.{rng.randint(0, 99):02d}",
                "is_active": rng.choice(("true", "false")),
                "signup_time": _ts(rng), "last_login": _ts(rng),
                "bio": f"Bio {rng.randint(0, 10**6)}",
                "favorite_color": rng.choice(_COLORS),
                "height": repr(rng.randint(5, 9) * 0.25),
                "weight": repr(rng.randint(80, 240) * 0.5),
            }
        else:
            authors = self.live["authors"]
            total = rng.randint(1, 50)
            r = {
                "novel_id": str(k), "title": f"{_word(rng)} {_word(rng)}",
                "author_id": str(authors.choice(rng) if len(authors) else 1),
                "publish_date": _date(rng),
                "isbn": f"978-{rng.randint(0, 9)}-{rng.randint(10, 99)}-{rng.randint(100000, 999999)}-0",
                "genre": rng.choice(_GENRES), "page_count": str(rng.randint(80, 900)),
                "publisher": f"{_word(rng)} Press", "language": "English",
                "available_copies": str(rng.randint(0, total)),
                "total_copies": str(total), "created_at": _ts(rng),
            }
        # added columns carry a value in every after-image written since
        for col in self.model.columns[table][len(COLUMNS[table]):]:
            r[col] = str(rng.randint(0, 1000))
        return r

    def _fresh_key(self, table: str) -> int:
        k = self.next_id[table]
        self.next_id[table] += 1
        return k

    # -- snapshot ----------------------------------------------------------
    def snapshot(self, rows_per_table: int) -> dict[str, list[dict[str, str]]]:
        """Initial source tables (authors first, so novels reference them)."""
        out = {}
        for t in TABLES:
            rows = [self._row(t, self._fresh_key(t)) for _ in range(rows_per_table)]
            for r in rows:
                self.live[t].add(int(r[PK[t]]))
            self.model.load(t, rows)
            out[t] = rows
        return out

    def seeding_commits(
        self, snapshot: dict[str, list[dict[str, str]]], tables: tuple[str, ...] = TABLES
    ) -> list[list[dict]]:
        """The snapshot rows of ``tables`` as insert transactions, one per
        table: the source's seeding as a CDC task captures it from the log.
        The rows are already in the model; only the insert counts grow."""
        out = []
        for t in tables:
            self.txn_no += 1
            txn = f"txn-{self.seed}-{self.txn_no}"
            out.append([self._envelope(t, "insert", txn, data=dict(r)) for r in snapshot[t]])
            self.model.counts[t]["insert"] += len(snapshot[t])
        return out

    # -- commits -------------------------------------------------------------
    def _envelope(self, table: str, op: str, txn: str, **kw) -> dict:
        return {
            "schema": DB, "table": table, "op": op, "txn_id": txn,
            "commit_ts": f"2024-01-01T00:00:{self.txn_no % 60:02d}", **kw,
        }

    def _change(self, table: str, txn: str) -> dict:
        rng, pk = self.rng, PK[table]
        live = self.live[table]
        r = rng.random()
        if len(live) < 2 or r < MIX[0]:
            dead = self.deleted[table]
            if len(dead) and rng.random() < REINSERT:
                k = dead.choice(rng)
                dead.remove(k)
            else:
                k = self._fresh_key(table)
            live.add(k)
            return self._envelope(table, "insert", txn, data=self._row(table, k))
        k = live.choice(rng)
        before = {c: v for c, v in self.model.rows[table][k].items() if v is not None}
        if r < MIX[0] + MIX[1]:
            new_k = k
            if rng.random() < PK_CHANGE:
                new_k = self._fresh_key(table)
                live.remove(k)
                self.deleted[table].add(k)
                live.add(new_k)
            data = self._row(table, new_k)
            data[pk] = str(new_k)
            return self._envelope(table, "update", txn, data=data, before=before)
        live.remove(k)
        self.deleted[table].add(k)
        return self._envelope(table, "delete", txn, data=dict(before), before=before)

    def commit(self, n_changes: int, tables: tuple[str, ...] | None = None) -> list[dict]:
        """One source transaction of ``n_changes`` row changes, each on a
        table drawn from ``tables`` (default: all three)."""
        self.txn_no += 1
        txn = f"txn-{self.seed}-{self.txn_no}"
        tables = tables or TABLES
        changes = []
        for _ in range(n_changes):
            c = self._change(self.rng.choice(tables), txn)
            self.model.apply(c)
            changes.append(c)
        return changes

    def alter(self, table: str) -> list[dict]:
        """One transaction holding an ``alter-table add-column`` (int column
        with a default, so rows written before it read the default)."""
        self.txn_no += 1
        self.ddl_no += 1
        txn = f"txn-{self.seed}-{self.txn_no}"
        change = self._envelope(
            table, "alter-table", txn,
            ddl={"action": "add-column", "column": f"ext_{self.ddl_no}",
                 "type": "int", "default": str(self.ddl_no)},
        )
        self.model.apply(change)
        return [change]


def txn_number(txn_id: str) -> int:
    """Commit order of a generator transaction id."""
    return int(txn_id.rsplit("-", 1)[1])


def expected_envelopes(changes: list[dict]) -> Counter:
    """Multiset of (txn, op, table, pk) the stream must carry for a list of
    committed changes: one envelope per change; DDL envelopes carry no key."""
    out: Counter = Counter()
    for c in changes:
        pk = None
        if c["op"] != "alter-table":
            pk = c["data"][PK[c["table"]]]
        out[(c["txn_id"], c["op"], c["table"], pk)] += 1
    return out


# -- reporting helpers --------------------------------------------------------
def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile: the smallest value with at least ``q`` % of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(s)))
    return s[rank - 1]


def supported_percentile(n: int, beyond: int = 10) -> float | None:
    """The highest percentile that leaves at least ``beyond`` of ``n``
    samples strictly above it (nearest rank), or None when n <= beyond."""
    if n <= beyond:
        return None
    return 100.0 * (n - beyond) / n


def samples_beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie above the nearest-rank ``q`` percentile."""
    return n - max(1, math.ceil(q / 100.0 * n))


def median(values: list[float]) -> float:
    s = sorted(values)
    if not s:
        raise ValueError("median of no samples")
    m = len(s) // 2
    return s[m] if len(s) % 2 else (s[m - 1] + s[m]) / 2


class FreshnessBook:
    """Commit-to-visible bookkeeping. A commit is registered with its due
    time and the number of envelopes it must produce; it becomes visible at
    the consumer poll that delivers its last envelope. Times come from the
    caller's clock, so tests drive it with a fake one."""

    def __init__(self) -> None:
        self.due: dict[str, float] = {}
        self.remaining: dict[str, int] = {}
        self.visible: dict[str, float] = {}
        self.backlog_max = 0

    def committed(self, txn: str, due: float, n_envelopes: int) -> None:
        self.due[txn] = due
        self.remaining[txn] = n_envelopes
        self.backlog_max = max(self.backlog_max, self.backlog())

    def seen(self, txn: str, now: float) -> None:
        """One envelope of ``txn`` delivered at ``now``."""
        left = self.remaining.get(txn)
        if left is None:
            return  # not a generator commit (control events, snapshot rows)
        self.remaining[txn] = left - 1
        if left - 1 == 0:
            self.visible[txn] = now

    def backlog(self) -> int:
        """Commits appended but not yet fully seen by the consumer."""
        return len(self.due) - len(self.visible)

    def note_backlog(self) -> None:
        self.backlog_max = max(self.backlog_max, self.backlog())

    def all_visible(self) -> bool:
        return len(self.visible) == len(self.due)

    def freshness(self) -> list[float]:
        """Due-to-visible seconds of the commits that became visible, in
        commit order."""
        return [self.visible[t] - self.due[t] for t in self.due if t in self.visible]

    def missing(self) -> list[str]:
        return sorted(t for t in self.due if t not in self.visible)
