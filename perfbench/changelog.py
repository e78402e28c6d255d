"""Seeded, linear-time changelog generator for the benchmark's CDC workloads.

Replays the reference's ``gen_data.py`` traffic mix over the engine's own
changelog envelope (``osb.*_SCHEMA``: op, seq, after-image, ``before``):
ticket inserts, scheduled->live->finished status updates, ticket moves
between movies (a group-key-moving update), movie inserts and title edits,
refund deletes and user inserts.

``osb.generate_workload`` rescans every ticket for each update, which is
O(updates x tickets) and unusable at backfill size. Here every random pick
is O(1): tickets live in per-status pools with swap-remove, so an epoch
costs O(rows it emits). Event times derive from the epoch and row index,
never the wall clock, so one seed always gives byte-identical epoch files.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass
from datetime import timedelta
from decimal import Decimal

from flink_cdc_fluss_quickstart_spark.sources import osb

SCHEMAS = {
    "users": osb.USERS_SCHEMA,
    "movies": osb.MOVIES_SCHEMA,
    "tickets": osb.TICKETS_SCHEMA,
}
TABLES = tuple(SCHEMAS)
TITLES = (
    "The Last Horizon", "Midnight Echo", "Silent River", "Neon Harbor",
    "Paper Moons", "Iron Garden", "Glass Tide", "Crimson Atlas",
    "Quiet Storm", "Hollow Crown", "Velvet Road", "Broken Compass",
    "Starlit Alley", "Winter Signal", "Golden Static",
)


@dataclass(frozen=True)
class EpochMix:
    """Rows per table and change kind in one epoch: one second of traffic
    at the reference generator's default SPEED when ``scale`` is 1. Counts
    are fixed (the reference draws 4-10 status updates a second; 7 is their
    mean), so a seed changes which rows change, not how many."""

    ticket_inserts: int = 5
    status_updates: int = 7
    moves: int = 1
    movie_events: int = 1  # alternates movie insert / title edit
    deletes: int = 1
    users: float = 1 / 3  # user inserts per epoch

    def scaled(self, k: int) -> "EpochMix":
        return EpochMix(self.ticket_inserts * k, self.status_updates * k, self.moves * k,
                        self.movie_events * k, self.deletes * k, self.users * k)


class _Pool:
    """A set of ids with O(1) add, remove and uniform choice."""

    def __init__(self) -> None:
        self.ids: list[int] = []
        self.pos: dict[int, int] = {}

    def __len__(self) -> int:
        return len(self.ids)

    def add(self, i: int) -> None:
        self.pos[i] = len(self.ids)
        self.ids.append(i)

    def remove(self, i: int) -> None:
        p = self.pos.pop(i)
        last = self.ids.pop()
        if last != i:
            self.ids[p] = last
            self.pos[last] = p


class ChangelogGenerator:
    """Stateful source of per-table changelog epochs (lists of row dicts in
    the ``osb`` envelope). Rows carry ``before`` images on U and D."""

    def __init__(self, seed: int) -> None:
        self.rng = random.Random(seed)
        self.seq = 0
        self.epoch = 0
        self.n_users = 0
        self.movies: dict[int, dict] = {}
        self.movie_ids: list[int] = []
        self.tickets: dict[int, dict] = {}
        self.by_status = {s: _Pool() for s in osb.STATUSES}
        self.last_ticket = 0

    def _ts(self, i: int):
        return osb.BASE_TS + timedelta(seconds=self.epoch, milliseconds=i)

    def _next_seq(self) -> int:
        self.seq += 1
        return self.seq

    def _user(self, i: int) -> dict:
        self.n_users += 1
        uid = self.n_users
        return {
            "op": "I", "seq": self._next_seq(), "user_id": uid,
            "username": f"user_{uid}_{self.rng.randrange(10000):04d}",
            "email": f"user{uid}@example.com", "full_name": f"User {uid}",
            "created_at": self._ts(i),
        }

    def _movie_insert(self, i: int) -> dict:
        mid = len(self.movie_ids) + 1
        self.movie_ids.append(mid)
        row = {
            "movie_id": mid,
            "title": f"{self.rng.choice(TITLES)} {self.rng.randint(1, 100)}",
            "description": f"Description of movie {mid}",
            "duration_minutes": self.rng.randint(90, 180),
            "start_date": osb.BASE_TS + timedelta(
                days=self.rng.randint(0, 30), hours=self.rng.randint(0, 23),
                minutes=self.rng.choice((0, 30)),
            ),
            "created_at": self._ts(i),
        }
        self.movies[mid] = row
        return {"op": "I", "seq": self._next_seq(), **row}

    def _movie_edit(self) -> dict:
        mid = self.rng.choice(self.movie_ids)
        old = self.movies[mid]
        new = {**old, "title": f"{old['title'].split(' (')[0]} (cut {self.epoch})"}
        self.movies[mid] = new
        return {"op": "U", "seq": self._next_seq(), **new, "before": old}

    def _ticket_insert(self, i: int) -> dict:
        self.last_ticket += 1
        tid = self.last_ticket
        row = {
            "ticket_id": tid,
            "movie_id": self.rng.choice(self.movie_ids),
            "user_id": self.rng.randint(1, self.n_users),
            "cost": Decimal(self.rng.randrange(850, 2501)) / 100,
            "status": self.rng.choices(osb.STATUSES, (70, 20, 10))[0],
            "purchased_at": self._ts(i),
        }
        self.tickets[tid] = row
        self.by_status[row["status"]].add(tid)
        return {"op": "I", "seq": self._next_seq(), **row}

    def _open_ticket(self) -> int | None:
        """A uniformly chosen ticket that is not finished."""
        sched, live = self.by_status["scheduled"], self.by_status["live"]
        n = len(sched) + len(live)
        if not n:
            return None
        r = self.rng.randrange(n)
        return sched.ids[r] if r < len(sched) else live.ids[r - len(sched)]

    def _ticket_update(self, tid: int, **change) -> dict:
        old = self.tickets[tid]
        new = {**old, **change}
        self.tickets[tid] = new
        if new["status"] != old["status"]:
            self.by_status[old["status"]].remove(tid)
            self.by_status[new["status"]].add(tid)
        return {"op": "U", "seq": self._next_seq(), **new, "before": old}

    def _ticket_delete(self) -> dict | None:
        if not self.tickets:
            return None
        pool = self.by_status[self.rng.choice(osb.STATUSES)]
        if not pool:
            return None
        tid = pool.ids[self.rng.randrange(len(pool))]
        old = self.tickets.pop(tid)
        pool.remove(tid)
        return {"op": "D", "seq": self._next_seq(), **old, "before": old}

    def snapshot(self, users: int, movies: int, tickets: int) -> dict[str, list[dict]]:
        """The initial snapshot (insert-only), the reference's
        snapshot-then-stream start."""
        out = {
            "users": [self._user(i) for i in range(users)],
            "movies": [self._movie_insert(i) for i in range(movies)],
        }
        out["tickets"] = [self._ticket_insert(i) for i in range(tickets)]
        self.epoch += 1
        return out

    def next_epoch(self, mix: EpochMix) -> dict[str, list[dict]]:
        out: dict[str, list[dict]] = {t: [] for t in TABLES}
        n_users = int((self.epoch + 1) * mix.users) - int(self.epoch * mix.users)
        out["users"] = [self._user(i) for i in range(n_users)]
        for j in range(mix.movie_events):
            if (self.epoch + j) % 2:
                out["movies"].append(self._movie_edit())
            else:
                out["movies"].append(self._movie_insert(j))
        t = out["tickets"]
        t.extend(self._ticket_insert(i) for i in range(mix.ticket_inserts))
        for _ in range(mix.status_updates):
            tid = self._open_ticket()
            if tid is None:
                break
            nxt = "live" if self.tickets[tid]["status"] == "scheduled" else "finished"
            t.append(self._ticket_update(tid, status=nxt))
        for _ in range(mix.moves):
            tid = self._open_ticket()
            if tid is None or len(self.movie_ids) < 2:
                break
            cur = self.tickets[tid]["movie_id"]
            mid = self.rng.choice(self.movie_ids)
            if mid == cur:
                mid = self.movie_ids[(self.movie_ids.index(cur) + 1) % len(self.movie_ids)]
            t.append(self._ticket_update(tid, movie_id=mid))
        for _ in range(mix.deletes):
            row = self._ticket_delete()
            if row is not None:
                t.append(row)
        self.epoch += 1
        return out


class Publisher:
    """Writes epochs with ``osb.write_epoch`` into a private staging dir and
    renames each file into the bound source dir, so a streaming source
    never lists a half-written file."""

    def __init__(self, root: str) -> None:
        self.source_dirs = {t: os.path.join(root, "source", t) for t in TABLES}
        self.staging = os.path.join(root, "staging")
        for d in (*self.source_dirs.values(), self.staging):
            os.makedirs(d, exist_ok=True)
        self.next_file = {t: 0 for t in TABLES}

    def write(self, epoch: dict[str, list[dict]]) -> list[str]:
        """Write an epoch's non-empty tables to staging; returns pending
        names for ``publish``."""
        pending = []
        for table, rows in epoch.items():
            if not rows:
                continue
            n = self.next_file[table]
            self.next_file[table] = n + 1
            d = os.path.join(self.staging, table)
            os.makedirs(d, exist_ok=True)
            osb.write_epoch(d, n, rows, SCHEMAS[table])
            pending.append((table, f"epoch_{n:04d}.parquet", len(rows)))
        return pending

    def publish(self, pending) -> None:
        for table, name, _ in pending:
            os.replace(
                os.path.join(self.staging, table, name),
                os.path.join(self.source_dirs[table], name),
            )
