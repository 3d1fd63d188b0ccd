"""Seeded CRUD traffic for the ``crud_mixed`` workload.

Operations come in cycles of 20 with the exact op mix, in a seeded
order. The generator keeps a shadow copy of the ``movie`` table and draws
every key from it: GET, PUT and DELETE target a live key, POST a key
that is absent, so every operation the generator emits is expected to
succeed. Each operation carries the response the shadow predicts; the
generator applies the operation to the shadow when it emits it, so the
op stream depends on the seed alone, never on what the engine returns.
"""

from __future__ import annotations

import json
import random
from dataclasses import dataclass
from typing import Any

MOVIE = {
    "model_name": "movie",
    "attributes": {
        "id": "Integer",
        "name": "String",
        "year": "Integer",
        "actors": ["String"],
        "recommended": "Boolean",
    },
    "primary_key": "id",
    "required": ["id"],
}
FIELDS = list(MOVIE["attributes"])
SEED_RECORDS = 20_000
KEY_SPACE = 2 * SEED_RECORDS  # seeded keys are a random half of it
#: one cycle of the op mix: 60% GET, 10% GraphQL, 10% POST, 15% PUT and
#: 5% DELETE, in a seeded shuffled order per cycle
CYCLE = ("get",) * 12 + ("graphql",) * 2 + ("post",) * 2 + ("put",) * 3 + (
    "delete",)
WRITES = ("post", "put", "delete")
ACTORS = [f"actor{i}" for i in range(50)]
PATCHABLE = ("name", "year", "actors", "recommended")


@dataclass
class Op:
    kind: str
    method: str
    uri: str
    body: str | None
    #: the payload the shadow predicts under "data"
    expected: Any


def random_record(rng: random.Random, key: int) -> dict:
    return {
        "id": key,
        "name": f"movie {key} {rng.randrange(1000)}",
        "year": rng.randrange(1950, 2025),
        "actors": rng.sample(ACTORS, rng.randrange(0, 4)),
        "recommended": rng.random() < 0.5,
    }


class CrudGenerator:
    """Op stream plus shadow table for one seed."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        keys = self.rng.sample(range(KEY_SPACE), SEED_RECORDS)
        self.shadow = {k: random_record(self.rng, k) for k in keys}
        self._live = list(keys)
        self._slot = {k: i for i, k in enumerate(self._live)}
        self._free = sorted(set(range(KEY_SPACE)) - self._slot.keys())

    def seed_records(self) -> list[dict]:
        """The table's initial contents, in a stable order."""
        return [self.shadow[k] for k in sorted(self.shadow)]

    # -- live-key set with O(1) random pick and removal -----------------
    def _pick_live(self) -> int:
        return self._live[self.rng.randrange(len(self._live))]

    def _add(self, key: int) -> None:
        self._slot[key] = len(self._live)
        self._live.append(key)

    def _remove(self, key: int) -> None:
        i = self._slot.pop(key)
        last = self._live.pop()
        if last != key:
            self._live[i] = last
            self._slot[last] = i

    # -- ops -------------------------------------------------------------
    def cycle(self) -> list[str]:
        """The op kinds of the next cycle, in order."""
        kinds = list(CYCLE)
        self.rng.shuffle(kinds)
        return kinds

    def op(self, kind: str) -> Op:
        """The next op of the given kind."""
        return getattr(self, f"_{kind}")()

    def _get(self) -> Op:
        key = self._pick_live()
        return Op("get", "GET", f"/api/rest/movie/{key}", None,
                  dict(self.shadow[key]))

    def _graphql(self) -> Op:
        year = self.shadow[self._pick_live()]["year"]
        rows = sorted(
            (r for r in self.shadow.values() if r["year"] == year),
            key=lambda r: r["id"],
        )[:10]
        query = (
            f"{{ movies(year: {year}, limit: 10) "
            f"{{ {' '.join(FIELDS)} }} }}"
        )
        return Op("graphql", "POST", "/api/graphql",
                  json.dumps({"query": query}),
                  {"movies": [dict(r) for r in rows]})

    def _post(self) -> Op:
        key = self._free.pop(self.rng.randrange(len(self._free)))
        record = random_record(self.rng, key)
        self.shadow[key] = record
        self._add(key)
        return Op("post", "POST", "/api/rest/movie", json.dumps(record),
                  dict(record))

    def _put(self) -> Op:
        key = self._pick_live()
        fresh = random_record(self.rng, key)
        attrs = self.rng.sample(PATCHABLE, self.rng.randrange(1, 3))
        patch = {a: fresh[a] for a in attrs}
        self.shadow[key] = {**self.shadow[key], **patch}
        return Op("put", "PUT", f"/api/rest/movie/{key}", json.dumps(patch),
                  dict(self.shadow[key]))

    def _delete(self) -> Op:
        key = self._pick_live()
        record = self.shadow.pop(key)
        self._remove(key)
        self._free.append(key)
        return Op("delete", "DELETE", f"/api/rest/movie/{key}", None, record)


def _canon(record: dict) -> dict:
    return {f: record.get(f) for f in FIELDS}


def response_ok(op: Op, status: int, payload: dict) -> bool:
    """True iff the engine's response equals the shadow's prediction."""
    if status not in (200, 201) or "data" not in payload:
        return False
    data = payload["data"]
    if op.kind == "graphql":
        got = data.get("movies") if isinstance(data, dict) else None
        return got is not None and [_canon(r) for r in got] == [
            _canon(r) for r in op.expected["movies"]
        ]
    return _canon(data) == _canon(op.expected)
