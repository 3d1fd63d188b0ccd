"""The seeded CRUD generator never emits an op the shadow expects to
fail, and its predictions follow gus's CRUD semantics."""

import json

from perfbench import crud


def _replay(seed: int, cycles: int):
    gen = crud.CrudGenerator(seed)
    table = {r["id"]: dict(r) for r in gen.seed_records()}
    ops = []
    for _ in range(cycles):
        for kind in gen.cycle():
            op = gen.op(kind)
            ops.append(op)
            if kind in ("get", "put", "delete"):
                key = int(op.uri.rsplit("/", 1)[1])
                assert key in table, (kind, key)  # never a missing key
                if kind == "put":
                    table[key].update(json.loads(op.body))
                    assert op.expected == table[key]
                elif kind == "delete":
                    assert op.expected == table.pop(key)
                else:
                    assert op.expected == table[key]
            elif kind == "post":
                record = json.loads(op.body)
                assert record["id"] not in table  # never a duplicate key
                table[record["id"]] = record
                assert op.expected == record
            else:
                year = int(json.loads(op.body)["query"].split("year: ")[1]
                           .split(",")[0])
                want = sorted((r for r in table.values()
                               if r["year"] == year),
                              key=lambda r: r["id"])[:10]
                assert want, "scan of an empty result"
                assert op.expected["movies"] == want
    assert table == gen.shadow
    return ops


def test_generator_never_emits_a_failing_op():
    for seed in range(5):
        _replay(seed, cycles=40)


def test_cycle_has_the_exact_mix():
    gen = crud.CrudGenerator(0)
    kinds = gen.cycle()
    assert len(kinds) == 20
    assert {k: kinds.count(k) for k in set(kinds)} == {
        "get": 12, "graphql": 2, "post": 2, "put": 3, "delete": 1}


def test_same_seed_same_ops():
    a = [(o.method, o.uri, o.body) for o in _replay(7, cycles=5)]
    b = [(o.method, o.uri, o.body) for o in _replay(7, cycles=5)]
    c = [(o.method, o.uri, o.body) for o in _replay(8, cycles=5)]
    assert a == b and a != c


def test_response_check():
    gen = crud.CrudGenerator(1)
    op = gen.op("get")
    data = dict(op.expected)
    assert crud.response_ok(op, 200, {"data": data})
    assert not crud.response_ok(op, 400, {"error": "no movie"})
    assert not crud.response_ok(op, 200, {"data": {**data, "year": -1}})
    op = gen.op("graphql")
    assert crud.response_ok(op, 200, {"data": op.expected})
    assert not crud.response_ok(op, 200, {"data": {"movies": []}})


def test_maintenance_runs_in_the_timed_window():
    from perfbench.workloads import MAINTAIN_EVERY, MIN_CYCLES

    warm = 3  # the warm-up's POST, PUT and DELETE
    per_cycle = sum(kind in crud.WRITES for kind in crud.CYCLE)
    timed = warm + MIN_CYCLES * per_cycle
    assert timed // MAINTAIN_EVERY > warm // MAINTAIN_EVERY
