"""Connected components: the driver-side union-find finish must give the
same (node, component) rows, in the same column types, as star rounds
run to their fixpoint (the budget patched to 0), and a star loop that runs
out of rounds must raise instead of returning unconverged stars."""

from __future__ import annotations

import random
import time

import numpy as np
import pytest

from humid_spark.operators import cc


def _reference(edges) -> dict:
    """Sequential union-find: node -> min node of its component, for
    every node of a non-self-loop edge."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        if a == b:
            continue
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def _run(spark, edges, schema, monkeypatch, budget=None):
    if budget is not None:
        monkeypatch.setattr(cc, "DRIVER_EDGE_BUDGET", budget)
    df = spark.createDataFrame(edges, schema)
    track: list = []
    out = cc.connected_components(df, track=track)
    rows = {r["node"]: r["component"] for r in out.collect()}
    types = [f.dataType for f in out.schema.fields]
    for h in track:
        h.unpersist()
    monkeypatch.undo()
    assert len(track) == 1, "exactly one releasable handle per call"
    return rows, types


def _random_graph(rng, n_nodes, n_edges, key):
    return [
        (key(rng.randrange(n_nodes)), key(rng.randrange(n_nodes)))
        for _ in range(n_edges)
    ]


_WORDS = [
    "e", "é", "Z", "z", "ｚ", "😀", "日本", "straße", "strasse", "ÿ",
]


def _graphs():
    rng = random.Random(7)
    big = 1 << 62
    long_graph = _random_graph(
        rng, 120, 150, lambda i: big - 1_000_003 * i if i % 2 else i - big
    )
    # the last pair is a component of its own whose minimum is the
    # fullwidth z in code-point and UTF-8 order, but the emoji in UTF-16
    # order (what java.lang.String compares)
    str_graph = [(a, b) for a, b in zip(_WORDS, _WORDS[1:])] + [
        (f"{_WORDS[i % len(_WORDS)]}{i}", f"{_WORDS[(i * 3) % 10]}{i // 2}")
        for i in range(80)
    ] + [("😀!", "ｚ!")]
    messy = [(1, 1), (2, 2), (3, 4), (4, 3), (3, 4), (5, 6), (6, 5),
             (6, 6), (7, 8), (8, 9), (9, 7), (9, 7), (10, 10)]
    path = [(i, i + 1) for i in range(1999)]
    rng.shuffle(path)
    return {
        "long_ids": (long_graph, "src long, dst long"),
        "string_keys": (str_graph, "src string, dst string"),
        "loops_dups_reversed": (messy, "src long, dst long"),
        "path_2000": ([(b, a) if i % 2 else (a, b)
                       for i, (a, b) in enumerate(path)],
                      "src long, dst long"),
        "edge_free": ([(1, 1), (2, 2)], "src long, dst long"),
    }


@pytest.mark.parametrize("name", list(_graphs()))
def test_driver_finish_matches_star_rounds(spark, monkeypatch, name):
    edges, schema = _graphs()[name]
    driver, dtypes = _run(spark, edges, schema, monkeypatch)
    stars, stypes = _run(spark, edges, schema, monkeypatch, budget=0)
    assert driver == stars == _reference(edges)
    assert dtypes == stypes
    if name == "string_keys":
        assert driver["😀!"] == "ｚ!"


def test_budget_crossed_mid_loop(spark, monkeypatch):
    """A graph above a small budget runs star rounds, hands off to the
    driver once a round's edge count is under it, and still agrees."""
    rng = random.Random(11)
    edges = _random_graph(rng, 300, 1500, lambda i: i)
    fps, finishes = [], []
    observed, finish = cc._observed_checkpoint, cc._driver_finish

    def spy_observed(df):
        chk, fp = observed(df)
        fps.append(fp[0])
        return chk, fp

    def spy_finish(df):
        finishes.append(df.count())
        return finish(df)

    monkeypatch.setattr(cc, "_observed_checkpoint", spy_observed)
    monkeypatch.setattr(cc, "_driver_finish", spy_finish)
    monkeypatch.setattr(cc, "DRIVER_EDGE_BUDGET", 400)
    df = spark.createDataFrame(edges, "src long, dst long")
    track: list = []
    got = {r["node"]: r["component"]
           for r in cc.connected_components(df, track=track).collect()}
    for h in track:
        h.unpersist()
    monkeypatch.undo()
    assert fps and all(n > 400 for n in fps[:-1]) and fps[-1] <= 400
    assert finishes == [fps[-1]]
    stars, _ = _run(spark, edges, "src long, dst long", monkeypatch, budget=0)
    assert got == stars == _reference(edges)


def test_small_graph_runs_no_star_round(spark, monkeypatch):
    calls = []
    observed = cc._observed_checkpoint
    monkeypatch.setattr(
        cc, "_observed_checkpoint", lambda df: calls.append(1) or observed(df)
    )
    df = spark.createDataFrame([(1, 2), (2, 3), (5, 4)], "src long, dst long")
    got = {r["node"]: r["component"]
           for r in cc.connected_components(df).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4}
    assert not calls


def test_star_rounds_raise_without_fixpoint(spark, monkeypatch):
    monkeypatch.setattr(cc, "DRIVER_EDGE_BUDGET", 0)
    df = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "src long, dst long"
    )
    with pytest.raises(RuntimeError, match="no star fixpoint"):
        cc.connected_components(df, max_rounds=1)


def test_min_labels_matches_sequential_union_find():
    rng = np.random.default_rng(3)
    for _ in range(300):
        n = int(rng.integers(1, 50))
        m = int(rng.integers(0, 70))
        u, v = rng.integers(0, n, m), rng.integers(0, n, m)
        want = _reference(zip(u.tolist(), v.tolist()))
        lab = cc._min_labels(u, v, n)
        assert {x: lab[x] for x in want} == want
        assert all(lab[x] == x for x in range(n) if x not in want)


def test_release_frees_cc_storage(spark):
    """The superseded edge checkpoint is freed inside the call and the
    result's blocks by its handle: nothing the call stored remains."""

    def stored_ids():
        sc = spark.sparkContext._jsc.sc()
        return {i.id() for i in sc.getRDDStorageInfo()}

    before = stored_ids()
    track: list = []
    df = spark.createDataFrame([(i, i + 1) for i in range(50)],
                               "src long, dst long")
    assert cc.connected_components(df, track=track).count() == 51
    assert _settled(lambda: len(stored_ids() - before) == 1), (
        "the superseded edge checkpoint should be freed"
    )
    track[0].unpersist()
    assert _settled(lambda: not stored_ids() - before), (
        f"blocks leaked past release: {stored_ids() - before}"
    )


def _settled(cond) -> bool:
    """Poll `cond` briefly: unpersist is asynchronous."""
    for _ in range(50):
        if cond():
            return True
        time.sleep(0.2)
    return False
