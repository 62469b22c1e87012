"""Self-tests of the dedup benchmark.

    python3 -m pytest dedupbench -q            # all, about 5 minutes
    python3 -m pytest dedupbench -q -m "not slow"

The slow tests run every workload at toy scale, untraced and traced, in a
subprocess each, exactly as the benchmark command runs.
"""

from __future__ import annotations

import itertools
import json
import os
import shutil
import subprocess
import sys

import pytest

import generate
import run
import truth

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)


def test_generators_are_deterministic_per_seed():
    assert generate.web_crawl(1, 200, 20, 20) == generate.web_crawl(1, 200, 20, 20)
    assert generate.web_crawl(1, 200, 20, 20) != generate.web_crawl(2, 200, 20, 20)
    base = generate.index_base(1, 100)
    assert base == generate.index_base(1, 100) != generate.index_base(2, 100)
    assert generate.snapshot(1, base, 0, 40) == generate.snapshot(1, base, 0, 40)
    assert generate.snapshot(1, base, 0, 40) != generate.snapshot(2, base, 0, 40)
    assert generate.snapshot(1, base, 0, 40) != generate.snapshot(1, base, 1, 40)
    assert generate.reads(1, 20) == generate.reads(1, 20) != generate.reads(2, 20)


def test_crawl_urls_are_unique():
    pages = generate.web_crawl(4, 500, 30, 70)
    assert len(pages) == 600
    assert len({p.url for p in pages}) == 600


def test_true_pairs_match_brute_force_jaccard():
    pages = generate.web_crawl(3, 300, 30, 10) + generate.index_base(3, 100)
    want = {frozenset((p.text, p.embeds)) for p in pages if p.embeds}
    assert want  # the crawl does embed pages
    groups: dict[int, set[str]] = {}
    for p in pages:
        groups.setdefault(p.group, set()).add(p.text)
    for texts in groups.values():
        for a, b in itertools.combinations(sorted(texts), 2):
            sa, sb = truth.shingles(a, 5), truth.shingles(b, 5)
            if len(sa & sb) / len(sa | sb) >= 0.8:
                want.add(frozenset((a, b)))
    by_group = truth.true_pairs(pages, 5, 0.8)
    got = {frozenset(p) for pairs in by_group.values() for p in pairs}
    assert got == want
    assert all(by_group.values())
    assert want  # the generator does produce near-duplicates


def test_pair_scores_on_a_hand_made_case():
    # group 1 has true pairs a-b and b-c, group 2 has d-e; clusters are
    # {a, b}, {c, d} and {e}.  Group 1 keeps one of its two pairs, group 2
    # none; cluster {a, b} is one true pair, {c, d} one false pair.
    true = {1: [("a", "b"), ("b", "c")], 2: [("d", "e")]}
    recalls, precisions = truth.group_scores(
        true, {"a": 1, "b": 1, "c": 2, "d": 2, "e": 3})
    assert sorted(recalls) == [0.0, 0.5]
    assert sorted(precisions) == [0.0, 1.0]
    assert truth.mean(recalls) == 0.25
    assert truth.mean(precisions) == 0.5
    assert truth.mean([]) == 1.0


def test_a_large_group_does_not_outweigh_small_ones():
    # one group of 20 texts all in one cluster (190 true pairs found) and
    # nine two-text groups whose pair is missed: recall is the mean over
    # the ten groups, not 190 / 199
    big = [f"m{i}" for i in range(20)]
    true = {0: list(itertools.combinations(big, 2))}
    cluster_of = {t: "m" for t in big}
    for g in range(1, 10):
        true[g] = [(f"a{g}", f"b{g}")]
        cluster_of.update({f"a{g}": f"a{g}", f"b{g}": f"b{g}"})
    recalls, _ = truth.group_scores(true, cluster_of)
    assert truth.mean(recalls) == 0.1


def test_copies_share_cluster():
    P = generate.Page
    pages = [P("u1", "t", 1), P("u2", "t", 1), P("u3", "s", 2)]
    assert truth.copies_share_cluster(pages, {"u1": 5, "u2": 5, "u3": 6})
    assert not truth.copies_share_cluster(pages, {"u1": 5, "u2": 7, "u3": 6})


def test_oracle_neighbours_match_quadratic_reference():
    from humid_spark.oracle import run_oracle

    reads = generate.reads(5, 15)
    ref = run_oracle([(r.url, r.text) for r in reads], word_length=24,
                     mismatches=1)
    assert truth.oracle_clusters(reads, 24) == ref.cluster_of_key
    assert len(set(ref.cluster_of_key.values())) < len(ref.cluster_of_key)


def test_exits_nonzero_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "dedupbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "dedupbench/run.py", "--workload", "web_crawl",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert p.stdout == ""


def test_metric_records_cover_every_per_layer_metric():
    bench = run.bench_spec()
    with open(os.path.join(HERE, "metrics.json")) as f:
        prefixes = [layer["prefix"] for layer in json.load(f)["layers"].values()]
    for m in bench["per_layer"]:
        assert [p for p in prefixes if m["name"].startswith(p + ".")], m["name"]


WORKLOADS = [w["name"] for w in run.bench_spec()["workloads"]]


# layers each workload's traced run must record
TRACED_LAYERS = {
    "web_crawl": [
        "sources.scan", "signatures.minhash", "webdedup.exact_collapse",
        "lsh.band_buckets", "lsh.candidate_pairs", "lsh.verify_pairs",
        "containment.pairs", "cc.components", "webdedup.annotate",
        "webdedup.dedup", "exact.unique_keys", "blocking.hamming_pairs",
        "directional.cluster_keys", "stats.representatives",
        "pipeline.write_outputs",
    ],
    "incremental_snapshots": [
        "incremental.build", "incremental.dedup_batch",
        "incremental.cluster_batch", "incremental.append",
        "incremental.delete", "incremental.compact", "incremental.read",
    ],
}


@pytest.mark.slow
@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_toy_run(workload, trace):
    """A toy-sized run passes its own correctness checks.  The traced web
    run also checks that the traced pass clusters every page exactly as the
    untraced pass did."""
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace),
         "--scale", "toy"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-4000:]
    lines = p.stdout.strip().splitlines()
    env, result = json.loads(lines[-2])["env"], json.loads(lines[-1])
    assert result["correct"] and result["failed"] == 0, env["problems"]
    want = run.bench_spec()["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in want}
    assert all(m["value"] > 0 for m in result["metrics"].values()) or trace
    if trace:
        with open(os.path.join(ROOT, ".bench_traces",
                               f"{workload}-seed3.json")) as f:
            spans = {s["name"] for s in json.load(f)["spans"]}
        assert set(TRACED_LAYERS[workload]) <= spans
        for layer in TRACED_LAYERS[workload]:
            assert result["metrics"][f"{layer}.self_s"]["value"] > 0
