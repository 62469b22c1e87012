"""Physical-plan hygiene: the properties that make these operators hold at
100 TB are asserted on the actual optimized plans, so a regression (a lost
pushdown, an accidental cartesian product, a broken partial aggregation)
fails CI instead of surfacing as a cluster fire.

These assertions parse `explain` output — intentionally coarse (substring
checks), since Spark's plan rendering is stable at that granularity.
"""

from __future__ import annotations

import io
from contextlib import redirect_stdout

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_text_stats_prunes_columns(spark):
    """text_quality_stats touches doc_id+text only — the scan must not read the
    other documents columns (column pruning reached the parquet source)."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["text_quality_stats"](spark, SF))
    scan = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan, plan
    read = " ".join(scan)
    assert "doc_id" in read and "text" in read
    for col in ("lang", "source", "n_chars"):
        assert col not in read, f"{col} not pruned from scan: {read}"


def test_exact_dup_counts_has_partial_aggregation(spark):
    """groupBy(key) must map-side combine (two HashAggregate levels) so the
    shuffle carries one row per (partition, key), not per input row."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["exact_dup_counts"](spark, SF))
    assert plan.count("HashAggregate") >= 2, plan


def test_no_cartesian_products_anywhere(spark):
    """Every candidate-generation join is equi-join-shaped: no
    CartesianProduct / BroadcastNestedLoopJoin may appear in any driver
    query plan (the scale-killer class)."""
    import __spark_entry__ as e

    offenders = {}
    for name, fn in e.queries().items():
        plan = _plan(fn(spark, SF))
        if "CartesianProduct" in plan or "BroadcastNestedLoop" in plan:
            offenders[name] = True
    assert not offenders, f"non-equi joins in: {sorted(offenders)}"


def test_webdedup_scan_count_bounded(spark):
    """The engine pipeline reads the pages source a bounded number of times
    (signatures at the scan + the final annotate/fan-out joins) — not once
    per downstream consumer.  Guards the persisted-'trie' design: every
    consumer of the unique-signature table must substitute the cache
    (InMemoryTableScan); the signature UDF may appear ONLY inside a cached
    subtree (the recompute-on-eviction lineage explain dumps beneath
    InMemoryTableScan), never as a live node of the annotate plan."""
    from humid_spark.config import DedupConfig
    from humid_spark.plans.webdedup import run_web_pipeline
    from humid_spark.sources.pages import fx_webtext, to_spark

    res = run_web_pipeline(to_spark(spark, fx_webtext(n_seeds=10)), DedupConfig())
    assert res.persisted, "uniq/pruned tables must be persisted"
    plan = _plan(res.annotated)
    assert "InMemoryTableScan" in plan, plan
    # structural check: each Arrow-UDF node is nested strictly deeper than
    # some InMemoryTableScan above it (= it lives in a cached subtree)
    lines = plan.splitlines()
    imts_stack = []  # indents of InMemoryTableScan nodes seen in the tree
    for ln in lines:
        if ln.startswith("("):
            break  # end of the tree section; node-detail blocks follow
        name = ln.lstrip(" *+:-")
        indent = len(ln) - len(name)
        if "InMemoryTableScan" in ln:
            imts_stack.append(indent)
        if "MapInArrow" in ln or "ArrowEvalPython" in ln:
            assert any(i < indent for i in imts_stack), (
                f"live (uncached) Arrow UDF in annotate plan:\n{ln}\n{plan}"
            )


def test_hamming_pairs_is_equi_join_on_chunks(spark):
    """The Hamming-1 self-join must block on chunk equality (SortMergeJoin
    or ShuffledHashJoin on an equi-key), with the distance check as a
    post-join filter — never an all-pairs theta join."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["neighbour_pairs_n12"](spark, SF))
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    ), plan
