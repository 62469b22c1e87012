"""Clustering (G1/G2/G3): distributed components + exact per-component replay.

The reference's clustering is a *sequential* greedy walk (src/humid.cc:167-193
+ src/cluster.cc).  Key structural fact making it parallelizable EXACTLY:
cluster assignment never crosses a connected component of the neighbour
graph — the climb and the flood both move along edges only.  The global walk
(sorted key order) interleaves components, but the assignment state of one
component never influences another, so replaying the greedy independently
per component, each in its own sorted-key order, produces IDENTICAL
membership, sizes, representatives and seeds.  Only the global id numbering
interleaves — and ids are 1,2,... in seed(=key) walk order, so they are
recovered exactly by ranking all cluster seeds globally (rank.py).

Physical plan:
  1. connected_components(edges)            — star rounds, driver finish
  2. cogroup (nodes, edges) by component    — one shuffle each
  3. applyInPandas: humid_spark.oracle.cluster_greedy per component
     (the same code the tests use as ground truth; components are
     near-dup-cluster-sized, i.e. tiny — Arrow batches them efficiently)
  4. global seed rank -> cluster ids        — range-partitioned rank

Giant components (boilerplate explosions) exceed `max_component_nodes`:
replayed greedily they would serialize.  Since round 3 they go through
DISTRIBUTED directional label propagation (`directional_label_propagation`)
instead of collapsing to one cluster: seeds are the local count-maxima
(nodes with no `count(nb) >= 2*count(node)` neighbour — exactly the
possible climb-tops of src/cluster.cc:39-51), labels flow strictly
downhill along `count(parent) >= 2*count(child)` edges (the flood rule,
src/cluster.cc:58-69), contested nodes take the MINIMUM reachable seed key
(deterministic, order-free stand-in for the walk-order tiebreak).  Counts
at least halve per downhill hop, so propagation depth — and the round
count — is bounded by log2(max count) <= ~31.  Membership is an
approximation of the order-sensitive sequential greedy; measured
pair-recall vs `oracle.cluster_greedy` on planted giant components is
pinned >= 0.99 in tests/test_directional_lp.py, and rows keep
`oversized=True` for lineage.  This is the documented deviation absorbed
by the >=0.99 recall budget (SURVEY.md §4.3.6).
"""

from __future__ import annotations

import logging
import os

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from humid_spark.oracle import cluster_greedy
from humid_spark.operators.cc import assign_components
from humid_spark.operators.rank import with_global_rank

log = logging.getLogger(__name__)

_REPLAY_SCHEMA = (
    "key string, count long, first_ts timestamp, first_url string, "
    "component string, cluster_seed string, cluster_size long, "
    "max_key string, max_count long, oversized boolean"
)


def _replay_factory(maximum: bool, max_nodes: int):
    def replay_one(
        nodes: pd.DataFrame, edges: pd.DataFrame | None
    ) -> pd.DataFrame:
        counts = dict(zip(nodes["key"], nodes["count"]))
        # Guard BOTH dimensions: a dense giant component's edge list can
        # exceed worker memory even when its node count is under the cap
        # (cogrouped Arrow batches materialize per group).
        n_edges = 0 if edges is None else len(edges)
        if len(counts) > max_nodes or n_edges > 4 * max_nodes:
            seed = min(counts)
            max_key = min(counts, key=lambda k: (-counts[k], k))
            size = int(sum(counts.values()))
            return nodes.assign(
                cluster_seed=seed,
                cluster_size=size,
                max_key=max_key,
                max_count=int(counts[max_key]),
                oversized=True,
            )
        adj: dict[str, list[str]] = {k: [] for k in counts}
        if edges is not None:
            for s, d in zip(edges["src"], edges["dst"]):
                adj[s].append(d)
                adj[d].append(s)
        cluster_of, clusters = cluster_greedy(counts, adj, maximum=maximum)
        ci = nodes["key"].map(cluster_of)
        return nodes.assign(
            cluster_seed=[clusters[i].seed_key for i in ci],
            cluster_size=[clusters[i].size for i in ci],
            max_key=[clusters[i].max_key for i in ci],
            max_count=[clusters[i].max_count for i in ci],
            oversized=False,
        )

    def replay_bucket(
        _key: tuple, nodes: pd.DataFrame, edges: pd.DataFrame
    ) -> pd.DataFrame:
        """One Arrow group = one hash-bucket of MANY components (batching
        kills the per-group overhead that dominates when components are
        numerous and tiny).  Components stay independent, so replaying them
        in any order inside the bucket is exact."""
        nodes = nodes.drop(columns=["rbucket"])
        edge_groups: dict = {}
        if len(edges):
            edge_groups = {
                comp: g for comp, g in edges.groupby("component", sort=False)
            }
        outs = [
            replay_one(nd, edge_groups.get(comp))
            for comp, nd in nodes.groupby("component", sort=False)
        ]
        return pd.concat(outs, ignore_index=True)

    return replay_bucket


def directional_label_propagation(
    nodes: DataFrame, edges: DataFrame, max_rounds: int = 70
) -> DataFrame:
    """Distributed directional clustering for components too large to
    replay in one worker (see module docstring for the semantics mapping).

    nodes(key, count) + undirected edges(src, dst) -> (key, label) where
    label is the cluster's seed key.  Wholly DataFrame-native: one
    downhill-edge materialization, then min-label propagation rounds, each
    a (join + groupBy-min) pair of shuffles with the convergence check
    piggybacked on the checkpoint action (cc._observed_checkpoint — no
    per-round driver collect).  Every node is reachable downhill from at
    least one local max (an unreachable node would itself be a local max),
    so the fixpoint labels everything; rounds are bounded by the downhill
    depth <= log2(max count) <= 63 for int64 counts (max_rounds=70 covers
    the worst case, and the final left-join in cluster_keys falls back to
    label=key so a non-converged run can never silently drop rows)."""
    from humid_spark.operators.cc import _observed_checkpoint

    cnt = nodes.select(F.col("key"), F.col("count"))
    both = edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    down = (
        both.join(cnt.select(F.col("key").alias("src"),
                             F.col("count").alias("c_src")), "src")
        .join(cnt.select(F.col("key").alias("dst"),
                         F.col("count").alias("c_dst")), "dst")
        .filter(F.col("c_src") >= 2 * F.col("c_dst"))
        .select(F.col("src").alias("parent"), F.col("dst").alias("child"))
        .localCheckpoint(eager=True)
    )
    seeds = cnt.join(
        down.select(F.col("child").alias("key")).distinct(), "key", "left_anti"
    ).select("key", F.col("key").alias("label"))

    from humid_spark.operators.cc import CheckpointHandle

    cur = seeds.localCheckpoint(eager=True)
    prev_fp = None
    for _ in range(max_rounds):
        prop = down.join(
            cur.select(F.col("key").alias("parent"), "label"), "parent"
        ).select(F.col("child").alias("key"), "label")
        nxt = cur.union(prop).groupBy("key").agg(F.min("label").alias("label"))
        nxt, fp = _observed_checkpoint(nxt)
        # superseded round's blocks are dead once nxt is materialized —
        # same storage discipline as connected_components' loop (a long
        # propagation otherwise holds every round's label table at once)
        CheckpointHandle(cur).unpersist()
        cur = nxt
        if fp == prev_fp:
            break
        prev_fp = fp
    return cur


def cluster_keys(
    uniq: DataFrame,
    pairs: DataFrame,
    maximum: bool = False,
    # same default as DedupConfig.max_component_nodes — callers bypassing
    # the config must not silently get a different giant-component cap
    max_component_nodes: int = 2_000_000,
) -> DataFrame:
    """uniq(key,count,first_ts,first_url) + once-per-pair edges(src,dst)
    -> one row per key:
      (key, count, first_ts, first_url, component, cluster_seed,
       cluster_size, max_key, max_count, oversized, cluster_id)
    cluster_id is 1-based in global seed-key order — identical to the
    reference's numbering (0 stays reserved for unusable rows)."""
    nodes = assign_components(uniq, pairs)
    comp_of = nodes.select(
        F.col("key").alias("src_key"),
        F.col("component").alias("src_component"),
    )
    edges_c = (
        pairs.join(comp_of, pairs["src"] == comp_of["src_key"])
        .select(F.col("src_component").alias("component"), "src", "dst")
    )

    # Divert components too large for a single-worker replay (either
    # dimension — cogrouped Arrow batches materialize per group) to a
    # distributed path: pure aggregation in max mode (EXACT — cluster ==
    # component), directional label propagation otherwise.  `over` is an
    # aggregate of component ids — tiny by construction (giant components
    # are rare), so
    # it broadcasts; the existence check is one count() on that aggregate.
    comp_sz = (
        nodes.groupBy("component").agg(F.count(F.lit(1)).alias("n_nodes"))
        .join(
            edges_c.groupBy("component").agg(F.count(F.lit(1)).alias("n_edges")),
            "component", "left",
        )
        .withColumn("n_edges", F.coalesce(F.col("n_edges"), F.lit(0)))
    )
    over = comp_sz.filter(
        (F.col("n_nodes") > max_component_nodes)
        | (F.col("n_edges") > 4 * max_component_nodes)
    ).select("component").localCheckpoint(eager=True)
    lp_rows = None
    if over.limit(1).count() > 0:
        nodes_o = nodes.join(F.broadcast(over), "component")
        if maximum:
            # Max-mode cluster == whole component, so the oversized rows
            # are EXACT as pure aggregations (seed = min key, size = sum,
            # representative = first max in walk order = min (-count, key))
            # — no single-worker materialization of the giant component.
            agg = nodes_o.groupBy("component").agg(
                F.min("key").alias("cluster_seed"),
                F.sum("count").alias("cluster_size"),
                F.min(
                    F.struct((-F.col("count")).alias("nc"),
                             F.col("key").alias("k"))
                ).alias("mx"),
            )
            lab_nodes = nodes_o.join(agg, "component")
        else:
            edges_o = edges_c.join(F.broadcast(over), "component")
            labels = directional_label_propagation(
                nodes_o.select("key", "count"), edges_o.select("src", "dst")
            )
            # left join + fallback label=key: a hypothetical non-converged
            # LP run degrades to singletons instead of silently dropping rows
            lab = nodes_o.join(labels, "key", "left").withColumn(
                "label", F.coalesce(F.col("label"), F.col("key"))
            )
            cl_agg = lab.groupBy("label").agg(
                F.min("key").alias("cluster_seed"),
                F.sum("count").alias("cluster_size"),
                # reference representative approximation: max count, ties
                # to the smaller key (src/cluster.cc:20-25 first-max-wins)
                F.min(
                    F.struct((-F.col("count")).alias("nc"),
                             F.col("key").alias("k"))
                ).alias("mx"),
            )
            lab_nodes = lab.join(cl_agg, "label")
        lp_rows = lab_nodes.select(
            "key", "count", "first_ts", "first_url", "component",
            "cluster_seed", "cluster_size",
            F.col("mx.k").alias("max_key"),
            (-F.col("mx.nc")).cast("long").alias("max_count"),
            F.lit(True).alias("oversized"),
        )
        nodes = nodes.join(F.broadcast(over), "component", "left_anti")
        edges_c = edges_c.join(F.broadcast(over), "component", "left_anti")

    replay = _replay_factory(maximum, max_component_nodes)
    return _finish(nodes, edges_c, replay, lp_rows)


def _n_replay_buckets(spark) -> int:
    """Replay cogroup bucket count, sized to the deployment instead of a
    constant: each bucket's (nodes, edges) cogroup materializes as ONE
    Arrow group in one worker, so bucket count must grow with the data the
    cluster is sized for.  32 x shuffle.partitions tracks that sizing
    (local[32] default 32 -> 1024, a 2000-partition cluster -> 64000,
    keeping expected bucket payload ~1/32nd of a shuffle partition);
    SPARK_GRAFT_REPLAY_BUCKETS overrides for deployments that know their
    key count.  Per-component caps bound ONE component; this bounds one
    BUCKET (many tiny components hashing together)."""
    env = os.environ.get("SPARK_GRAFT_REPLAY_BUCKETS")
    if env:
        try:
            return max(1, int(env))
        except ValueError:
            log.warning(
                "ignoring malformed SPARK_GRAFT_REPLAY_BUCKETS=%r", env
            )
    try:
        sp = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:
        sp = 200
    return max(256, 32 * sp)


def _finish(nodes, edges_c, replay, lp_rows) -> DataFrame:
    n_buckets = _n_replay_buckets(nodes.sparkSession)
    rb = lambda c: F.pmod(F.xxhash64(c), F.lit(n_buckets))  # noqa: E731
    clustered = (
        nodes.withColumn("rbucket", rb(F.col("component")))
        .groupBy("rbucket")
        .cogroup(
            edges_c.withColumn("rbucket", rb(F.col("component")))
            .groupBy("rbucket")
        )
        .applyInPandas(replay, _REPLAY_SCHEMA)
    )
    if lp_rows is not None:
        clustered = clustered.unionByName(lp_rows)
    seeds = clustered.select("cluster_seed").distinct()
    seed_ids = with_global_rank(seeds, "cluster_seed", "cluster_id")
    return clustered.join(seed_ids, "cluster_seed")
