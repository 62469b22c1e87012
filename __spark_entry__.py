"""Driver contract for the spark-graft builder (PySpark target).

Every entry in ``queries()`` is an implemented operator from SURVEY.md §2
(or a training-data-pipeline extension), expressed through the engine's own
operator library (humid_spark.*); ``oracle_sql()`` gives an independent
ANSI-SQL formulation DuckDB executes over the same parquet tables.

Key-space convention for the dedup operators: the HUMID word analog over the
``documents`` table is key = first n chars of ``text`` (reference word
length -n, src/humid.cc:419), usable = length(text) >= n, doc order =
doc_id.  Hamming/edit neighbour distance m=1 (src/humid.cc:420).

Two key lengths run side by side:
- n=24 (the reference default): matches the reference CLI config exactly,
  but the driver's word-soup documents have ZERO Hamming-1 pairs at that
  length — the chain is correct but never merges.
- n=12 (``*_n12`` queries): 32 real Hamming-1 pairs / 28 multi-key
  components at sf0.01, so the neighbour join, CC merge, representative
  contest and dedup selection are all verified against DuckDB on real
  merges (non-vacuous oracle chain).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

N = 24   # reference word length (src/humid.cc:419)
N12 = 12 # shorter key: real Hamming-1 edges exist in the driver's documents
P31 = (1 << 31) - 1
MH_K = 5       # shingle size for the SQL-parity signature queries
MH_PERMS = 8   # perms for the SQL-parity signature queries (engine uses 128)
FUNNEL_THRESH = 500  # Jaccard permille gate for web_dedup_funnel's
                     # near tier (the sf corpus is bimodal: real
                     # near-dup families sit at >= 900 permille, the
                     # band-join noise floor at <= ~200)
MH_BAND_R = 4  # rows per band (2 bands): r=2 was near-all-pairs on the
               # shared-vocabulary word-soup docs (3.1M candidates at sf0.1,
               # J^2 collision prob); r=4 keeps the banding selective so the
               # exact-Jaccard verify runs on a real candidate set


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _ts(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """`_t` + scale-adaptive spread (humid_spark.partitioning): the driver
    parquet is a single row-group, so expression-heavy per-doc projections
    chained narrowly onto the scan otherwise run on ONE core; on a
    well-partitioned corpus the spread is a no-op.  Row values and every
    aggregate downstream are partition-independent — results unchanged."""
    from humid_spark.partitioning import spread

    return spread(_t(spark, sf_dir, name))


def _doc_keys(spark: SparkSession, sf_dir: str, n: int = N) -> DataFrame:
    """documents -> (doc_id, key, usable): the with_key_columns analog for
    the driver's documents table (no padding needed for the oracle pair —
    usable rows always have >= n chars)."""
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.substring("text", 1, n).alias("key"),
        (F.col("text").isNotNull() & (F.length("text") >= n)).alias("usable"),
    )


def _uniq(spark: SparkSession, sf_dir: str, n: int = N) -> DataFrame:
    """A1 exact-dup counting (humid_spark.operators.exact semantics)."""
    return (
        _doc_keys(spark, sf_dir, n)
        .filter("usable")
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("cnt"), F.min("doc_id").alias("first_doc_id"))
    )


def _sql_keys(n: int = N) -> str:
    return (
        f"SELECT doc_id, substr(text, 1, {n}) AS key FROM documents "
        f"WHERE text IS NOT NULL AND length(text) >= {n}"
    )


def _sql_uniq(n: int = N) -> str:
    return (
        f"SELECT key, count(*) AS cnt, min(doc_id) AS first_doc_id "
        f"FROM ({_sql_keys(n)}) GROUP BY key"
    )


def _sql_edges_h1(n: int = N) -> str:
    return (
        f"SELECT a.key AS src, b.key AS dst "
        f"FROM (SELECT DISTINCT key FROM ({_sql_keys(n)})) a "
        f"JOIN (SELECT DISTINCT key FROM ({_sql_keys(n)})) b "
        f"ON a.key < b.key AND hamming(a.key, b.key) <= 1"
    )


def _sql_cc(n: int = N) -> str:
    # min-reachable-key connected components as a recursive CTE
    return f"""
WITH RECURSIVE
uk AS (SELECT DISTINCT key FROM ({_sql_keys(n)})),
edges AS (
  SELECT a.key AS src, b.key AS dst FROM uk a JOIN uk b
  ON a.key <> b.key AND hamming(a.key, b.key) <= 1
),
reach(key, comp) AS (
  SELECT key, key FROM uk
  UNION
  SELECT e.src, r.comp FROM reach r JOIN edges e ON e.dst = r.key
)
SELECT key, min(comp) AS component FROM reach GROUP BY key
"""


def _pairs_h1(spark: SparkSession, sf_dir: str, n: int = N) -> DataFrame:
    from humid_spark.operators.blocking import hamming_pairs

    return hamming_pairs(_uniq(spark, sf_dir, n).select("key"), n, 1)


def _components(spark: SparkSession, sf_dir: str, n: int = N) -> DataFrame:
    from humid_spark.operators.cc import assign_components

    uniq = _uniq(spark, sf_dir, n)
    return assign_components(uniq, _pairs_h1(spark, sf_dir, n))


def _sig_shingle_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sh, h0..h7) materialized ONCE — the md5 shingle transform is
    the expensive projection; checkpointing it keeps the 4 band self-joins
    and the Jaccard verify from re-deriving it ~10x per doc."""
    from humid_spark.functions.signatures import sql_parity_sig_table

    # The driver parquet is a single row-group: without an explicit
    # repartition the md5-per-shingle projection (the expensive part)
    # materializes on ONE core and every downstream join inherits 1
    # partition.
    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    tbl = sql_parity_sig_table(docs, MH_K, MH_PERMS)
    return tbl.localCheckpoint(eager=True)


def _sig_sql_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from humid_spark.functions.signatures import sql_parity_sig_table

    return sql_parity_sig_table(
        _ts(spark, sf_dir, "documents"), MH_K, MH_PERMS
    ).drop("sh")


def _sig_sql_duck() -> str:
    from humid_spark.functions.signatures import minhash_sql_duckdb

    arr = minhash_sql_duckdb("text", MH_K, MH_PERMS)
    cols = ", ".join(f"sig[{j + 1}] AS h{j}" for j in range(MH_PERMS))
    return (
        f"SELECT doc_id, {cols} FROM "
        f"(SELECT doc_id, {arr} AS sig FROM documents)"
    )


def _band_join_spark(
    spark: SparkSession, sf_dir: str, sigs: DataFrame | None = None
) -> DataFrame:
    if sigs is None:
        sigs = _sig_shingle_table(spark, sf_dir).drop("sh")
    r = MH_BAND_R
    outs = []
    for b in range(MH_PERMS // r):
        hs = [f"h{r * b + i}" for i in range(r)]
        a = sigs.select(F.col("doc_id").alias("src"), *hs)
        c = sigs.select(F.col("doc_id").alias("dst"), *hs)
        outs.append(
            a.join(c, hs).filter(F.col("src") < F.col("dst"))
            .select("src", "dst")
        )
    pairs = outs[0]
    for o in outs[1:]:
        pairs = pairs.union(o)
    return pairs.distinct()


def _band_join_duck() -> str:
    r = MH_BAND_R
    bands = " OR ".join(
        "(" + " AND ".join(
            f"a.h{r * b + i} = b.h{r * b + i}" for i in range(r)
        ) + ")"
        for b in range(MH_PERMS // r)
    )
    return (
        f"SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst "
        f"FROM ({_sig_sql_duck()}) a JOIN ({_sig_sql_duck()}) b "
        f"ON a.doc_id < b.doc_id AND ({bands})"
    )


_SQL_SHINGLES = (
    f"SELECT doc_id, list_distinct(list_transform("
    f"generate_series(1, greatest(1, length(text) - {MH_K - 1})), "
    f"i -> cast(('0x' || substr(md5(substring(text, i, {MH_K})), 1, 14)) as bigint) % {P31}"
    f")) AS sh FROM documents WHERE text IS NOT NULL"
)


# ---------------------------------------------------------------------------
# entry / queries / oracle_sql
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: web-scale near-dup clustering of documents at sf0.001
    (n=12 keys so the neighbour join and CC actually merge)."""
    sf_dir = "/root/testdata/sf0.001"
    comps = _components(spark, sf_dir, N12)
    return (
        _doc_keys(spark, sf_dir, N12)
        .join(comps.select("key", "component"), "key", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.lit("")).alias("cluster"),
        )
    )


def _register_dedup_chain(
    q: dict[str, Callable[[SparkSession, str], DataFrame]],
    n: int,
    suffix: str,
    with_ids: bool = False,
) -> None:
    """The full exact-count -> neighbour-join -> CC -> stats/sinks chain at
    key length `n`.  Registered twice: n=24 (reference config; vacuous on
    the driver's word-soup docs) and n=12 (real merges at sf0.01).

    Round 6 (VERDICT r5 item 1): the chain is FOLDED so the whole contract
    fits the driver's 50-query recorded budget with identical oracle
    strength — hamming1_pairs+edit1_pairs -> neighbour_pairs (kind column),
    the three histograms -> dedup_histograms (stacked metric/bucket rows),
    dedup_keep -> representatives.doc_id, and (n12) max_clusters ->
    components_n12.cluster_id/cluster_size.  README "Contract v6" records
    the old-name -> new-column mapping."""

    # --- A1: exact-dup counting (the trie insert) ---
    q[f"exact_dup_counts{suffix}"] = lambda s, d: _uniq(s, d, n)

    # --- J1 + J2: Hamming-1 (pigeonhole chunk blocking) and
    #     edit-distance-1 (PassJoin-style shifts) self-joins, stacked
    #     under a `kind` tag (fold of hamming1_pairs + edit1_pairs) ---
    def neighbour_pairs(s, d):
        from humid_spark.operators.blocking import edit_pairs

        h1 = _pairs_h1(s, d, n).select(
            F.lit("hamming1").alias("kind"), "src", "dst"
        )
        e1 = edit_pairs(_uniq(s, d, n).select("key"), n, 1).select(
            F.lit("edit1").alias("kind"), "src", "dst"
        )
        return h1.unionByName(e1)

    q[f"neighbour_pairs{suffix}"] = neighbour_pairs

    # --- A4 + A5 + A6: the three stats sinks (counts.dat multiplicity
    #     histogram, neigh.dat degree histogram with zero-degree keys
    #     included, cluster-size histogram) stacked as (metric, bucket,
    #     frequency) rows — identical information, one recorded query ---
    def histograms(s, d):
        from humid_spark.operators.stats import neighbour_histogram

        u = _uniq(s, d, n)
        cnt_h = (
            u.groupBy(F.col("cnt").cast("long").alias("bucket"))
            .agg(F.count(F.lit(1)).alias("frequency"))
            .select(F.lit("multiplicity").alias("metric"), "bucket", "frequency")
        )
        deg_h = neighbour_histogram(u, _pairs_h1(s, d, n)).select(
            F.lit("degree").alias("metric"),
            F.col("degree").cast("long").alias("bucket"),
            "frequency",
        )
        sz_h = (
            _components(s, d, n)
            .groupBy("component")
            .agg(F.sum("cnt").alias("size"))
            .groupBy(F.col("size").cast("long").alias("bucket"))
            .agg(F.count(F.lit(1)).alias("frequency"))
            .select(F.lit("cluster_size").alias("metric"), "bucket", "frequency")
        )
        return cnt_h.unionByName(deg_h).unionByName(sz_h)

    q[f"dedup_histograms{suffix}"] = histograms

    # --- G1: connected components (large-star/small-star); with_ids adds
    #     G1/-x + G3 — the REAL maximum-clustering engine path
    #     (per-component greedy replay, applyInPandas) and the global
    #     seed-rank cluster-id enumeration — as cluster_id/cluster_size
    #     columns (fold of the former max_clusters_n12) ---
    if with_ids:
        def components_ids(s, d):
            from humid_spark.operators.directional import cluster_keys

            uniq = _uniq(s, d, n).select(
                "key", F.col("cnt").alias("count"),
                F.lit(None).cast("timestamp").alias("first_ts"),
                F.col("first_doc_id").cast("string").alias("first_url"),
            )
            mx = cluster_keys(uniq, _pairs_h1(s, d, n), maximum=True).select(
                "key", "cluster_id", "cluster_size"
            )
            return (
                _components(s, d, n).select("key", "component").join(mx, "key")
            )

        q[f"components{suffix}"] = components_ids
    else:
        q[f"components{suffix}"] = lambda s, d: (
            _components(s, d, n).select("key", "component")
        )

    # --- A8 + K1: per-cluster argmax representative, carrying the kept
    #     first_doc_id (fold of dedup_keep: the dedup sink's output is
    #     exactly this query's doc_id column) ---
    def reps(s, d):
        c = _components(s, d, n)
        best = c.groupBy("component").agg(
            F.min(
                F.struct(
                    (-F.col("cnt")).alias("neg_cnt"),
                    F.col("key").alias("key"),
                    F.col("first_doc_id").alias("doc_id"),
                )
            ).alias("b")
        )
        return best.select(
            "component",
            F.col("b.key").alias("rep_key"),
            (-F.col("b.neg_cnt")).cast("long").alias("rep_cnt"),
            F.col("b.doc_id").alias("doc_id"),
        )

    q[f"representatives{suffix}"] = reps

    # --- K2/J3: annotate every doc with its cluster (point-lookup join) ---
    def annotate(s, d):
        comps = _components(s, d, n).select("key", "component")
        return (
            _doc_keys(s, d, n)
            .join(comps, "key", "left")
            .select(
                "doc_id",
                F.when(F.col("usable"), F.col("component"))
                .otherwise(F.lit("")).alias("cluster"),
            )
        )

    q[f"annotate{suffix}"] = annotate


def _register_dedup_chain_sql(
    o: dict[str, str], n: int, suffix: str, with_ids: bool = False
) -> None:
    """DuckDB oracles for the chain registered by _register_dedup_chain."""
    o[f"exact_dup_counts{suffix}"] = _sql_uniq(n)

    o[f"neighbour_pairs{suffix}"] = (
        f"SELECT 'hamming1' AS kind, src, dst FROM ({_sql_edges_h1(n)}) "
        f"UNION ALL "
        f"SELECT 'edit1' AS kind, a.key AS src, b.key AS dst "
        f"FROM (SELECT DISTINCT key FROM ({_sql_keys(n)})) a "
        f"JOIN (SELECT DISTINCT key FROM ({_sql_keys(n)})) b "
        f"ON a.key < b.key AND levenshtein(a.key, b.key) <= 1"
    )

    o[f"dedup_histograms{suffix}"] = f"""
        SELECT 'multiplicity' AS metric, CAST(cnt AS BIGINT) AS bucket,
               count(*) AS frequency
        FROM ({_sql_uniq(n)}) GROUP BY 2
        UNION ALL
        SELECT 'degree' AS metric, CAST(degree AS BIGINT) AS bucket, frequency
        FROM (
          WITH uk AS (SELECT DISTINCT key FROM ({_sql_keys(n)})),
          e AS (SELECT src AS key FROM ({_sql_edges_h1(n)})
                UNION ALL SELECT dst FROM ({_sql_edges_h1(n)})),
          deg AS (SELECT uk.key, count(e.key) AS degree
                  FROM uk LEFT JOIN e ON uk.key = e.key GROUP BY uk.key)
          SELECT degree, count(*) AS frequency FROM deg GROUP BY degree
        )
        UNION ALL
        SELECT 'cluster_size' AS metric, CAST(size AS BIGINT) AS bucket,
               frequency
        FROM (
          WITH cc AS ({_sql_cc(n)}), u AS ({_sql_uniq(n)}),
          sizes AS (SELECT cc.component, CAST(sum(u.cnt) AS BIGINT) AS size
                    FROM cc JOIN u ON cc.key = u.key GROUP BY cc.component)
          SELECT size, count(*) AS frequency FROM sizes GROUP BY size
        )
    """

    if with_ids:
        o[f"components{suffix}"] = f"""
            WITH cc AS ({_sql_cc(n)}), u AS ({_sql_uniq(n)}),
            j AS (SELECT cc.key, cc.component, u.cnt
                  FROM cc JOIN u ON cc.key = u.key),
            sz AS (SELECT component, CAST(sum(cnt) AS BIGINT) AS cluster_size
                   FROM j GROUP BY component),
            ids AS (SELECT component,
                           CAST(dense_rank() OVER (ORDER BY component)
                                AS BIGINT) AS cluster_id
                    FROM sz)
            SELECT j.key, j.component, ids.cluster_id, sz.cluster_size
            FROM j JOIN sz ON j.component = sz.component
                   JOIN ids ON j.component = ids.component
        """
    else:
        o[f"components{suffix}"] = _sql_cc(n)

    o[f"representatives{suffix}"] = f"""
        WITH cc AS ({_sql_cc(n)}), u AS ({_sql_uniq(n)}),
        j AS (SELECT cc.component, u.key, u.cnt, u.first_doc_id
              FROM cc JOIN u ON cc.key = u.key),
        r AS (SELECT component, key, cnt, first_doc_id,
                     row_number() OVER (PARTITION BY component
                                        ORDER BY cnt DESC, key) AS rn
              FROM j)
        SELECT component, key AS rep_key, cnt AS rep_cnt,
               first_doc_id AS doc_id
        FROM r WHERE rn = 1
    """

    o[f"annotate{suffix}"] = f"""
        WITH cc AS ({_sql_cc(n)})
        SELECT d.doc_id,
               CASE WHEN d.text IS NOT NULL AND length(d.text) >= {n}
                    THEN coalesce(cc.key_comp, '') ELSE '' END AS cluster
        FROM (SELECT doc_id, text, substr(text, 1, {n}) AS key FROM documents) d
        LEFT JOIN (SELECT key, component AS key_comp FROM cc) cc ON d.key = cc.key
    """


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # Reference-default key length (n=24) ...
    _register_dedup_chain(q, N, "")
    # ... and the non-vacuous n=12 chain: real Hamming-1 merges at sf0.01,
    # so CC/representative/dedup semantics are checked on actual clusters.
    # with_ids folds the former max_clusters_n12 (REAL maximum-clustering
    # engine path + global seed-rank ids) into components_n12.
    _register_dedup_chain(q, N12, "_n12", with_ids=True)

    # --- A7: scalar stats ---
    def scalar_stats(s, d):
        keys = _doc_keys(s, d)
        return keys.agg(
            F.count(F.lit(1)).alias("total"),
            F.count_if(F.col("usable")).alias("usable"),
            F.count_distinct(F.when(F.col("usable"), F.col("key"))).alias("unique"),
        )

    q["scalar_stats"] = scalar_stats

    # --- signatures: SQL-parity MinHash + SimHash in ONE row per doc
    #     (round-6 fold of minhash_signatures + simhash_signatures; both
    #     kernels still run — the 8 OPH columns and the 16-bit SimHash are
    #     hash-checked side by side) ---
    def signatures_q(s, d):
        from humid_spark.functions.signatures import simhash_sql_spark

        sim = _ts(s, d, "documents").select(
            "doc_id", simhash_sql_spark("text", MH_K).alias("simhash16")
        )
        return _sig_sql_spark(s, d).join(sim, "doc_id")

    q["signatures"] = signatures_q

    # --- LSH band join on the SQL-parity signatures ---
    q["lsh_band_pairs"] = lambda s, d: _band_join_spark(s, d)

    # --- exact n-gram Jaccard verification on banded candidates (one
    #     materialized signature+shingle table feeds BOTH the band joins
    #     and the verify — no recompute of the md5 transform) ---
    def jaccard(s, d):
        tbl = _sig_shingle_table(s, d)
        # AQE coalesces the narrow (src,dst) candidate table to ~2
        # partitions by BYTES, but the per-row verify cost is the array
        # intersect of two ~|doc| shingle sets — compute-bound, not
        # byte-bound.  Spread it explicitly.
        pairs = _band_join_spark(s, d, sigs=tbl.drop("sh")).repartition(
            s.sparkContext.defaultParallelism
        )
        sh = tbl.select("doc_id", "sh")
        a = sh.select(F.col("doc_id").alias("src"), F.col("sh").alias("sh_a"))
        b = sh.select(F.col("doc_id").alias("dst"), F.col("sh").alias("sh_b"))
        inter = F.size(F.array_intersect("sh_a", "sh_b"))
        union = F.size(F.array_union("sh_a", "sh_b"))
        return (
            pairs.join(a, "src").join(b, "dst")
            .select(
                "src", "dst",
                F.floor(inter * 1000 / union).cast("long").alias("jaccard_permille"),
            )
        )

    q["ngram_jaccard_pairs"] = jaccard

    # --- END-TO-END web-dedup funnel, fully oracle-checked (round 5).
    #     The web pipeline's stages are each oracle-green individually
    #     (exact collapse, signatures, band join, Jaccard verify); this
    #     query chains them THROUGH the engine's connected-components
    #     operator and reports the tier funnel a training-data pipeline
    #     reads off a dedup run:
    #       total_usable -> exact_removed -> near_removed -> kept.
    #     The corpus has no full-text dups, so exact dups are PLANTED
    #     (doc_id % 10 == 0 re-enters as -doc_id - 1 — disjoint from the
    #     non-negative ids at any scale factor).  The DuckDB oracle replays the whole chain —
    #     grouping, md5-parity signatures, banding, Jaccard >= 0.5,
    #     recursive-CTE components — so CC-over-DOCUMENT-PAIRS is
    #     hash-checked end to end (previously only CC-over-parity-keys
    #     was).  Counts, not labels: immune to component-naming
    #     conventions, sensitive to any wrong merge. ---
    def web_funnel(s, d):
        from humid_spark.functions.signatures import sql_parity_sig_table
        from humid_spark.operators.cc import connected_components

        docs = _t(s, d, "documents").select("doc_id", "text")
        usable = docs.filter(
            F.col("text").isNotNull() & (F.length("text") >= MH_K)
        )
        planted = usable.filter(F.col("doc_id") % 10 == 0).select(
            (-F.col("doc_id") - 1).alias("doc_id"), "text"
        )
        corpus = usable.unionByName(planted)
        grp = corpus.groupBy("text").agg(
            F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("cnt")
        )
        # one materialization feeds both band self-joins, the verify and
        # (via connected_components' own eager checkpoint) the CC rounds
        tbl = sql_parity_sig_table(
            grp.select("doc_id", "text"), MH_K, MH_PERMS
        ).localCheckpoint(eager=True)
        pairs = _band_join_spark(s, d, sigs=tbl.drop("sh"))
        sh = tbl.select("doc_id", "sh")
        ver = (
            pairs
            .join(sh.select(F.col("doc_id").alias("src"),
                            F.col("sh").alias("sh_a")), "src")
            .join(sh.select(F.col("doc_id").alias("dst"),
                            F.col("sh").alias("sh_b")), "dst")
            .filter(
                F.floor(F.size(F.array_intersect("sh_a", "sh_b")) * 1000
                        / F.size(F.array_union("sh_a", "sh_b")))
                >= FUNNEL_THRESH
            )
            .select("src", "dst")
        )
        comp = connected_components(ver)
        # the three single-row aggregates combine JOIN-FREE (unpivot to
        # (m, v), union, re-aggregate): a crossJoin — or a literal-key
        # equi-join, which Catalyst constant-folds back into one — plans
        # as BroadcastNestedLoopJoin and would breach the repo-wide
        # "no CartesianProduct anywhere" hygiene assertion
        stats = grp.agg(
            F.sum("cnt").cast("long").alias("total_usable"),
            F.count(F.lit(1)).alias("exact_unique"),
        ).selectExpr(
            "stack(2, 'total_usable', total_usable, "
            "'exact_unique', exact_unique) AS (m, v)"
        )
        ecnt = ver.agg(
            F.count(F.lit(1)).alias("near_edges")
        ).selectExpr("stack(1, 'near_edges', near_edges) AS (m, v)")
        ccs = comp.agg(
            F.count(F.lit(1)).alias("cc_nodes"),
            F.countDistinct("component").alias("cc_comps"),
        ).selectExpr(
            "stack(2, 'cc_nodes', cc_nodes, 'cc_comps', cc_comps) AS (m, v)"
        )
        row = stats.unionByName(ecnt).unionByName(ccs).agg(
            *[
                F.max(F.when(F.col("m") == m_, F.col("v"))).alias(m_)
                for m_ in ("total_usable", "exact_unique", "near_edges",
                           "cc_nodes", "cc_comps")
            ]
        )
        return row.selectExpr(
            "stack(6, "
            "'total_usable', total_usable, "
            "'exact_unique', exact_unique, "
            "'exact_removed', total_usable - exact_unique, "
            "'near_edges', near_edges, "
            "'near_removed', cc_nodes - cc_comps, "
            "'kept', exact_unique - (cc_nodes - cc_comps)"
            ") AS (metric, value)"
        )

    q["web_dedup_funnel"] = web_funnel

    # --- INCREMENTAL (snapshot-N+1) dedup: the production shape the
    #     batch-only reference cannot express (src/humid.cc:443-452
    #     re-reads the full input per run).  The corpus splits into an
    #     already-ingested INDEX (doc_id % 3 != 0) and a NEW BATCH
    #     (doc_id % 3 == 0); each tier plants its own dups so the result
    #     is non-vacuous at any scale factor (planted ids are -doc_id - 1,
    #     disjoint from the non-negative id space):
    #     - exact tier: index docs with doc_id % 10 == 1 re-enter the
    #       batch verbatim -> fingerprint anti-join drops them;
    #     - near tier: the same donors re-enter with ' near dup copy'
    #       appended -> asymmetric band join + exact-Jaccard verify
    #       finds them against their index originals. ---
    def incr_exact(s, d):
        from humid_spark.functions import textstats as ts
        from humid_spark.operators.incremental import exact_survivors

        docs = _t(s, d, "documents").filter(F.col("text").isNotNull())
        index = docs.filter(F.col("doc_id") % 3 != 0)
        planted = index.filter(F.col("doc_id") % 10 == 1).select(
            (-F.col("doc_id") - 1).alias("doc_id"), "text"
        )
        batch = (
            docs.filter(F.col("doc_id") % 3 == 0)
            .select("doc_id", "text")
            .unionByName(planted)
        )
        fp = ts.fingerprint(F.col("text")).alias("fp")
        return exact_survivors(
            batch.select("doc_id", fp), index.select(fp)
        ).select("doc_id")

    q["incremental_exact_dedup"] = incr_exact

    def incr_near(s, d):
        from humid_spark.functions.signatures import sql_parity_sig_table
        from humid_spark.operators.incremental import cross_band_pairs

        docs = _t(s, d, "documents").filter(
            F.col("text").isNotNull() & (F.length("text") >= MH_K)
        )
        planted = docs.filter(
            (F.col("doc_id") % 3 != 0) & (F.col("doc_id") % 10 == 1)
        ).select(
            (-F.col("doc_id") - 1).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" near dup copy")).alias("text"),
        )
        corpus = (
            docs.filter(F.col("doc_id") % 3 == 0)
            .select("doc_id", "text")
            .unionByName(planted)
            .unionByName(
                docs.filter(F.col("doc_id") % 3 != 0).select("doc_id", "text")
            )
        )
        # one checkpointed table feeds batch buckets, index buckets AND
        # the Jaccard verify; side is recoverable from the id (planted
        # ids are negative, batch originals are % 3 == 0)
        tbl = sql_parity_sig_table(
            corpus.repartition(s.sparkContext.defaultParallelism),
            MH_K, MH_PERMS,
        ).localCheckpoint(eager=True)
        is_batch = (F.col("doc_id") < 0) | (F.col("doc_id") % 3 == 0)

        def bands_of(sigs):
            r = MH_BAND_R
            arr = F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            ":", *[F.col(f"h{r * b + i}") for i in range(r)]
                        ).alias("bucket"),
                    )
                    for b in range(MH_PERMS // r)
                ]
            )
            return sigs.select("doc_id", F.explode(arr).alias("bb")).select(
                "doc_id", "bb.band", "bb.bucket"
            )

        sigs = tbl.drop("sh")
        pairs = cross_band_pairs(
            bands_of(sigs.filter(is_batch)),
            bands_of(sigs.filter(~is_batch)),
            bucket_cap=2000,
        )
        sh = tbl.select("doc_id", "sh")
        return (
            pairs
            .join(sh.select(F.col("doc_id").alias("src"),
                            F.col("sh").alias("sh_a")), "src")
            .join(sh.select(F.col("doc_id").alias("dst"),
                            F.col("sh").alias("sh_b")), "dst")
            .select(
                "src", "dst",
                F.floor(
                    F.size(F.array_intersect("sh_a", "sh_b")) * 1000
                    / F.size(F.array_union("sh_a", "sh_b"))
                ).cast("long").alias("jaccard_permille"),
            )
            .filter(F.col("jaccard_permille") >= FUNNEL_THRESH)
        )

    q["incremental_near_dups"] = incr_near

    # --- incremental_clusters: the persistent-cluster-map tier
    #     (plans/incremental.py cluster_batch) replayed over the same
    #     index/batch split — index clusters from an index-internal CC,
    #     then ONE batch assigned from batch-bounded edges only
    #     (within-batch pairs + (src, cluster-of-dst) cross edges), with
    #     merges relabeling index clusters (merge-on-read remap).  For a
    #     single snapshot this equals a full CC over the union pair set
    #     (the parity theorem tests/test_incremental_clusters.py pins on
    #     the engine), which is exactly what the DuckDB oracle replays —
    #     so the incremental composition is hash-checked end to end.
    #     Plants: index donors (%10==1) re-enter near-dup'd at -2*id-1
    #     (cross edges); batch donors (%3==0, %10==3) gain a variant at
    #     -2*id-2 (within-batch edges, the family dedup_batch alone never
    #     sees). ---
    def incr_clusters(s, d):
        from humid_spark.functions.signatures import sql_parity_sig_table
        from humid_spark.operators.cc import connected_components
        from humid_spark.operators.incremental import cross_band_pairs

        docs = _t(s, d, "documents").filter(
            F.col("text").isNotNull() & (F.length("text") >= MH_K)
        )
        index_docs = docs.filter(F.col("doc_id") % 3 != 0).select(
            "doc_id", "text"
        )
        batch_docs = (
            docs.filter(F.col("doc_id") % 3 == 0)
            .select("doc_id", "text")
            .unionByName(
                index_docs.filter(F.col("doc_id") % 10 == 1).select(
                    (-F.col("doc_id") * 2 - 1).alias("doc_id"),
                    F.concat("text", F.lit(" near dup copy")).alias("text"),
                )
            )
            .unionByName(
                docs.filter(
                    (F.col("doc_id") % 3 == 0) & (F.col("doc_id") % 10 == 3)
                ).select(
                    (-F.col("doc_id") * 2 - 2).alias("doc_id"),
                    F.concat(
                        "text", F.lit(" second variant tail")
                    ).alias("text"),
                )
            )
        )
        # incremental exact collapse: index keeps first-seen identity;
        # batch collapses internally; batch texts already indexed drop
        igrp = index_docs.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
        bgrp = batch_docs.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
        fresh = bgrp.join(igrp.select("text"), "text", "anti")
        tbl = sql_parity_sig_table(
            igrp.select("doc_id", "text")
            .unionByName(fresh.select("doc_id", "text"))
            .repartition(s.sparkContext.defaultParallelism),
            MH_K,
            MH_PERMS,
        ).localCheckpoint(eager=True)
        is_batch = (F.col("doc_id") < 0) | (F.col("doc_id") % 3 == 0)
        sigs = tbl.drop("sh")
        sh = tbl.select("doc_id", "sh")

        def _verify(pairs):
            return (
                pairs.join(
                    sh.select(F.col("doc_id").alias("src"),
                              F.col("sh").alias("sh_a")), "src")
                .join(
                    sh.select(F.col("doc_id").alias("dst"),
                              F.col("sh").alias("sh_b")), "dst")
                .filter(
                    F.floor(
                        F.size(F.array_intersect("sh_a", "sh_b")) * 1000
                        / F.size(F.array_union("sh_a", "sh_b"))
                    ) >= FUNNEL_THRESH
                )
                .select("src", "dst")
            )

        def bands_of(sg):
            r = MH_BAND_R
            arr = F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            ":", *[F.col(f"h{r * b + i}") for i in range(r)]
                        ).alias("bucket"),
                    )
                    for b in range(MH_PERMS // r)
                ]
            )
            return sg.select("doc_id", F.explode(arr).alias("bb")).select(
                "doc_id", "bb.band", "bb.bucket"
            )

        bsig = sigs.filter(is_batch)
        isig = sigs.filter(~is_batch)
        # the three incremental edge families: index self (paid at build),
        # within-batch self, batch-vs-index cross
        index_pairs = _verify(_band_join_spark(s, d, sigs=isig))
        internal = _verify(_band_join_spark(s, d, sigs=bsig))
        cross = _verify(
            cross_band_pairs(bands_of(bsig), bands_of(isig), bucket_cap=2000)
        )

        icomp = connected_components(index_pairs)
        imap = (
            igrp.select("doc_id")
            .join(icomp, F.col("doc_id") == F.col("node"), "left")
            .select(
                "doc_id", F.coalesce("component", "doc_id").alias("cluster")
            )
            .localCheckpoint(eager=True)
        )
        edges2 = (
            cross.join(
                imap.withColumnRenamed("doc_id", "dst"), "dst"
            ).select("src", F.col("cluster").alias("dst"))
            .unionByName(internal)
        )
        comp2 = connected_components(edges2)
        bmap = (
            fresh.select("doc_id")
            .join(comp2, F.col("doc_id") == F.col("node"), "left")
            .select(
                "doc_id", F.coalesce("component", "doc_id").alias("cluster")
            )
        )
        iresolved = imap.join(
            comp2, imap["cluster"] == comp2["node"], "left"
        ).select(
            "doc_id",
            F.coalesce("component", "cluster").alias("cluster"),
        )
        return iresolved.unionByName(bmap)

    q["incremental_clusters"] = incr_clusters

    def stream_incr(s, d):
        """REAL Structured-Streaming ingest over a persistent DedupIndex:
        two micro-batch files drain through stream_ingest's foreachBatch
        loop (classify -> write survivors -> append to the index), so
        batch 1 deduplicates against what batch 0 ingested.  The near
        tier is disabled (jaccard_threshold > 1) so the run is exactly
        the fingerprint tier — text-equality semantics DuckDB replays
        verbatim (the near tier is hash-checked by incremental_near_dups;
        xxhash64 ids are unreplayable, so survivors map back to
        min(original doc_id) per surviving text group).  Plants: index
        docs (%10==2) re-enter in batch 0; batch-0 docs (%10==1) re-enter
        in batch 1 — the latter are dropped ONLY if batch 0's append took
        effect."""
        import os
        import tempfile

        from humid_spark.config import DedupConfig
        from humid_spark.plans.incremental import DedupIndex
        from humid_spark.streaming.incremental import stream_ingest

        docs = _t(s, d, "documents").filter(
            F.col("text").isNotNull() & (F.length("text") >= 5)
        )
        idx_docs = docs.filter(F.col("doc_id") % 3 == 2)
        b0 = (
            docs.filter(F.col("doc_id") % 3 == 1)
            .select("doc_id", "text")
            .unionByName(
                idx_docs.filter(F.col("doc_id") % 10 == 2).select(
                    (-F.col("doc_id") - 1).alias("doc_id"), "text"
                )
            )
        )
        b1 = (
            docs.filter(F.col("doc_id") % 3 == 0)
            .select("doc_id", "text")
            .unionByName(
                docs.filter(
                    (F.col("doc_id") % 3 == 1) & (F.col("doc_id") % 10 == 1)
                ).select((-F.col("doc_id") - 1).alias("doc_id"), "text")
            )
        )

        def pagify(df):
            return df.select(
                F.concat(
                    F.lit("doc://"), F.col("doc_id").cast("string")
                ).alias("url"),
                F.timestamp_seconds(F.lit(1767225600)).alias("warc_ts"),
                F.lit(None).cast("binary").alias("html"),
                "text",
                F.lit("en").alias("lang"),
            )

        tmp = tempfile.mkdtemp(prefix="incr_stream_")
        cfg = DedupConfig(jaccard_threshold=1.01)  # exact tier only
        index = DedupIndex.build(pagify(idx_docs), cfg, f"{tmp}/idx")
        pagify(b0).coalesce(1).write.parquet(f"{tmp}/src/f0")
        pagify(b1).coalesce(1).write.parquet(f"{tmp}/src/f1")
        # pin micro-batch order: the file source processes oldest-first
        for i, sub in enumerate(("f0", "f1")):
            base = f"{tmp}/src/{sub}"
            for fn in os.listdir(base):
                os.utime(os.path.join(base, fn), (1700000000 + i * 60,) * 2)
        stream = (
            s.readStream.schema(pagify(b0).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{tmp}/src/f*")
        )
        qy = (
            stream_ingest(stream, index, f"{tmp}/out", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        qy.awaitTermination(300)

        outs = []
        for bi, src in ((0, b0), (1, b1)):
            sv = s.read.parquet(f"{tmp}/out/batch_id={bi}/survivors").select(
                "text_hash"
            )
            outs.append(
                src.withColumn("th", F.xxhash64("text"))
                .join(sv, F.col("th") == F.col("text_hash"))
                .groupBy("text_hash")
                .agg(F.min("doc_id").alias("keep_id"))
                .select(F.lit(bi).cast("long").alias("batch"), "keep_id")
            )
        return outs[0].unionByName(outs[1])

    q["streaming_incremental_ingest"] = stream_incr

    # --- text analytics: token/punct/stopword stats + the C4/Gopher
    #     repetition signals (duplicated word-3-gram share, top-2-gram
    #     share, mean word length) in ONE row per doc — pure JVM
    #     expressions, integer permille, bit-identical SQL (round-6 fold
    #     of text_stats + repetition_stats; repetition columns are NULL
    #     for NULL text, matching the old filter) ---
    def text_quality_stats(s, d):
        from humid_spark.functions import textstats as ts

        t = F.col("text")
        nn = t.isNotNull()
        return _ts(s, d, "documents").select(
            "doc_id",
            ts.token_count(t).cast("long").alias("tokens"),
            ts.token_estimate(t).alias("token_est"),
            ts.punct_permille(t).alias("punct_permille"),
            ts.stopword_permille(t).alias("stopword_permille"),
            F.when(nn, ts.dup_ngram_permille(t)).alias("dup3_permille"),
            F.when(nn, ts.top_ngram_share_permille(t)).alias("top2_permille"),
            F.when(nn, ts.mean_word_len_permille(t)).alias("word_len_permille"),
        )

    q["text_quality_stats"] = text_quality_stats

    def url_canonical(s, d):
        """Key-space dedup: the same fetch reachable through case drift,
        default ports, tracking params, fragments and trailing slashes
        collapses under functions/urls.canonical_url BEFORE content dedup
        ever runs.  URLs are planted deterministically from doc_id (the
        driver tables carry no url column); variant rows get id
        -doc_id-1, so every dup group's keep_doc_id pins the grouping."""
        from humid_spark.functions.urls import canonical_url

        ids = _t(s, d, "documents").select("doc_id")
        site = F.col("doc_id") % 50
        page = F.col("doc_id")

        def u(*parts):
            return F.concat(*[
                p if isinstance(p, F.Column) else F.lit(p) for p in parts
            ])

        base = ids.select(
            "doc_id",
            u("http://site", site.cast("string"), ".example.com/page/",
              page.cast("string")).alias("url"),
        )
        v1 = ids.filter(F.col("doc_id") % 4 == 1).select(
            (-F.col("doc_id") - 1).alias("doc_id"),
            u("HTTP://SITE", site.cast("string"), ".EXAMPLE.COM:80/page/",
              page.cast("string"), "?utm_source=crawl").alias("url"),
        )
        v2 = ids.filter(F.col("doc_id") % 4 == 2).select(
            (-F.col("doc_id") - 1).alias("doc_id"),
            u("http://site", site.cast("string"), ".example.com/page/",
              page.cast("string"), "/#section-2").alias("url"),
        )
        return (
            base.unionByName(v1).unionByName(v2)
            .select("doc_id", canonical_url(F.col("url")).alias("canon"))
            .groupBy("canon")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min("doc_id").alias("keep_doc_id"))
        )

    q["url_canonical_dups"] = url_canonical

    def stratified_sample(s, d):
        """Curation-style downsampling: keep all 'good' docs, half the
        'short', a tenth of the 'noisy' — the inclusion gate is a
        deterministic md5 bucket of doc_id (functions/sampling.py), so
        the selected set is identical across engines, partitionings and
        re-runs (and nested: raising a rate only ADDS rows)."""
        from humid_spark.functions import textstats as ts
        from humid_spark.functions.sampling import sample_flag

        t = F.col("text")
        rate = (
            F.when(ts.quality_class(t) == "good", F.lit(1000))
            .when(ts.quality_class(t) == "short", F.lit(500))
            .otherwise(F.lit(100))
        )
        return (
            _t(s, d, "documents")
            .filter(t.isNotNull())
            .filter(sample_flag(F.col("doc_id"), rate))
            .select("doc_id", ts.quality_class(t).alias("quality"))
        )

    q["stratified_sample"] = stratified_sample

    def curation_funnel(s, d):
        """The END-TO-END training-data curation chain, composed from the
        library's own tiers and hash-checked as one funnel:

          input (+ planted url variants and exact re-entries)
          -> url-canonical collapse        (functions/urls.py)
          -> quality gate (drop 'short')   (functions/textstats.py)
          -> stratified deterministic sample (good 1000 / rest 700
             permille; functions/sampling.py)
          -> exact text dedup
          -> near dedup (parity MinHash -> bands -> Jaccard >= 0.5
             -> connected components)

        Plants: doc_id % 4 == 1 re-enters under a tracking-param/case
        variant url (id -2*doc_id-1; removed by the url tier);
        doc_id % 10 == 3 re-enters with identical text under a DIFFERENT
        url (id -2*doc_id-2; survives the url tier, removed by the exact
        tier when both copies survive the gates).  Disjoint odd/even
        negative id spaces — collision-free at any scale factor."""
        from humid_spark.functions import textstats as ts
        from humid_spark.functions.sampling import sample_flag
        from humid_spark.functions.signatures import sql_parity_sig_table
        from humid_spark.functions.urls import canonical_url
        from humid_spark.operators.cc import connected_components

        docs = _t(s, d, "documents").filter(
            F.col("text").isNotNull() & (F.length("text") >= MH_K)
        ).select("doc_id", "text")
        site = F.col("doc_id") % 50

        def u(*parts):
            return F.concat(*[
                p if isinstance(p, F.Column) else F.lit(p) for p in parts
            ])

        base = docs.select(
            F.col("doc_id").alias("rid"), "text",
            u("http://site", site.cast("string"), ".example.com/page/",
              F.col("doc_id").cast("string")).alias("url"),
        )
        v_url = docs.filter(F.col("doc_id") % 4 == 1).select(
            (-F.col("doc_id") * 2 - 1).alias("rid"), "text",
            u("HTTP://SITE", site.cast("string"), ".EXAMPLE.COM:80/page/",
              F.col("doc_id").cast("string"), "?utm_source=crawl")
            .alias("url"),
        )
        v_exact = docs.filter(F.col("doc_id") % 10 == 3).select(
            (-F.col("doc_id") * 2 - 2).alias("rid"), "text",
            u("http://site", site.cast("string"), ".example.com/page/",
              F.col("doc_id").cast("string"), "-alt").alias("url"),
        )
        rows = base.unionByName(v_url).unionByName(v_exact)

        url_kept = (
            rows.groupBy(canonical_url(F.col("url")).alias("canon"))
            .agg(F.min(F.struct("rid", "text")).alias("first"))
            .select(F.col("first.rid").alias("rid"),
                    F.col("first.text").alias("text"))
        )
        quality_kept = url_kept.filter(
            ts.quality_class(F.col("text")) != "short"
        )
        rate = F.when(
            ts.quality_class(F.col("text")) == "good", F.lit(1000)
        ).otherwise(F.lit(700))
        sampled = quality_kept.filter(sample_flag(F.col("rid"), rate))
        grp = sampled.groupBy("text").agg(
            F.min("rid").alias("doc_id"), F.count(F.lit(1)).alias("cnt")
        )
        tbl = sql_parity_sig_table(
            grp.select("doc_id", "text").repartition(
                s.sparkContext.defaultParallelism
            ),
            MH_K, MH_PERMS,
        ).localCheckpoint(eager=True)
        pairs = _band_join_spark(s, d, sigs=tbl.drop("sh"))
        sh = tbl.select("doc_id", "sh")
        ver = (
            pairs
            .join(sh.select(F.col("doc_id").alias("src"),
                            F.col("sh").alias("sh_a")), "src")
            .join(sh.select(F.col("doc_id").alias("dst"),
                            F.col("sh").alias("sh_b")), "dst")
            .filter(
                F.floor(F.size(F.array_intersect("sh_a", "sh_b")) * 1000
                        / F.size(F.array_union("sh_a", "sh_b")))
                >= FUNNEL_THRESH
            )
            .select("src", "dst")
        )
        comp = connected_components(ver)

        def one(df, *pairs_):
            return df.agg(*[
                expr.alias(name) for name, expr in pairs_
            ]).selectExpr(
                f"stack({len(pairs_)}, "
                + ", ".join(f"'{n}', {n}" for n, _ in pairs_)
                + ") AS (m, v)"
            )

        stages = (
            one(rows, ("n_input", F.count(F.lit(1))))
            .unionByName(one(url_kept, ("url_kept", F.count(F.lit(1)))))
            .unionByName(
                one(quality_kept, ("quality_kept", F.count(F.lit(1)))))
            .unionByName(one(sampled, ("sampled", F.count(F.lit(1)))))
            .unionByName(one(grp, ("exact_unique", F.count(F.lit(1)))))
            .unionByName(one(ver, ("near_edges", F.count(F.lit(1)))))
            .unionByName(one(comp, (
                "cc_nodes", F.count(F.lit(1))), (
                "cc_comps", F.countDistinct("component"))))
        )
        names = ("n_input", "url_kept", "quality_kept", "sampled",
                 "exact_unique", "near_edges", "cc_nodes", "cc_comps")
        row = stages.agg(*[
            F.max(F.when(F.col("m") == n, F.col("v"))).alias(n)
            for n in names
        ])
        return row.selectExpr(
            "stack(8, "
            "'n_input', n_input, "
            "'url_removed', n_input - url_kept, "
            "'quality_removed', url_kept - quality_kept, "
            "'sample_removed', quality_kept - sampled, "
            "'exact_removed', sampled - exact_unique, "
            "'near_edges', near_edges, "
            "'near_removed', cc_nodes - cc_comps, "
            "'kept', exact_unique - (cc_nodes - cc_comps)"
            ") AS (metric, value)"
        )

    q["curation_funnel"] = curation_funnel

    # --- document classification counts: quality classes and
    #     declared-lang x n-gram-heuristic lang-guess confusion cells,
    #     stacked under a `kind` tag (round-6 fold of quality_class_counts
    #     + lang_guess_counts; both classifiers still run) ---
    def doc_class_counts(s, d):
        from humid_spark.functions import textstats as ts

        docs = _ts(s, d, "documents")
        qc = (
            docs.groupBy(ts.quality_class(F.col("text")).alias("cls"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.lit("quality").alias("kind"), "cls", "n")
        )
        lg = (
            docs.groupBy(
                F.concat(
                    F.coalesce(F.col("lang"), F.lit("")),
                    F.lit(":"),
                    F.coalesce(ts.lang_guess(F.col("text")), F.lit("")),
                ).alias("cls")
            )
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.lit("lang").alias("kind"), "cls", "n")
        )
        return qc.unionByName(lg)

    q["doc_class_counts"] = doc_class_counts

    def fp_dups(s, d):
        from humid_spark.functions import textstats as ts

        return (
            _ts(s, d, "documents")
            .groupBy(ts.fingerprint(F.col("text")).alias("fp"))
            .agg(F.count(F.lit(1)).alias("n"), F.min("doc_id").alias("keep_doc_id"))
        )

    q["fingerprint_exact_dups"] = fp_dups

    # --- decontamination: benchmark n-gram overlap (round 6) ---
    def decontaminate_q(s, d):
        """GPT-3-style eval decontamination over the documents table.
        The benchmark is synthesized deterministically from the corpus
        itself: every doc_id % 23 == 3 contributes a 20-token prompt
        sliced from the middle of its own text (tokens 11..30), so each
        source doc is contaminated by construction whenever it has
        >= 11+8 tokens, shorter docs exercise the empty-gram path, and
        any additional hits are genuine cross-doc 8-gram repeats — all
        replayable in SQL gram-for-gram (functions/textstats twins)."""
        from humid_spark.functions.textstats import _tokens
        from humid_spark.operators.decontam import contamination_stats

        docs = _ts(s, d, "documents")
        prompt = F.concat_ws(
            " ", F.slice(_tokens(F.coalesce(F.col("text"), F.lit(""))),
                         11, 20)
        )
        bench = docs.filter(F.col("doc_id") % 23 == 3).select(
            prompt.alias("prompt")
        )
        return contamination_stats(docs, bench, n=8, prompt_col="prompt")

    q["decontaminate"] = decontaminate_q

    # --- PII scrub: emails / IPv4 / SSN-shaped ids (round 6) ---
    def pii_scrub_stats(s, d):
        """Counts + scrubbed-text digest per doc.  The corpus is lorem
        text (no real PII), so PII is PLANTED deterministically from
        doc_id: % 11 == 4 docs get two emails, % 13 == 6 docs get an
        IPv4 + an SSN-shaped id (docs ≡ 58 mod 143 get both tails).
        scrubbed_md5
        hash-checks the full redacted text without shipping it."""
        from humid_spark.functions import pii

        t = F.coalesce(F.col("text"), F.lit(""))
        planted = F.concat(
            t,
            F.when(
                F.col("doc_id") % 11 == 4,
                F.concat(F.lit(" contact user"),
                         F.col("doc_id").cast("string"),
                         F.lit("@example.org or admin@mail.example.com")),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 13 == 6,
                F.concat(F.lit(" host 10.0."),
                         (F.col("doc_id") % 256).cast("string"),
                         F.lit(".7 ssn 123-45-6789")),
            ).otherwise(F.lit("")),
        )
        return _ts(s, d, "documents").select(
            "doc_id", planted.alias("pt")
        ).select(
            "doc_id",
            pii.email_count(F.col("pt")).alias("n_emails"),
            pii.ipv4_count(F.col("pt")).alias("n_ips"),
            pii.ssn_count(F.col("pt")).alias("n_ssns"),
            F.md5(pii.scrub_pii(F.col("pt"))).alias("scrubbed_md5"),
        )

    q["pii_scrub_stats"] = pii_scrub_stats

    # --- relational coverage (agg / join / window over TPC-H-ish tables) ---
    def pricing(s, d):
        li = _t(s, d, "lineitem")
        return (
            li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(
                # decimal sums are exact -> bit-identical across engines
                F.sum(F.col("l_quantity").cast("decimal(20,2)"))
                .cast("double").alias("sum_qty"),
                F.sum(F.col("l_extendedprice").cast("decimal(20,2)"))
                .cast("double").alias("sum_base_price"),
                F.count(F.lit(1)).alias("count_order"),
            )
        )

    q["pricing_summary"] = pricing

    def top_customers(s, d):
        o = _t(s, d, "orders")
        c = _t(s, d, "customer")
        agg = o.groupBy("o_custkey").agg(
            F.count(F.lit(1)).alias("order_count"),
        )
        return (
            agg.join(c, agg["o_custkey"] == c["c_custkey"])
            .filter(F.col("order_count") >= 12)
            .select(
                F.col("c_custkey").alias("custkey"),
                F.col("c_name").alias("name"),
                "order_count",
            )
        )

    q["top_customers"] = top_customers

    def events_daily(s, d):
        e = _t(s, d, "events")
        return (
            e.groupBy(
                F.date_format("ts", "yyyy-MM-dd").alias("day"),
                "event_type",
            )
            .agg(
                F.count(F.lit(1)).alias("n"),
                # integer-ize per row BEFORE summing: float-sum ordering is
                # engine-dependent, integer sums are exact
                F.sum(F.floor(F.col("value") * 1000).cast("long")).alias("value_millis"),
            )
        )

    q["events_daily"] = events_daily

    # --- window functions: sessionization over the events stream table ---
    def user_sessions(s, d):
        from pyspark.sql import Window

        e_ = _t(s, d, "events")
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        es = F.col("ts").cast("timestamp").cast("long")
        prev = F.lag(es).over(w)
        new_sess = F.when(
            prev.isNull() | ((es - prev) > 1800), 1
        ).otherwise(0)
        return (
            e_.withColumn("new_sess", new_sess)
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum("new_sess").cast("long").alias("n_sessions"),
            )
        )

    q["user_sessions"] = user_sessions

    # --- SimHash near-dup pairs: 64-bit engine fingerprints, bit-band
    #     blocking.  Oracle-checked since round 3: the full mix64 +
    #     per-bit-majority math is re-expressed in DuckDB HUGEINT
    #     arithmetic (see oracle_sql), and the band blocking is exactly
    #     equivalent to brute-force hamming<=max_bits by pigeonhole. ---
    def simhash_pairs_q(s, d):
        from humid_spark.functions.signatures import make_simhash_udf
        from humid_spark.operators.lsh import simhash_pairs

        sims = _t(s, d, "documents").select(
            "doc_id", make_simhash_udf(MH_K)(F.col("text")).alias("simhash")
        )
        return simhash_pairs(sims).withColumn(
            "bit_dist", F.col("bit_dist").cast("long")
        )

    q["simhash_near_dups"] = simhash_pairs_q

    # --- containment/substring dups: winnowing fingerprints (batched
    #     numpy UDF; oracle-checked — the full winnowing pass is
    #     re-expressed in DuckDB list ops, see oracle_sql) ---
    def containment_q(s, d):
        from humid_spark.operators.containment import containment_pairs

        return containment_pairs(_t(s, d, "documents"), min_share=0.6)

    q["containment_pairs"] = containment_q

    # --- directional clustering: non-SQL-expressible (sequential greedy,
    #     src/cluster.cc:39-87) -> rows-only check; exact parity is pinned by
    #     tests/test_pipeline.py against the pure-Python oracle. ---
    def directional(s, d):
        from humid_spark.operators.directional import cluster_keys

        uniq = _uniq(s, d).select(
            "key", F.col("cnt").alias("count"),
            F.lit(None).cast("timestamp").alias("first_ts"),
            F.col("first_doc_id").cast("string").alias("first_url"),
        )
        return cluster_keys(uniq, _pairs_h1(s, d)).select(
            "key", "cluster_id", "cluster_size", "max_key"
        )

    q["directional_clusters"] = directional

    # (max_clusters_n12 folded into components_n12 — see
    #  _register_dedup_chain(with_ids=True): flood fill covers the whole
    #  connected component (src/cluster.cc:72-80), so membership, size and
    #  the global seed-rank id are all SQL-expressible; the REAL engine
    #  path — per-component greedy replay in applyInPandas + global seed
    #  rank — runs inside that query.)

    # --- G2 invariants: the directional greedy is sequential (not SQL-
    #     expressible), but its OUTPUT obeys hard invariants DuckDB can pin:
    #     clusters partition the keys (size_sum == total_count), every
    #     cluster stays inside one connected component, cluster_size /
    #     max_key / max_count / seed are internally consistent, ids are
    #     dense from 1.  The Spark side measures violation counts on the
    #     real replay output; the oracle states the expected constants. ---
    def directional_invariants_n12(s, d):
        from humid_spark.operators.directional import cluster_keys

        uniq = _uniq(s, d, N12).select(
            "key", F.col("cnt").alias("count"),
            F.lit(None).cast("timestamp").alias("first_ts"),
            F.col("first_doc_id").cast("string").alias("first_url"),
        )
        cl = cluster_keys(uniq, _pairs_h1(s, d, N12))
        per = cl.groupBy("cluster_id").agg(
            F.count(F.lit(1)).alias("n_members"),
            F.count_distinct("component").alias("n_comp"),
            F.max("cluster_size").alias("sz_max"),
            F.min("cluster_size").alias("sz_min"),
            F.sum("count").alias("cnt_sum"),
            F.count_distinct("max_key").alias("n_maxkey"),
            F.max(
                F.when(F.col("key") == F.col("max_key"), F.col("count"))
            ).alias("maxkey_cnt"),
            F.max("max_count").alias("mc"),
            F.max("count").alias("member_max_cnt"),
            F.max(
                F.when(F.col("key") == F.col("cluster_seed"), 1).otherwise(0)
            ).alias("seed_member"),
        )
        return per.agg(
            F.sum("n_members").cast("long").alias("n_keys"),
            F.sum("cnt_sum").cast("long").alias("total_count"),
            F.sum("sz_max").cast("long").alias("size_sum"),
            (
                (F.min("cluster_id") == 1)
                & (F.max("cluster_id") == F.count(F.lit(1)))
            ).alias("ids_dense"),
            F.count_if(F.col("n_comp") > 1).alias("cross_component"),
            F.count_if(
                (F.col("sz_max") != F.col("sz_min"))
                | (F.col("cnt_sum") != F.col("sz_max"))
            ).alias("size_bad"),
            F.count_if(
                (F.col("n_maxkey") != 1)
                | F.col("maxkey_cnt").isNull()
                | (F.col("maxkey_cnt") != F.col("mc"))
                | (F.col("mc") != F.col("member_max_cnt"))
            ).alias("maxkey_bad"),
            F.count_if(F.col("seed_member") == 0).alias("seed_bad"),
        )

    q["directional_invariants_n12"] = directional_invariants_n12

    # --- exact substring duplicates (the north-star's suffix-array pass;
    #     winnowing-candidate + contains() verify, recall-1 argument in
    #     humid_spark.operators.containment.substring_dups).  The word-soup
    #     docs contain no natural substring dups, so both engines derive
    #     the SAME augmented table: every 7th doc contributes a 150-char
    #     snippet (id + 1,000,000) — real contained pairs, non-vacuous. ---
    def substring_q(s, d):
        from humid_spark.operators.containment import substring_dups

        docs = _t(s, d, "documents").select("doc_id", "text")
        snip = (
            docs.filter((F.col("doc_id") % 7 == 0) & F.col("text").isNotNull())
            .select(
                (F.col("doc_id") + 1_000_000).alias("doc_id"),
                F.substring("text", 31, 150).alias("text"),
            )
        )
        return substring_dups(docs.union(snip))

    q["substring_dups"] = substring_q

    missing = [k for k in _ORDER if k not in q]
    extra = [k for k in q if k not in _ORDER]
    assert not missing and not extra, (missing, extra)
    return {k: q[k] for k in _ORDER}


# Registration order of the 38 queries; all of them fit the first-50
# record.
_ORDER = [
    # containment, substring and directional-clustering checks
    "containment_pairs",
    "substring_dups",
    "directional_clusters",
    "directional_invariants_n12",
    # n=24 reference-config dedup chain (folded, see _register_dedup_chain)
    "exact_dup_counts", "neighbour_pairs", "dedup_histograms",
    "components", "representatives", "annotate",
    # n=12 chain — real merges at sf0.01; components_n12 carries the
    # maximum-clustering ids (former max_clusters_n12)
    "exact_dup_counts_n12", "neighbour_pairs_n12", "dedup_histograms_n12",
    "components_n12", "representatives_n12", "annotate_n12",
    # core web-dedup + incremental tiers
    "scalar_stats", "signatures", "lsh_band_pairs", "ngram_jaccard_pairs",
    "simhash_near_dups", "web_dedup_funnel",
    "incremental_exact_dedup", "incremental_near_dups",
    "incremental_clusters", "streaming_incremental_ingest",
    # curation / text analysis (round 6 adds decontamination + PII scrub)
    "text_quality_stats", "doc_class_counts", "url_canonical_dups",
    "stratified_sample", "curation_funnel", "fingerprint_exact_dups",
    "decontaminate", "pii_scrub_stats",
    # relational coverage (agg / join / window)
    "pricing_summary", "top_customers", "events_daily", "user_sessions",
]


def oracle_sql() -> dict[str, str]:
    o: dict[str, str] = {}

    _register_dedup_chain_sql(o, N, "")
    _register_dedup_chain_sql(o, N12, "_n12", with_ids=True)

    o["scalar_stats"] = (
        "SELECT count(*) AS total, "
        "count(*) FILTER (WHERE text IS NOT NULL AND length(text) >= 24) AS usable, "
        "count(DISTINCT CASE WHEN text IS NOT NULL AND length(text) >= 24 "
        "THEN substr(text, 1, 24) END) AS \"unique\" FROM documents"
    )

    from humid_spark.functions.signatures import simhash_sql_duckdb

    o["signatures"] = (
        f"SELECT m.*, x.simhash16 FROM ({_sig_sql_duck()}) m JOIN "
        f"(SELECT doc_id, {simhash_sql_duckdb('text', MH_K)} AS simhash16 "
        f"FROM documents) x USING (doc_id)"
    )

    o["lsh_band_pairs"] = _band_join_duck()

    o["ngram_jaccard_pairs"] = f"""
        WITH sh AS ({_SQL_SHINGLES}), p AS ({_band_join_duck()})
        SELECT p.src, p.dst,
               (1000 * len(list_intersect(a.sh, b.sh)))
                 // len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard_permille
        FROM p JOIN sh a ON p.src = a.doc_id JOIN sh b ON p.dst = b.doc_id
    """

    # --- web_dedup_funnel: the full dedup chain replayed in SQL —
    #     planted exact dups -> text grouping -> md5-parity signatures ->
    #     band join -> Jaccard >= FUNNEL_THRESH -> recursive-CTE
    #     connected components -> tier counts.  Hash-matching this checks
    #     the engine's CC over document pairs end to end (counts are
    #     labeling-convention-free but break on any wrong merge/split). ---
    from humid_spark.functions.signatures import P31 as _P31
    from humid_spark.functions.signatures import _sql_perm_coeffs

    _fsh = (
        f"list_distinct(list_transform("
        f"generate_series(1, greatest(1, length(text) - {MH_K - 1})), "
        f"i -> cast(('0x' || substr(md5(substring(text, i, {MH_K})), 1, 14))"
        f" as bigint) % {_P31}))"
    )
    _fmins = ", ".join(
        f"list_min(list_transform(sh, h -> ((h * {a}) % {_P31} + {b})"
        f" % {_P31})) AS h{j}"
        for j, (a, b) in enumerate(_sql_perm_coeffs(MH_PERMS))
    )
    _fbands = " OR ".join(
        "(" + " AND ".join(
            f"a.h{MH_BAND_R * b + i} = b.h{MH_BAND_R * b + i}"
            for i in range(MH_BAND_R)
        ) + ")"
        for b in range(MH_PERMS // MH_BAND_R)
    )
    o["web_dedup_funnel"] = f"""
        WITH RECURSIVE
        corpus AS (
          SELECT doc_id, text FROM documents
          WHERE text IS NOT NULL AND length(text) >= {MH_K}
          UNION ALL
          SELECT -doc_id - 1, text FROM documents
          WHERE doc_id % 10 = 0 AND text IS NOT NULL
            AND length(text) >= {MH_K}
        ),
        grp AS (SELECT min(doc_id) AS doc_id, any_value(text) AS text,
                       count(*) AS cnt
                FROM corpus GROUP BY text),
        shg AS (SELECT doc_id, {_fsh} AS sh FROM grp),
        sigs AS (SELECT doc_id, {_fmins} FROM shg),
        cand AS (
          SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
          FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id AND ({_fbands})
        ),
        ver AS (
          SELECT c.src, c.dst
          FROM cand c JOIN shg x ON c.src = x.doc_id
                      JOIN shg y ON c.dst = y.doc_id
          WHERE (1000 * len(list_intersect(x.sh, y.sh)))
                // len(list_distinct(list_concat(x.sh, y.sh)))
                >= {FUNNEL_THRESH}
        ),
        edges AS (SELECT src, dst FROM ver
                  UNION ALL SELECT dst, src FROM ver),
        nodes AS (SELECT DISTINCT src AS n FROM edges),
        reach(n, comp) AS (
          SELECT n, n FROM nodes
          UNION
          SELECT e.src, r.comp FROM reach r JOIN edges e ON e.dst = r.n
        ),
        cc AS (SELECT n, min(comp) AS comp FROM reach GROUP BY n),
        agg AS (
          SELECT (SELECT CAST(sum(cnt) AS BIGINT) FROM grp) AS total_usable,
                 (SELECT count(*) FROM grp) AS exact_unique,
                 (SELECT count(*) FROM ver) AS near_edges,
                 (SELECT count(*) FROM cc) AS cc_nodes,
                 (SELECT count(DISTINCT comp) FROM cc) AS cc_comps
        )
        SELECT metric, CAST(value AS BIGINT) AS value FROM (
          SELECT 'total_usable' AS metric, total_usable AS value FROM agg
          UNION ALL SELECT 'exact_unique', exact_unique FROM agg
          UNION ALL SELECT 'exact_removed', total_usable - exact_unique
            FROM agg
          UNION ALL SELECT 'near_edges', near_edges FROM agg
          UNION ALL SELECT 'near_removed', cc_nodes - cc_comps FROM agg
          UNION ALL SELECT 'kept', exact_unique - (cc_nodes - cc_comps)
            FROM agg
        )
    """

    from humid_spark.functions import textstats as ts

    o["text_quality_stats"] = (
        f"SELECT doc_id, {ts.sql_token_count('text')} AS tokens, "
        f"(length(coalesce(text, '')) + 3) // 4 AS token_est, "
        f"{ts.sql_punct_permille('text')} AS punct_permille, "
        f"{ts.sql_stopword_permille('text')} AS stopword_permille, "
        f"CASE WHEN text IS NOT NULL THEN "
        f"{ts.sql_dup_ngram_permille('text')} END AS dup3_permille, "
        f"CASE WHEN text IS NOT NULL THEN "
        f"{ts.sql_top_ngram_share_permille('text')} END AS top2_permille, "
        f"CASE WHEN text IS NOT NULL THEN "
        f"{ts.sql_mean_word_len_permille('text')} END AS word_len_permille "
        f"FROM documents"
    )

    from humid_spark.functions.urls import sql_canonical_url

    o["url_canonical_dups"] = f"""
        WITH planted AS (
          SELECT doc_id,
                 'http://site' || CAST(doc_id % 50 AS VARCHAR) ||
                 '.example.com/page/' || CAST(doc_id AS VARCHAR) AS url
          FROM documents
          UNION ALL
          SELECT -doc_id - 1,
                 'HTTP://SITE' || CAST(doc_id % 50 AS VARCHAR) ||
                 '.EXAMPLE.COM:80/page/' || CAST(doc_id AS VARCHAR) ||
                 '?utm_source=crawl'
          FROM documents WHERE doc_id % 4 = 1
          UNION ALL
          SELECT -doc_id - 1,
                 'http://site' || CAST(doc_id % 50 AS VARCHAR) ||
                 '.example.com/page/' || CAST(doc_id AS VARCHAR) ||
                 '/#section-2'
          FROM documents WHERE doc_id % 4 = 2
        )
        SELECT {sql_canonical_url('url')} AS canon, count(*) AS n,
               min(doc_id) AS keep_doc_id
        FROM planted GROUP BY 1
    """

    from humid_spark.functions.sampling import sql_sample_flag

    _q_rate = (
        f"(case when {ts.sql_quality_class('text')} = 'good' then 1000 "
        f"when {ts.sql_quality_class('text')} = 'short' then 500 "
        f"else 100 end)"
    )
    o["stratified_sample"] = (
        f"SELECT doc_id, {ts.sql_quality_class('text')} AS quality "
        f"FROM documents WHERE text IS NOT NULL "
        f"AND {sql_sample_flag('doc_id', _q_rate)}"
    )

    # curation_funnel: every tier is individually SQL-replayable (canonical
    # url, quality class, md5 sample gate, text grouping, parity sigs,
    # banding, Jaccard, recursive-CTE components) — this replays the whole
    # COMPOSITION.  The url tier keeps arg-min-by-rid (Spark: min over
    # struct(rid, text); rid is unique per group, so it is the same pick).
    _cur_rate = (
        f"(case when {ts.sql_quality_class('text')} = 'good' "
        f"then 1000 else 700 end)"
    )
    o["curation_funnel"] = f"""
        WITH RECURSIVE
        d AS (SELECT doc_id, text FROM documents
              WHERE text IS NOT NULL AND length(text) >= {MH_K}),
        rows_ AS (
          SELECT doc_id AS rid, text,
                 'http://site' || CAST(doc_id % 50 AS VARCHAR) ||
                 '.example.com/page/' || CAST(doc_id AS VARCHAR) AS url
          FROM d
          UNION ALL
          SELECT -doc_id * 2 - 1, text,
                 'HTTP://SITE' || CAST(doc_id % 50 AS VARCHAR) ||
                 '.EXAMPLE.COM:80/page/' || CAST(doc_id AS VARCHAR) ||
                 '?utm_source=crawl'
          FROM d WHERE doc_id % 4 = 1
          UNION ALL
          SELECT -doc_id * 2 - 2, text,
                 'http://site' || CAST(doc_id % 50 AS VARCHAR) ||
                 '.example.com/page/' || CAST(doc_id AS VARCHAR) || '-alt'
          FROM d WHERE doc_id % 10 = 3
        ),
        uk AS (
          SELECT min(rid) AS rid, arg_min(text, rid) AS text
          FROM rows_ GROUP BY {sql_canonical_url('url')}
        ),
        qk AS (SELECT rid, text FROM uk
               WHERE {ts.sql_quality_class('text')} != 'short'),
        sk AS (SELECT rid, text FROM qk
               WHERE {sql_sample_flag('rid', _cur_rate)}),
        grp AS (SELECT text, min(rid) AS doc_id, count(*) AS cnt
                FROM sk GROUP BY text),
        shg AS (SELECT doc_id, {_fsh} AS sh FROM grp),
        sigs AS (SELECT doc_id, {_fmins} FROM shg),
        cand AS (
          SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
          FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id AND ({_fbands})
        ),
        ver AS (
          SELECT c.src, c.dst
          FROM cand c JOIN shg x ON c.src = x.doc_id
                      JOIN shg y ON c.dst = y.doc_id
          WHERE (1000 * len(list_intersect(x.sh, y.sh)))
                // len(list_distinct(list_concat(x.sh, y.sh)))
                >= {FUNNEL_THRESH}
        ),
        edges AS (SELECT src, dst FROM ver
                  UNION ALL SELECT dst, src FROM ver),
        nodes AS (SELECT DISTINCT src AS n FROM edges),
        reach(n, comp) AS (
          SELECT n, n FROM nodes
          UNION
          SELECT e.src, r.comp FROM reach r JOIN edges e ON e.dst = r.n
        ),
        cc AS (SELECT n, min(comp) AS comp FROM reach GROUP BY n),
        agg AS (
          SELECT (SELECT count(*) FROM rows_) AS n_input,
                 (SELECT count(*) FROM uk) AS url_kept,
                 (SELECT count(*) FROM qk) AS quality_kept,
                 (SELECT count(*) FROM sk) AS sampled,
                 (SELECT count(*) FROM grp) AS exact_unique,
                 (SELECT count(*) FROM ver) AS near_edges,
                 (SELECT count(*) FROM cc) AS cc_nodes,
                 (SELECT count(DISTINCT comp) FROM cc) AS cc_comps
        )
        SELECT metric, CAST(value AS BIGINT) AS value FROM (
          SELECT 'n_input' AS metric, n_input AS value FROM agg
          UNION ALL SELECT 'url_removed', n_input - url_kept FROM agg
          UNION ALL SELECT 'quality_removed', url_kept - quality_kept
            FROM agg
          UNION ALL SELECT 'sample_removed', quality_kept - sampled
            FROM agg
          UNION ALL SELECT 'exact_removed', sampled - exact_unique FROM agg
          UNION ALL SELECT 'near_edges', near_edges FROM agg
          UNION ALL SELECT 'near_removed', cc_nodes - cc_comps FROM agg
          UNION ALL SELECT 'kept', exact_unique - (cc_nodes - cc_comps)
            FROM agg
        )
    """

    o["doc_class_counts"] = (
        f"SELECT 'quality' AS kind, {ts.sql_quality_class('text')} AS cls, "
        f"count(*) AS n FROM documents GROUP BY 2 "
        f"UNION ALL "
        f"SELECT 'lang' AS kind, coalesce(lang, '') || ':' || "
        f"coalesce({ts.sql_lang_guess('text')}, '') AS cls, "
        f"count(*) AS n FROM documents GROUP BY 2"
    )

    o["fingerprint_exact_dups"] = (
        f"SELECT {ts.sql_fingerprint('text')} AS fp, count(*) AS n, "
        f"min(doc_id) AS keep_doc_id FROM documents GROUP BY 1"
    )

    # --- decontamination: gram-for-gram replay of the benchmark-overlap
    #     broadcast join (operators/decontam.py).  The prompt is the
    #     lowercased token slice 11..30 of every doc_id % 23 == 3 doc;
    #     matched_ngrams counts DISTINCT doc 8-grams hitting the distinct
    #     benchmark gram set. ---
    _toks = ts._sql_tokens("coalesce(text, '')")
    o["decontaminate"] = f"""
        WITH bench AS (
          SELECT array_to_string({_toks}[11:30], ' ') AS prompt
          FROM documents WHERE doc_id % 23 = 3
        ),
        bgrams AS (
          SELECT DISTINCT unnest({ts.sql_word_ngrams('prompt', 8)}) AS g
          FROM bench
        ),
        dgrams AS (
          SELECT doc_id,
                 unnest(list_distinct({ts.sql_word_ngrams('text', 8)})) AS g
          FROM documents
        ),
        m AS (
          SELECT dg.doc_id, count(*) AS c
          FROM dgrams dg JOIN bgrams b USING (g) GROUP BY 1
        )
        SELECT d.doc_id,
               CAST(coalesce(m.c, 0) AS BIGINT) AS matched_ngrams,
               coalesce(m.c, 0) > 0 AS contaminated
        FROM documents d LEFT JOIN m USING (doc_id)
    """

    from humid_spark.functions import pii as _pii

    o["pii_scrub_stats"] = f"""
        WITH planted AS (
          SELECT doc_id,
                 coalesce(text, '')
                 || CASE WHEN doc_id % 11 = 4
                    THEN ' contact user' || CAST(doc_id AS VARCHAR)
                         || '@example.org or admin@mail.example.com'
                    ELSE '' END
                 || CASE WHEN doc_id % 13 = 6
                    THEN ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                         || '.7 ssn 123-45-6789'
                    ELSE '' END AS pt
          FROM documents)
        SELECT doc_id,
               {_pii.sql_email_count('pt')} AS n_emails,
               {_pii.sql_ipv4_count('pt')} AS n_ips,
               {_pii.sql_ssn_count('pt')} AS n_ssns,
               md5({_pii.sql_scrub_pii('pt')}) AS scrubbed_md5
        FROM planted
    """

    # --- incremental (batch-vs-index) dedup: replay the index/batch split
    #     and the planted re-entries, then the anti-join / asymmetric band
    #     join in SQL.  bucket_cap=2000 never fires at sf<=0.01 (the whole
    #     index is smaller than one cap), so the uncapped SQL join is the
    #     exact pair set; salting is pair-set-invariant by construction
    #     (pinned by tests/test_incremental.py). ---
    o["incremental_exact_dedup"] = f"""
        WITH idx AS (
          SELECT doc_id, text FROM documents
          WHERE text IS NOT NULL AND doc_id % 3 != 0
        ),
        batch AS (
          SELECT doc_id, text FROM documents
          WHERE text IS NOT NULL AND doc_id % 3 = 0
          UNION ALL
          SELECT -doc_id - 1, text FROM idx WHERE doc_id % 10 = 1
        )
        SELECT b.doc_id FROM batch b
        WHERE {ts.sql_fingerprint('b.text')} NOT IN
              (SELECT {ts.sql_fingerprint('text')} FROM idx)
    """

    o["incremental_near_dups"] = f"""
        WITH corpus AS (
          SELECT doc_id, text FROM documents
          WHERE text IS NOT NULL AND length(text) >= {MH_K}
          UNION ALL
          SELECT -doc_id - 1, text || ' near dup copy' FROM documents
          WHERE doc_id % 3 != 0 AND doc_id % 10 = 1
            AND text IS NOT NULL AND length(text) >= {MH_K}
        ),
        shg AS (SELECT doc_id, {_fsh} AS sh FROM corpus),
        sigs AS (SELECT doc_id, {_fmins} FROM shg),
        bsig AS (SELECT * FROM sigs WHERE doc_id < 0 OR doc_id % 3 = 0),
        isig AS (SELECT * FROM sigs
                 WHERE doc_id >= 0 AND doc_id % 3 != 0),
        cand AS (
          SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
          FROM bsig a JOIN isig b ON ({_fbands})
        )
        SELECT c.src, c.dst,
               (1000 * len(list_intersect(x.sh, y.sh)))
                 // len(list_distinct(list_concat(x.sh, y.sh)))
                 AS jaccard_permille
        FROM cand c JOIN shg x ON c.src = x.doc_id
                    JOIN shg y ON c.dst = y.doc_id
        WHERE (1000 * len(list_intersect(x.sh, y.sh)))
                // len(list_distinct(list_concat(x.sh, y.sh)))
                >= {FUNNEL_THRESH}
    """

    # incremental_clusters: for ONE snapshot the incremental composition
    # (index CC, then batch-bounded edges + merge-on-read relabel) equals
    # a full CC over the union pair set — every unordered pair is either
    # index-index (paid at build), batch-batch (within-batch family) or
    # batch-index (cross family).  The replay is therefore one
    # recursive-CTE CC over the exact-collapsed union, singletons kept
    # with cluster = own id.
    o["incremental_clusters"] = f"""
        WITH RECURSIVE
        d AS (SELECT doc_id, text FROM documents
              WHERE text IS NOT NULL AND length(text) >= {MH_K}),
        idx AS (SELECT doc_id, text FROM d WHERE doc_id % 3 != 0),
        batch AS (
          SELECT doc_id, text FROM d WHERE doc_id % 3 = 0
          UNION ALL
          SELECT -doc_id * 2 - 1, text || ' near dup copy'
          FROM idx WHERE doc_id % 10 = 1
          UNION ALL
          SELECT -doc_id * 2 - 2, text || ' second variant tail'
          FROM d WHERE doc_id % 3 = 0 AND doc_id % 10 = 3
        ),
        igrp AS (SELECT min(doc_id) AS doc_id, text FROM idx
                 GROUP BY text),
        bgrp AS (SELECT min(doc_id) AS doc_id, text FROM batch
                 GROUP BY text),
        fresh AS (SELECT doc_id, text FROM bgrp
                  WHERE text NOT IN (SELECT text FROM igrp)),
        allr AS (SELECT doc_id, text FROM igrp
                 UNION ALL SELECT doc_id, text FROM fresh),
        shg AS (SELECT doc_id, {_fsh} AS sh FROM allr),
        sigs AS (SELECT doc_id, {_fmins} FROM shg),
        cand AS (
          SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
          FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id AND ({_fbands})
        ),
        ver AS (
          SELECT c.src, c.dst
          FROM cand c JOIN shg x ON c.src = x.doc_id
                      JOIN shg y ON c.dst = y.doc_id
          WHERE (1000 * len(list_intersect(x.sh, y.sh)))
                // len(list_distinct(list_concat(x.sh, y.sh)))
                >= {FUNNEL_THRESH}
        ),
        edges AS (SELECT src, dst FROM ver
                  UNION ALL SELECT dst, src FROM ver),
        nodes AS (SELECT DISTINCT src AS n FROM edges),
        reach(n, comp) AS (
          SELECT n, n FROM nodes
          UNION
          SELECT e.src, r.comp FROM reach r JOIN edges e ON e.dst = r.n
        ),
        cc AS (SELECT n, min(comp) AS comp FROM reach GROUP BY n)
        SELECT a.doc_id, COALESCE(cc.comp, a.doc_id) AS cluster
        FROM allr a LEFT JOIN cc ON a.doc_id = cc.n
    """

    # streaming_incremental_ingest: the exact tier is text-equality, so
    # the two-micro-batch ingest replays as set algebra — batch-1
    # survivors exclude BOTH the index and every batch-0 text (batch 0's
    # survivors were appended; its non-survivors were in the index
    # already).
    o["streaming_incremental_ingest"] = """
        WITH d AS (SELECT doc_id, text FROM documents
                   WHERE text IS NOT NULL AND length(text) >= 5),
        idx AS (SELECT doc_id, text FROM d WHERE doc_id % 3 = 2),
        b0 AS (SELECT doc_id, text FROM d WHERE doc_id % 3 = 1
               UNION ALL
               SELECT -doc_id - 1, text FROM idx WHERE doc_id % 10 = 2),
        b1 AS (SELECT doc_id, text FROM d WHERE doc_id % 3 = 0
               UNION ALL
               SELECT -doc_id - 1, text FROM d
               WHERE doc_id % 3 = 1 AND doc_id % 10 = 1)
        SELECT CAST(0 AS BIGINT) AS batch, min(doc_id) AS keep_id FROM b0
        WHERE text NOT IN (SELECT text FROM idx) GROUP BY text
        UNION ALL
        SELECT CAST(1 AS BIGINT), min(doc_id) FROM b1
        WHERE text NOT IN (SELECT text FROM idx)
          AND text NOT IN (SELECT text FROM b0) GROUP BY text
    """

    o["pricing_summary"] = (
        "SELECT l_returnflag, l_linestatus, "
        "CAST(sum(CAST(l_quantity AS DECIMAL(20,2))) AS DOUBLE) AS sum_qty, "
        "CAST(sum(CAST(l_extendedprice AS DECIMAL(20,2))) AS DOUBLE) AS sum_base_price, "
        "count(*) AS count_order "
        "FROM lineitem WHERE l_shipdate <= '1998-09-02' "
        "GROUP BY l_returnflag, l_linestatus"
    )

    o["top_customers"] = (
        "SELECT c_custkey AS custkey, c_name AS name, order_count "
        "FROM (SELECT o_custkey, count(*) AS order_count FROM orders "
        "      GROUP BY o_custkey) a "
        "JOIN customer ON o_custkey = c_custkey WHERE order_count >= 12"
    )

    o["events_daily"] = (
        "SELECT strftime(ts, '%Y-%m-%d') AS day, event_type, "
        "count(*) AS n, "
        "CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS value_millis "
        "FROM events GROUP BY 1, 2"
    )

    o["user_sessions"] = """
        WITH x AS (
          SELECT user_id,
                 CASE WHEN prev IS NULL OR (es - prev) > 1800 THEN 1 ELSE 0 END AS new_sess
          FROM (
            SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS es,
                   lag(CAST(floor(epoch(ts)) AS BIGINT))
                     OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
            FROM events) t)
        SELECT user_id, count(*) AS n_events,
               CAST(sum(new_sess) AS BIGINT) AS n_sessions
        FROM x GROUP BY user_id
    """

    # --- containment_pairs: winnowing IS deterministic integer math, so
    #     the whole pass (k-gram polynomial hash mod P31, window-w minima,
    #     per-doc distinct, inverted index with the fp_cap, containment
    #     share) is expressible in DuckDB list ops.  The engine hashes
    #     UTF-8 BYTES; the SQL uses ascii() per char — identical because
    #     the driver's documents are pure ASCII (checked; a non-ASCII
    #     corpus would need a blob-based formulation). ---
    wk, ww, wcap = 8, 16, 500   # containment_pairs defaults
    wpow = [0] * wk
    _p = 1
    for _i in range(wk - 1, -1, -1):
        wpow[_i] = _p
        _p = (_p * 131) % P31
    wterms = " + ".join(
        f"CAST(ascii(substring(text, i+{j}, 1)) AS BIGINT) * {wpow[j]}"
        for j in range(wk)
    )
    o["containment_pairs"] = f"""
        WITH fps AS (
          SELECT doc_id,
            list_distinct(
              CASE WHEN len(h) <= {ww} THEN [list_min(h)]
                   ELSE list_transform(generate_series(1, len(h) - {ww - 1}),
                                       p -> list_min(h[p:p+{ww - 1}]))
              END) AS fps
          FROM (
            SELECT doc_id,
              list_transform(generate_series(1, length(text) - {wk - 1}),
                             i -> ({wterms}) % {P31}) AS h
            FROM documents WHERE text IS NOT NULL AND length(text) >= {wk})
        ),
        inv AS (SELECT doc_id AS doc, unnest(fps) AS fp FROM fps),
        cold AS (SELECT fp FROM inv GROUP BY fp HAVING count(*) <= {wcap}),
        inv2 AS (SELECT doc, fp FROM inv JOIN cold USING (fp)),
        -- sizes over the POST-cap index, matching the engine (demoted
        -- fingerprints leave numerator and denominator consistently)
        sizes AS (SELECT doc, count(*) AS n_fp FROM inv2 GROUP BY doc),
        shared AS (
          SELECT a.doc AS src, b.doc AS dst, count(*) AS shared
          FROM inv2 a JOIN inv2 b ON a.fp = b.fp AND a.doc < b.doc
          GROUP BY a.doc, b.doc)
        SELECT s.src, s.dst,
               (s.shared * 1000) // least(na.n_fp, nb.n_fp) AS share_permille
        FROM shared s
        JOIN sizes na ON s.src = na.doc
        JOIN sizes nb ON s.dst = nb.doc
        WHERE (s.shared * 1000) // least(na.n_fp, nb.n_fp) >= 600
    """

    # --- simhash_near_dups: the engine's full 64-bit SimHash is
    #     deterministic integer math, so it is DuckDB-expressible end to
    #     end: same ascii()-byte k-gram polynomial hashes as the winnowing
    #     oracle, per-doc distinct, the splitmix64 avalanche in HUGEINT
    #     (mod-2^64 wrap emulated — signatures.mix64_duckdb, verified
    #     bit-identical to numpy), per-bit majority votes as 64 aggregate
    #     terms over the unnested (doc, mixed) rows, signed-int64 wrap to
    #     match Spark LongType.  Pair generation is brute-force
    #     hamming<=3 — exactly the engine's band-blocked + verified +
    #     distinct pair set, by the pigeonhole argument in
    #     lsh.simhash_pairs.
    #     VALIDITY: ASCII-only corpora.  The engine hashes UTF-8 BYTES
    #     (np.frombuffer over text.encode) while ascii(substring(..)) here
    #     hashes CODEPOINTS over char positions — identical iff every char
    #     is single-byte.  The driver's documents table is pure ASCII
    #     (checked, same caveat as the winnowing oracle above); a
    #     non-ASCII corpus needs a blob/encode()-based reformulation
    #     before this oracle's hash-match means anything. ---
    from humid_spark.functions.signatures import mix64_duckdb

    sh_terms = " + ".join(
        f"CAST(ascii(substring(text, i+{j}, 1)) AS BIGINT) * "
        f"{pow(131, MH_K - 1 - j, P31)}"
        for j in range(MH_K)
    )
    sh_bit_aggs = " + ".join(
        f"CASE WHEN sum(CAST((m >> {b}) % 2 AS BIGINT)) * 2 > count(*) "
        f"THEN {1 << b}::HUGEINT ELSE 0::HUGEINT END"
        for b in range(64)
    )
    o["simhash_near_dups"] = f"""
        WITH sh AS (
          SELECT doc_id,
            CASE WHEN text IS NULL OR length(text) < {MH_K} THEN []
                 ELSE list_distinct(list_transform(
                     generate_series(1, length(text) - {MH_K - 1}),
                     i -> ({sh_terms}) % {P31}))
            END AS hu
          FROM documents),
        mixed AS (
          SELECT doc_id, {mix64_duckdb('cast(m as hugeint)')} AS m
          FROM (SELECT doc_id, unnest(hu) AS m FROM sh)),
        words AS (
          SELECT doc_id, ({sh_bit_aggs}) AS w
          FROM mixed GROUP BY doc_id),
        sims AS (
          SELECT s.doc_id,
                 CAST(CASE WHEN COALESCE(w.w, 0) >= 9223372036854775808
                      THEN COALESCE(w.w, 0) - 18446744073709551616
                      ELSE COALESCE(w.w, 0) END AS BIGINT) AS sim
          FROM sh s LEFT JOIN words w USING (doc_id))
        SELECT a.doc_id AS src, b.doc_id AS dst,
               CAST(bit_count(xor(a.sim, b.sim)) AS BIGINT) AS bit_dist
        FROM sims a JOIN sims b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.sim, b.sim)) <= 3
    """

    o["directional_invariants_n12"] = f"""
        SELECT CAST(count(*) AS BIGINT) AS n_keys,
               CAST(sum(cnt) AS BIGINT) AS total_count,
               CAST(sum(cnt) AS BIGINT) AS size_sum,
               true AS ids_dense,
               CAST(0 AS BIGINT) AS cross_component,
               CAST(0 AS BIGINT) AS size_bad,
               CAST(0 AS BIGINT) AS maxkey_bad,
               CAST(0 AS BIGINT) AS seed_bad
        FROM ({_sql_uniq(N12)})
    """

    o["substring_dups"] = """
        WITH aug AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 1000000 AS doc_id, substring(text, 31, 150) AS text
          FROM documents WHERE doc_id % 7 = 0 AND text IS NOT NULL
        )
        SELECT a.doc_id AS inner_doc, b.doc_id AS outer_doc
        FROM aug a JOIN aug b ON a.doc_id <> b.doc_id
        WHERE a.text IS NOT NULL AND b.text IS NOT NULL
          AND length(a.text) >= 23 AND contains(b.text, a.text)
    """

    # directional_clusters intentionally omitted: sequential greedy semantics
    # (reference src/cluster.cc:39-87) are not SQL-expressible; the driver
    # records the weaker rows-only check and pytest pins exact parity.
    return o
