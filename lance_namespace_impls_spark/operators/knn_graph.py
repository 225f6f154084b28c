"""Round-7 batch 4: kNN-graph construction, retrain-impact census, and LSH
parameter tuning (SURVEY.md §2B rows q270–q272).

* **kNN graph (q270)** — the all-vectors k-nearest-neighbor GRAPH (vs
  q218's query-set search): the building block for graph-based dedup,
  HNSW seeding and diversity selection.  Blocked by the SAME two-level
  routed assignment as q205 (k = N/64 cells, √k broadcast supers), so the
  within-cell pairwise term is per-cell-constant at any corpus size; top-3
  per vector via a window whose partitions are cell-bounded.
* **Retrain transition census (q271)** — the decision number for q265's
  drift signal: one integer-exact Lloyd update on the base corpus (q220's
  shift + SUM DIV COUNT device), then every vector (base AND append)
  assigned to old and new centroids; the (old_cell → new_cell) transition
  matrix with stay/move counts says whether retraining is worth the index
  rebuild.
* **LSH tuning curve (q272)** — the (bands × rows) S-curve table: the
  SAME 8 portable min-hash lanes (q161 kernel) banded four ways (1×8,
  2×4, 4×2, 8×1), each config's candidate pairs scored against the exact
  Jaccard >= 0.5 truth — candidates, true positives, precision/recall in
  ppm.  This is how banding parameters are chosen BEFORE a 100 TB dedup
  run; the truth side reuses the inverted-index exact-Jaccard join.

Reference parity note: the reference repo (lance-format/lance-namespace-impls)
contains no query-processing code; these extend the data plane per
SURVEY.md §2B.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lance_namespace_impls_spark.functions.vectors import int_dot, int_projected
from lance_namespace_impls_spark.operators.substrate import SubstrateMemo
from lance_namespace_impls_spark.operators.traindata import (
    cluster_bounds,
    routed_assignment,
    routed_assignment_sql,
)
from lance_namespace_impls_spark.plans.registry import query
from lance_namespace_impls_spark.sources.tables import load_table, spread

# ---------------------------------------------------------------------------
# q270: cell-blocked exact kNN graph

_KNN_K = 3

# Shared kNN substrate (VERDICT r9 #2b): q270 (the graph row), q295 (graph
# dedup) and q336 (contrastive margins) all run the SAME routed-assignment
# cell pair join + per-vector rank window — q270 keeps ranks 1..3, q336
# ranks 1 and 4.  Building the ranked relation ONCE per (session, sf_dir)
# up to rank 4 and letting the three rows slice it removes two redundant
# routing + pair-join passes from a suite pass.  All quantities are exact
# integers, so reuse cannot change any result.  At cluster scale this is
# the real shape: the kNN graph is materialized once and every consumer
# (dedup, HNSW seeding, hard-negative mining) reads that table.
#
# Bench-attribution honesty (same contract as embedding_ops' eval memos):
# the PRODUCER row (q270, first of the trio in registration order) always
# rebuilds and refreshes the memo; consumers build-if-absent.  Unlike the
# k-rows-per-audit-query eval memos, the pinned checkpoint here is
# CORPUS-PROPORTIONAL — (N x max_rank) edges, 4 long columns per row, so
# ~32 N bytes plus block overhead — and it stays pinned until the producer
# refreshes it, `substrate.release_substrates()` is called, or the session
# dies (ADVICE r10 #2: the session-lifetime cost is deliberate — the kNN
# graph is the substrate every dedup/HNSW/margin consumer reads — but it
# is bounded by tests/test_shared_substrates.py's size contract and
# evictable via the release hook).
_KNN_MEMO = SubstrateMemo("ranked_cell_pairs")
# rank <= 8 since round 11: q394 consumes ranks 1..8 as HNSW layer-0
# neighbor lists (M=8 — the 4-NN graph fragments the in-cell walk, 21->24
# hits measured); q270 still slices 1..3, q336 ranks 1 and 4 — their
# results are unchanged, only the pinned substrate doubles (still
# k-bounded, guarded by tests/test_shared_substrates.py).
_KNN_MAX_RANK = 8


def ranked_cell_pairs_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ranked relation WITHOUT the checkpoint lineage cut — plan-shape
    tests assert the cell-bounded window here, since the memoized relation
    surfaces as ``Scan ExistingRDD`` to consumers."""
    emb = load_table(spark, "embeddings", sf_dir)
    proj = spread(emb).select("vec_id", int_projected(F.col("embedding")).alias("v"))
    proj = proj.localCheckpoint(eager=False)  # feeds seeds, routing, pair join
    # Per-vector squared norm computed ONCE before the pair join: each pair
    # then costs a single array fold (the cross dot) instead of three —
    # same exact integers (d2 = ||a||^2 + ||b||^2 - 2 a.b); bench.py timed
    # q270 1.46x below its previous best with it (VERDICT.md, pair-join row).
    asg = routed_assignment(proj, cluster_bounds(emb)).withColumn(
        "nn", int_dot(F.col("v"), F.col("v")).cast("long")
    )
    a = asg.select("cluster", "vec_id", "v", F.col("nn").alias("an"))
    b = asg.select(
        F.col("cluster").alias("b_cluster"),
        F.col("vec_id").alias("neighbor"),
        F.col("v").alias("bv"),
        F.col("nn").alias("bn"),
    )
    d2 = F.col("an") + F.col("bn") - 2 * int_dot(F.col("v"), F.col("bv"))
    pairs = a.join(
        b,
        (F.col("cluster") == F.col("b_cluster"))
        & (F.col("neighbor") != F.col("vec_id")),
    ).select("vec_id", "neighbor", d2.alias("d2"))
    ranked = (
        pairs.select(
            "vec_id",
            F.row_number()
            .over(Window.partitionBy("vec_id").orderBy("d2", "neighbor"))
            .cast("long")
            .alias("rank"),
            F.col("neighbor").cast("long").alias("neighbor"),
            "d2",
        )
        .filter(F.col("rank") <= _KNN_MAX_RANK)
    )
    return ranked


def _build_ranked_cell_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ranked_cell_pairs_plan(spark, sf_dir).localCheckpoint(eager=False)


def routed_corpus(
    spark: SparkSession, sf_dir: str, *, refresh: bool = False
) -> DataFrame:
    """(vec_id, v, cluster) — the full-corpus two-level routed assignment
    under the standard router (the same routing ranked_cell_pairs blocks
    on), checkpointed once per (session, sf_dir).

    Round 11: q394 (the HNSW search row, the producer — refresh=True) and
    q396 (the append law's stored-index node set) both need the corpus
    node->cell map; at platform scale this IS a materialized table beside
    the index, not a per-query recomputation.  Corpus-proportional pin
    (one row per vector: id + projected ints + cell), bounded by
    tests/test_shared_substrates.py's size contract and evictable via
    substrate.release_substrates().
    """
    if not refresh:
        hit = _KNN_MEMO.get(spark, sf_dir, "routed")
        if hit is not None:
            return hit
    emb = load_table(spark, "embeddings", sf_dir)
    proj = spread(emb).select(
        "vec_id", int_projected(F.col("embedding")).alias("v")
    ).localCheckpoint(eager=False)
    asg = routed_assignment(proj, cluster_bounds(emb)).localCheckpoint(
        eager=False
    )
    return _KNN_MEMO.put(spark, sf_dir, asg, "routed")


def ranked_cell_pairs(
    spark: SparkSession, sf_dir: str, *, refresh: bool = False
) -> DataFrame:
    """(vec_id, rank, neighbor, d2) for rank <= 4 within the routed cells.

    The per-vector nearest-neighbor ranking every kNN consumer slices:
    q270 emits ranks 1..3 (the graph), q295 clusters the rank<=3 edges,
    q336 pairs rank 1 (positive) with rank 4 (hard negative).  Memoized
    per (session, sf_dir); ``refresh=True`` (the producer row) always
    rebuilds so cached timings never hide the build cost.
    """
    if not refresh:
        hit = _KNN_MEMO.get(spark, sf_dir)
        if hit is not None:
            return hit
    ranked = _build_ranked_cell_pairs(spark, sf_dir)
    return _KNN_MEMO.put(spark, sf_dir, ranked)

_KNN_ORACLE = (
    "WITH proj AS (SELECT vec_id, "
    "  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v "
    "  FROM embeddings), "
    + routed_assignment_sql()
    + "pairs AS (SELECT a.vec_id, b.vec_id AS neighbor, "
    "  CAST(list_dot_product(a.v, a.v) + list_dot_product(b.v, b.v) "
    "       - 2 * list_dot_product(a.v, b.v) AS BIGINT) AS d2 "
    "  FROM asg a JOIN asg b ON a.cluster = b.cluster AND a.vec_id <> b.vec_id), "
    "rk AS (SELECT vec_id, neighbor, d2, "
    "  ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, neighbor) AS rank "
    "  FROM pairs) "
    "SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(rank AS BIGINT) AS rank, "
    "  CAST(neighbor AS BIGINT) AS neighbor, d2 "
    f"FROM rk WHERE rank <= {_KNN_K} ORDER BY vec_id, rank"
)


@query(
    "q270_knn_graph",
    _KNN_ORACLE,
    doc="All-vectors kNN GRAPH (top-3 neighbors per vector by exact integer "
    "squared L2), blocked by the q205 two-level routed assignment — "
    "k = N/64 cells whose size stays constant as the corpus grows, so "
    "the within-cell pairwise term is per-cell-bounded and the top-k "
    "window partitions (per vec_id, fed only by its cell) never exceed "
    "the cell size; only sqrt(k) super-centroids ever broadcast.  The "
    "graph q218 (query-set ANN) does not build: the substrate for "
    "graph dedup, HNSW seeding and farthest-point diversity.  DuckDB "
    "replays the identical routing (shared routed_assignment_sql), so "
    "edges AND blocking are hash-checked.  The ranked relation comes "
    "from the shared kNN substrate (ranked_cell_pairs — VERDICT r9 #2b); "
    "as the producer row this builder always REBUILDS it and refreshes "
    "the memo q295/q336 consume.",
    tags=("llm", "similarity", "graph"),
)
def q270(spark: SparkSession, sf_dir: str) -> DataFrame:
    ranked = ranked_cell_pairs(spark, sf_dir, refresh=True)
    return (
        ranked.filter(F.col("rank") <= _KNN_K)
        .select("vec_id", "rank", "neighbor", "d2")
        .orderBy("vec_id", "rank")
    )


# ---------------------------------------------------------------------------
# q271: retrain transition census

_RT_K = 4
_RT_SHIFT = 1024  # q220 device: non-negative elements => DIV == //

_RETRAIN_ORACLE = f"""
WITH proj AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) + {_RT_SHIFT} AS BIGINT)) AS v,
         CASE WHEN vec_id % 5 = 4 THEN 1 ELSE 0 END AS is_new
  FROM embeddings
),
oldc AS (SELECT vec_id AS c, v AS cv FROM proj WHERE vec_id < {_RT_K}),
base_asg AS (
  SELECT p.vec_id, ANY_VALUE(p.v) AS v,
         CAST(MIN((CAST(list_dot_product(p.v, p.v) AS BIGINT)
           + CAST(list_dot_product(c.cv, c.cv) AS BIGINT)
           - 2 * CAST(list_dot_product(p.v, c.cv) AS BIGINT)) * {_RT_K} + c.c) % {_RT_K} AS BIGINT) AS cell
  FROM proj p CROSS JOIN oldc c WHERE p.is_new = 0 GROUP BY p.vec_id
),
newc AS (
  SELECT cell AS c, list(m ORDER BY pos) AS cv FROM (
    SELECT a.cell, t.i AS pos, CAST(SUM(a.v[t.i + 1]) // COUNT(*) AS BIGINT) AS m
    FROM base_asg a, range(64) t(i) GROUP BY a.cell, t.i) GROUP BY cell
),
asg_old AS (
  SELECT p.vec_id,
         CAST(MIN((CAST(list_dot_product(p.v, p.v) AS BIGINT)
           + CAST(list_dot_product(c.cv, c.cv) AS BIGINT)
           - 2 * CAST(list_dot_product(p.v, c.cv) AS BIGINT)) * {_RT_K} + c.c) % {_RT_K} AS BIGINT) AS old_cell
  FROM proj p CROSS JOIN oldc c GROUP BY p.vec_id
),
asg_new AS (
  SELECT p.vec_id,
         CAST(MIN((CAST(list_dot_product(p.v, p.v) AS BIGINT)
           + CAST(list_dot_product(c.cv, c.cv) AS BIGINT)
           - 2 * CAST(list_dot_product(p.v, c.cv) AS BIGINT)) * {_RT_K} + c.c) % {_RT_K} AS BIGINT) AS new_cell
  FROM proj p CROSS JOIN newc c GROUP BY p.vec_id
)
SELECT o.old_cell, n.new_cell, CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST(CASE WHEN o.old_cell = n.new_cell THEN 0 ELSE 1 END AS BIGINT) AS moved
FROM asg_old o JOIN asg_new n USING (vec_id)
GROUP BY o.old_cell, n.new_cell ORDER BY old_cell, new_cell
"""


@query(
    "q271_retrain_transition",
    _RETRAIN_ORACLE,
    doc="Retrain-impact census — the decision row for q265's drift signal: "
    "ONE integer-exact Lloyd update on the base corpus (q220's +1024 "
    "shift so centroid SUM DIV COUNT floors identically on both engines), "
    "then every vector — base and append — assigned to the OLD seed "
    "centroids and the NEW retrained ones; the (old_cell, new_cell, "
    "count, moved) transition matrix prices the index rebuild.  Scale "
    "shape: both assignment passes are broadcast-centroid map-only scans "
    "with map-side-combined argmins; the centroid update is a (cell, pos)"
    "-keyed aggregate with k·dim output rows; output is <= k² rows.",
    tags=("llm", "similarity", "maintenance"),
)
def q271(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    proj = spread(emb).select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: (F.round(x.cast("double") * 1000) + _RT_SHIFT).cast("long"),
        ).alias("v"),
        F.when(F.col("vec_id") % 5 == 4, 1).otherwise(0).alias("is_new"),
    )
    proj = proj.localCheckpoint(eager=False)  # feeds seeds + three passes
    oldc = proj.filter(F.col("vec_id") < _RT_K).select(
        F.col("vec_id").alias("c"), F.col("v").alias("cv")
    )

    def _assign(df: DataFrame, cents: DataFrame, out: str) -> DataFrame:
        d2 = (
            int_dot(F.col("v"), F.col("v"))
            + int_dot(F.col("cv"), F.col("cv"))
            - 2 * int_dot(F.col("v"), F.col("cv"))
        )
        return (
            df.crossJoin(F.broadcast(cents))
            .groupBy("vec_id")
            .agg(F.first("v").alias("v"), F.min(d2 * _RT_K + F.col("c")).alias("key"))
            .select("vec_id", "v", (F.col("key") % _RT_K).cast("long").alias(out))
        )

    base_asg = _assign(proj.filter(F.col("is_new") == 0), oldc, "cell")
    newc = (
        base_asg.select("cell", F.posexplode("v").alias("pos", "x"))
        .groupBy("cell", "pos")
        .agg(F.expr("CAST(SUM(x) DIV COUNT(*) AS BIGINT)").alias("m"))
        .groupBy("cell")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select(F.col("cell").alias("c"), F.col("pm.m").alias("cv"))
    )
    asg_old = _assign(proj, oldc, "old_cell").select("vec_id", "old_cell")
    asg_new = _assign(proj, newc, "new_cell").select("vec_id", "new_cell")
    return (
        asg_old.join(asg_new, "vec_id")
        .groupBy("old_cell", "new_cell")
        .agg(F.count(F.lit(1)).cast("long").alias("n_vectors"))
        .withColumn(
            "moved",
            F.when(F.col("old_cell") == F.col("new_cell"), 0).otherwise(1).cast("long"),
        )
        .orderBy("old_cell", "new_cell")
    )


# ---------------------------------------------------------------------------
# q272: LSH banding tuning curve

_LSH_K = 8
_LSH_CONFIGS = ((1, 8), (2, 4), (4, 2), (8, 1))  # (bands, rows): b*r = 8
_LSH_DUCK_HEX = "list_transform(sh, t -> md5(t) || md5('x|' || t))"
_LSH_DUCK_SIG = (
    "[list_min(list_transform(hx, h -> ('0x' || substr(h, 1 + 8*s, 8))::BIGINT "
    "% 2147483647)) for s in generate_series(0, 7)]"
)


def _lsh_config_sql(b: int, r: int) -> str:
    """Candidate pairs for a (bands=b, rows=r) config as a DuckDB CTE body."""
    return (
        f"SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2 FROM "
        f"(SELECT doc_id, bb, sig[{r}*bb+1:{r}*bb+{r}] AS bk FROM sig, "
        f"  unnest(generate_series(0, {b - 1})) u(bb)) a "
        f"JOIN (SELECT doc_id, bb, sig[{r}*bb+1:{r}*bb+{r}] AS bk FROM sig, "
        f"  unnest(generate_series(0, {b - 1})) u(bb)) b "
        f"ON a.bb = b.bb AND a.bk = b.bk AND a.doc_id < b.doc_id"
    )


_LSH_TUNE_ORACLE = (
    "WITH toked AS (SELECT doc_id, "
    "  regexp_split_to_array(lower(trim(text)), '\\s+') AS toks FROM documents), "
    "shingled AS (SELECT doc_id, "
    "  [array_to_string(toks[i:i+2], ' ') for i in generate_series(1, len(toks)-2)] AS sh "
    "  FROM toked WHERE len(toks) >= 3), "
    "hexed AS (SELECT doc_id, " + _LSH_DUCK_HEX + " AS hx FROM shingled), "
    "sig AS (SELECT doc_id, " + _LSH_DUCK_SIG + " AS sig FROM hexed), "
    "sets AS (SELECT doc_id, list_distinct(sh) AS toks FROM shingled), "
    "truth AS (SELECT a.doc_id AS d1, b.doc_id AS d2 FROM sets a JOIN sets b "
    "  ON a.doc_id < b.doc_id "
    "  AND 2 * len(list_intersect(a.toks, b.toks)) "
    "      >= len(list_distinct(a.toks || b.toks))), "
    + ", ".join(
        f"cand_{b}x{r} AS ({_lsh_config_sql(b, r)})" for b, r in _LSH_CONFIGS
    )
    + ", stats AS ("
    + " UNION ALL ".join(
        f"SELECT '{b}x{r}' AS config, "
        f"(SELECT COUNT(*) FROM cand_{b}x{r}) AS candidates, "
        f"(SELECT COUNT(*) FROM cand_{b}x{r} SEMI JOIN truth USING (d1, d2)) AS true_pos"
        for b, r in _LSH_CONFIGS
    )
    + ") "
    "SELECT config, CAST(candidates AS BIGINT) AS candidates, "
    "  CAST(true_pos AS BIGINT) AS true_pos, "
    "  CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS truth_total, "
    "  CAST(1000000 * true_pos // GREATEST(candidates, 1) AS BIGINT) AS precision_ppm, "
    "  CAST(1000000 * true_pos // GREATEST((SELECT COUNT(*) FROM truth), 1) AS BIGINT) AS recall_ppm "
    "FROM stats ORDER BY config"
)


@query(
    "q272_lsh_tuning_curve",
    _LSH_TUNE_ORACLE,
    doc="LSH banding S-curve — the table that chooses (bands x rows) BEFORE "
    "a 100 TB dedup run: the same 8 portable min-hash lanes (q161 kernel) "
    "banded four ways (1x8, 2x4, 4x2, 8x1), each config's candidate "
    "pairs scored against the exact 3-gram-shingle Jaccard >= 0.5 truth "
    "(cross-multiplied, no division) for candidates / true positives / "
    "precision / recall in ppm.  Monotonicity (more bands => more "
    "candidates, never less recall) is test-asserted.  Scale shape: ONE "
    "signature pass (map-side-combined lane mins, 8 ints/doc) feeds all "
    "four band joins, each shuffling (band, key, doc_id) tuples with "
    "candidates bounded by bucket collisions; the truth side is the "
    "inverted-index exact join (never n²); censuses are config-sized.  "
    "The whole curve is ONE DataFrame: the four configs union into a "
    "config-keyed banded relation, one bucket self-join + one grouped "
    "aggregate produce every config's (candidates, true_pos) — zero "
    "driver-side actions (round 9, was 8 scheduled .count() jobs).",
    tags=("llm", "dedup", "lsh"),
)
def q272(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lance_namespace_impls_spark.operators.corpus import (
        _exploded_shingles,
        _portable_minhash_sig,
    )

    docs = spread(load_table(spark, "documents", sf_dir)).select("doc_id", "text")
    ex = _exploded_shingles(docs, 3)
    ex = ex.localCheckpoint(eager=False)  # feeds signatures AND the truth join
    sig = _portable_minhash_sig(ex).localCheckpoint(eager=False)  # 4 band joins
    # exact truth: inverted-index intersection counts + cross-multiplied
    # Jaccard >= 1/2 (posting rows are distinct per (doc, shingle))
    posting = ex.distinct()
    sizes = posting.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    inter = (
        posting.alias("a")
        .join(posting.alias("b"), "t")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    # Plain shuffle joins (ADVICE r7): sizes is doc-count-sized, not bounded,
    # so broadcasting it would violate the no-corpus-proportional-broadcast
    # posture the rest of the repo holds.
    truth = (
        inter.join(sizes.selectExpr("doc_id AS d1", "sz AS sz1"), "d1")
        .join(sizes.selectExpr("doc_id AS d2", "sz AS sz2"), "d2")
        .filter(
            F.lit(2) * F.col("inter") >= F.col("sz1") + F.col("sz2") - F.col("inter")
        )
        .select("d1", "d2")
        .localCheckpoint(eager=False)  # compared against every config
    )
    # One aggregated relation instead of 8 driver-side .count() actions
    # (VERDICT r8 #3): the four banding configs union into a single
    # config-keyed banded relation, ONE bucket self-join keyed by
    # (config, band, key) produces every config's candidates, a left join
    # against truth marks true positives, and ONE grouped aggregate emits
    # (config, candidates, true_pos).  The 4-row config spine left-join
    # keeps a zero-candidate config in the output (the oracle's UNION ALL
    # always emits all four rows); the 1-row truth census broadcasts into
    # the ppm arithmetic.  8 scheduled driver jobs -> 1 DataFrame.
    banded_all = None
    for b, r in _LSH_CONFIGS:
        banded = sig.select(
            F.lit(f"{b}x{r}").alias("config"),
            "doc_id",
            F.explode(F.sequence(F.lit(0), F.lit(b - 1))).alias("bb"),
            "sig",
        ).select(
            "config",
            "doc_id",
            "bb",
            F.expr(f"slice(sig, {r} * bb + 1, {r})").alias("bk"),
        )
        banded_all = banded if banded_all is None else banded_all.unionByName(banded)
    cand = (
        banded_all.alias("x")
        .join(banded_all.alias("y"), ["config", "bb", "bk"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select("config", F.col("x.doc_id").alias("d1"), F.col("y.doc_id").alias("d2"))
        .distinct()
    )
    stats = (
        cand.join(truth.withColumn("is_tp", F.lit(1)), ["d1", "d2"], "left")
        .groupBy("config")
        .agg(
            F.count(F.lit(1)).alias("candidates"),
            F.sum(F.coalesce(F.col("is_tp"), F.lit(0))).alias("true_pos"),
        )
    )
    spine = spark.createDataFrame(
        [(f"{b}x{r}",) for b, r in _LSH_CONFIGS], "config string"
    )
    census = truth.agg(F.count(F.lit(1)).alias("truth_total"))
    return (
        spine.join(F.broadcast(stats), "config", "left")
        .crossJoin(F.broadcast(census))
        .select(
            "config",
            F.coalesce(F.col("candidates"), F.lit(0)).cast("long").alias("candidates"),
            F.coalesce(F.col("true_pos"), F.lit(0)).cast("long").alias("true_pos"),
            F.col("truth_total").cast("long"),
        )
        .selectExpr(
            "config",
            "candidates",
            "true_pos",
            "truth_total",
            "CAST(1000000 * true_pos DIV GREATEST(candidates, 1) AS BIGINT)"
            " AS precision_ppm",
            "CAST(1000000 * true_pos DIV GREATEST(truth_total, 1) AS BIGINT)"
            " AS recall_ppm",
        )
        .orderBy("config")
    )


# ---------------------------------------------------------------------------
# q295: mutual-kNN graph dedup — the q270 consumer (VERDICT r7 #7)

_GRAPH_DEDUP_ORACLE = (
    "WITH RECURSIVE knn AS (SELECT * FROM (" + _KNN_ORACLE + ")), "
    "mut AS (SELECT k1.vec_id AS src, k1.neighbor AS dst FROM knn k1 "
    "  JOIN knn k2 ON k1.vec_id = k2.neighbor AND k1.neighbor = k2.vec_id "
    "  WHERE k1.vec_id < k1.neighbor), "
    "ee AS (SELECT src, dst FROM mut UNION SELECT dst, src FROM mut), "
    "reach(node, lab) AS ("
    "  SELECT vec_id, vec_id FROM embeddings "
    "  UNION "
    "  SELECT ee.src, reach.lab FROM reach JOIN ee ON ee.dst = reach.node "
    "  WHERE reach.lab < ee.src), "
    "compo AS (SELECT node AS vec_id, CAST(MIN(lab) AS BIGINT) AS component "
    "  FROM reach GROUP BY node), "
    "nrm AS (SELECT vec_id, CAST(list_dot_product(v9, v9) AS BIGINT) AS norm2 "
    "  FROM (SELECT vec_id, list_transform(embedding, "
    "    x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v9 "
    "    FROM embeddings)), "
    "best AS (SELECT component, vec_id AS keeper FROM ("
    "  SELECT c2.component, c2.vec_id, ROW_NUMBER() OVER ("
    "    PARTITION BY c2.component ORDER BY n2.norm2 DESC, c2.vec_id) AS brk "
    "  FROM compo c2 JOIN nrm n2 USING (vec_id)) WHERE brk = 1) "
    "SELECT CAST(c.vec_id AS BIGINT) AS vec_id, c.component, n.norm2, "
    "  CAST(CASE WHEN b.keeper = c.vec_id THEN 1 ELSE 0 END AS BIGINT) AS keep "
    "FROM compo c JOIN nrm n USING (vec_id) JOIN best b USING (component) "
    "ORDER BY c.vec_id"
)


@query(
    "q295_graph_dedup",
    _GRAPH_DEDUP_ORACLE,
    doc="Graph-based embedding dedup — the consumer the q270 kNN graph "
    "advertises: mutual top-3 edges (both endpoints rank each other) "
    "define near-duplicate clusters, clustered by the q204 "
    "large-star/small-star contraction (O(log n) shuffle rounds on any "
    "topology), then one keeper per component by keep-best (max integer "
    "squared norm, min vec_id tie) — three existing devices composed: "
    "routed-assignment blocking, components contraction, per-component "
    "argmax.  Mutuality makes the graph sparse and symmetric, so "
    "components are tight near-dup clusters rather than hub chains.  The "
    "DuckDB oracle replays routing + kNN + a recursive-CTE closure + the "
    "same keep rule: edges, clustering AND keeper choice are hash-checked. "
    "Scale shape: the mutual check is a self-semi-join of the (N*k)-edge "
    "relation on int pairs; contraction rounds are min-aggregations and "
    "equi-joins; the keeper window partitions by component (cell-bounded "
    "by construction — mutual degree <= k).",
    tags=("llm", "similarity", "dedup", "graph"),
)
def q295(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lance_namespace_impls_spark.operators.pipeline import (
        connected_components_contraction,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    # Consumer of the shared kNN substrate (VERDICT r9 #2b): the ranked
    # relation is memoized per (session, sf_dir) and already checkpointed,
    # so BOTH sides of the mutuality semi-join read the same materialized
    # edges — q270 is the producer row that always rebuilds it.
    g = (
        ranked_cell_pairs(spark, sf_dir)
        .filter(F.col("rank") <= _KNN_K)
        .select("vec_id", "neighbor")
    )
    rev = g.select(
        F.col("neighbor").alias("vec_id"), F.col("vec_id").alias("neighbor")
    )
    mut = (
        g.join(rev, ["vec_id", "neighbor"], "left_semi")
        .filter(F.col("vec_id") < F.col("neighbor"))
        .selectExpr("vec_id AS src", "neighbor AS dst")
    )
    nodes = emb.select(F.col("vec_id").alias("node"))
    comp = connected_components_contraction(nodes, mut).select(
        F.col("node").alias("vec_id"), F.col("lab").cast("long").alias("component")
    )
    nrm = spread(emb).select(
        "vec_id",
        int_dot(
            int_projected(F.col("embedding")), int_projected(F.col("embedding"))
        )
        .cast("long")
        .alias("norm2"),
    )
    joined = comp.join(nrm, "vec_id")
    keep = F.when(
        F.row_number().over(
            Window.partitionBy("component").orderBy(
                F.col("norm2").desc(), F.col("vec_id")
            )
        )
        == 1,
        1,
    ).otherwise(0)
    return (
        joined.select(
            F.col("vec_id").cast("long").alias("vec_id"),
            "component",
            "norm2",
            keep.cast("long").alias("keep"),
        )
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# q328 — HNSW-style layered ANN search (round 9, VERDICT r8 #10): greedy
# coarse-to-fine descent through md5-sampled layers, recall-audited

_HNSW_B = 2  # beam width kept at the upper layers
_HNSW_K = 5  # final top-k
_HNSW_Q = 8  # audit queries: vec_id < 8 (q232's sample)
_HNSW_BKT = 8  # bucket count for the exact two-stage top-k device

from lance_namespace_impls_spark.functions.hashing import (  # noqa: E402
    MD5_H32_DUCK as _HNSW_H32_DUCK,
)

_HNSW_LVL_DUCK = (
    "CASE WHEN " + _HNSW_H32_DUCK.format(x="CAST(vec_id AS VARCHAR)")
    + " % 64 = 0 THEN 2 "
    "WHEN " + _HNSW_H32_DUCK.format(x="CAST(vec_id AS VARCHAR)")
    + " % 8 = 0 THEN 1 "
    "ELSE 0 END"
)

_HNSW_ORACLE = (
    "WITH proj AS (SELECT vec_id, "
    "  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v "
    "  FROM embeddings), "
    + routed_assignment_sql()
    + "nodes AS (SELECT vec_id, v, cluster, " + _HNSW_LVL_DUCK + " AS lvl FROM asg), "
    f"qs AS (SELECT vec_id AS query_id, v AS qv FROM proj WHERE vec_id < {_HNSW_Q}), "
    "sc2 AS (SELECT q.query_id, n.vec_id, n.cluster, "
    "  CAST(list_dot_product(q.qv, q.qv) + list_dot_product(n.v, n.v) "
    "       - 2 * list_dot_product(q.qv, n.v) AS BIGINT) AS d2 "
    "  FROM qs q CROSS JOIN nodes n WHERE n.lvl >= 2 AND n.vec_id <> q.query_id), "
    "beam2 AS (SELECT query_id, vec_id, cluster, d2 FROM ("
    "  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d2, vec_id) AS rn "
    f"  FROM sc2) WHERE rn <= {_HNSW_B}), "
    "cells2 AS (SELECT DISTINCT query_id, cluster FROM beam2), "
    "cand1 AS (SELECT c.query_id, n.vec_id, n.cluster, "
    "  CAST(list_dot_product(q.qv, q.qv) + list_dot_product(n.v, n.v) "
    "       - 2 * list_dot_product(q.qv, n.v) AS BIGINT) AS d2 "
    "  FROM cells2 c JOIN nodes n USING (cluster) JOIN qs q ON q.query_id = c.query_id "
    "  WHERE n.lvl >= 1 AND n.vec_id <> c.query_id), "
    "pool1 AS (SELECT * FROM cand1 UNION SELECT * FROM beam2), "
    "beam1 AS (SELECT query_id, vec_id, cluster, d2 FROM ("
    "  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d2, vec_id) AS rn "
    f"  FROM pool1) WHERE rn <= {_HNSW_B}), "
    "cells1 AS (SELECT DISTINCT query_id, cluster FROM beam1), "
    "cand0 AS (SELECT c.query_id, n.vec_id, n.cluster, "
    "  CAST(list_dot_product(q.qv, q.qv) + list_dot_product(n.v, n.v) "
    "       - 2 * list_dot_product(q.qv, n.v) AS BIGINT) AS d2 "
    "  FROM cells1 c JOIN nodes n USING (cluster) JOIN qs q ON q.query_id = c.query_id "
    "  WHERE n.vec_id <> c.query_id), "
    "pool0 AS (SELECT * FROM cand0 UNION SELECT * FROM beam1), "
    "found AS (SELECT query_id, vec_id, d2 FROM ("
    "  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d2, vec_id) AS rn "
    f"  FROM pool0) WHERE rn <= {_HNSW_K}), "
    "ex AS (SELECT query_id, vec_id, rank FROM ("
    "  SELECT q.query_id, p.vec_id, "
    "    ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY "
    "      CAST(list_dot_product(q.qv, q.qv) + list_dot_product(p.v, p.v) "
    "           - 2 * list_dot_product(q.qv, p.v) AS BIGINT), p.vec_id) AS rank "
    "  FROM qs q CROSS JOIN proj p WHERE p.vec_id <> q.query_id) "
    f"  WHERE rank <= {_HNSW_K}), "
    "hits AS (SELECT f.query_id, COUNT(*) AS hits FROM found f "
    "  JOIN ex e ON f.query_id = e.query_id AND f.vec_id = e.vec_id "
    "  GROUP BY f.query_id), "
    "t1 AS (SELECT f.query_id, CASE WHEN f.vec_id = e.vec_id THEN 1 ELSE 0 END AS top1 "
    "  FROM (SELECT query_id, vec_id FROM (SELECT *, ROW_NUMBER() OVER ("
    "    PARTITION BY query_id ORDER BY d2, vec_id) AS rn FROM found) WHERE rn = 1) f "
    "  JOIN ex e ON f.query_id = e.query_id AND e.rank = 1), "
    "c2 AS (SELECT query_id, COUNT(*) AS n FROM sc2 GROUP BY query_id), "
    "c1 AS (SELECT query_id, COUNT(*) AS n FROM cand1 GROUP BY query_id), "
    "c0 AS (SELECT query_id, COUNT(*) AS n FROM cand0 GROUP BY query_id) "
    "SELECT CAST(q.query_id AS BIGINT) AS query_id, "
    f"  CAST({_HNSW_K} AS BIGINT) AS k, "
    "  CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits, "
    "  CAST(COALESCE(t.top1, 0) AS BIGINT) AS top1_match, "
    "  CAST(COALESCE(c2.n, 0) AS BIGINT) AS l2_scanned, "
    "  CAST(COALESCE(c1.n, 0) AS BIGINT) AS l1_scanned, "
    "  CAST(COALESCE(c0.n, 0) AS BIGINT) AS l0_scanned "
    "FROM qs q LEFT JOIN hits h USING (query_id) LEFT JOIN t1 t USING (query_id) "
    "LEFT JOIN c2 USING (query_id) LEFT JOIN c1 USING (query_id) "
    "LEFT JOIN c0 USING (query_id) ORDER BY q.query_id"
)


@query(
    "q328_hnsw_layered_search",
    _HNSW_ORACLE,
    doc="HNSW-style layered ANN search — the production index family q270's "
    "doc names as the graph's consumer (HNSW seeding) finally executed "
    "(VERDICT r8 #10): node levels are md5-sampled with HNSW's nested "
    "geometric law (lvl 2 = h%64==0 ~ N/64 nodes, lvl 1 = h%8==0 ~ N/8, "
    "lvl 0 = everything; upper-layer members exist at all lower layers), "
    "and each query greedily descends — scan the sparse top layer "
    "exactly, keep a beam of 2, then at each lower layer score only the "
    "nodes sharing a routed cell with the beam (cell adjacency from the "
    "shared q205/q270 routed_assignment stands in for explicit neighbor "
    "edges, keeping every stage oracle-replayable) and re-beam; the "
    "final layer returns top-5.  Recall is audited against the exact "
    "brute-force top-5 — the shared eval substrate's exact relation "
    "(ivfpq_eval_relations: same sample, k, tie-break; q232 the "
    "producer; the oracle still recomputes the truth independently, so "
    "the reuse stays falsifiable) — and the per-layer scanned-"
    "candidate censuses measure the sub-linear scan property that is "
    "HNSW's point — all integer, hash-exact.  Scale shape: the L2 scan "
    "is md5-thinned N/64; lower-layer candidate sets are cell-bounded "
    "joins keyed on (query, cluster); every top-k runs the two-stage "
    "bucketed device (rank within (query, vec%8) buckets, then a "
    "<= 8k-row pool — no corpus-sized window partition); queries "
    "broadcast (8 rows).",
    tags=("llm", "similarity", "vectors"),
)
def q328(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lance_namespace_impls_spark.functions.hashing import md5_h32

    emb = load_table(spark, "embeddings", sf_dir)
    proj = spread(emb).select("vec_id", int_projected(F.col("embedding")).alias("v"))
    proj = proj.localCheckpoint(eager=False)  # routing, layers, truth side
    asg = routed_assignment(proj, cluster_bounds(emb)).select("vec_id", "cluster")
    h = md5_h32(F.col("vec_id").cast("string"))
    nodes = (
        proj.join(asg, "vec_id")
        .withColumn(
            "lvl",
            F.when(h % 64 == 0, 2).when(h % 8 == 0, 1).otherwise(0),
        )
        .localCheckpoint(eager=False)  # scanned at every layer
    )
    qs = proj.filter(F.col("vec_id") < _HNSW_Q).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    d2 = (
        int_dot(F.col("qv"), F.col("qv"))
        + int_dot(F.col("v"), F.col("v"))
        - F.lit(2) * int_dot(F.col("qv"), F.col("v"))
    ).cast("long")

    def score(cand: DataFrame) -> DataFrame:
        return (
            cand.join(F.broadcast(qs), "query_id")
            .filter(F.col("vec_id") != F.col("query_id"))
            .select("query_id", "vec_id", "cluster", d2.alias("d2"))
        )

    def topk(scored: DataFrame, k: int) -> DataFrame:
        # exact two-stage top-k: every (query, vec%B) bucket's k best
        # survive, so the <= B*k pool provably contains the global top-k
        pre = (
            scored.withColumn("b", F.col("vec_id") % _HNSW_BKT)
            .withColumn(
                "prank",
                F.row_number().over(
                    Window.partitionBy("query_id", "b").orderBy("d2", "vec_id")
                ),
            )
            .filter(F.col("prank") <= k)
        )
        return (
            pre.withColumn(
                "rn",
                F.row_number().over(
                    Window.partitionBy("query_id").orderBy("d2", "vec_id")
                ),
            )
            .filter(F.col("rn") <= k)
            .select("query_id", "vec_id", "cluster", "d2")
        )

    sc2 = score(
        nodes.filter(F.col("lvl") >= 2)
        .crossJoin(F.broadcast(qs.select("query_id")))
        .select("query_id", "vec_id", "cluster", "v")
    ).localCheckpoint(eager=False)  # feeds beam2 AND the census
    beam2 = topk(sc2, _HNSW_B)

    def descend(beam: DataFrame, layer: DataFrame) -> DataFrame:
        cells = beam.select("query_id", "cluster").distinct()
        return score(
            F.broadcast(cells).join(layer, "cluster").select(
                "query_id", "vec_id", "cluster", "v"
            )
        )

    cand1 = descend(beam2, nodes.filter(F.col("lvl") >= 1)).localCheckpoint(
        eager=False
    )
    beam1 = topk(cand1.unionByName(beam2).distinct(), _HNSW_B)
    cand0 = descend(beam1, nodes).localCheckpoint(eager=False)
    found = topk(cand0.unionByName(beam1).distinct(), _HNSW_K).localCheckpoint(
        eager=False
    )

    # exact ground truth: the shared eval substrate's exact relation —
    # same 8-query sample (_HNSW_Q == _IVFPQ_CODES), same k (_HNSW_K ==
    # _IVFPQ_K), same (d2, vec_id) tie-break and self-exclusion, so
    # consuming it instead of re-running the brute pass changes nothing
    # (VERDICT r9 #2a; q232 is the producer row).
    from lance_namespace_impls_spark.operators.embedding_ops import (
        ivfpq_exact_truth,
    )

    truth = ivfpq_exact_truth(spark, sf_dir)
    hits = (
        found.join(truth.select("query_id", "vec_id"), ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    w1 = Window.partitionBy("query_id").orderBy("d2", "vec_id")
    f1 = (
        found.withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") == 1)
        .select("query_id", F.col("vec_id").alias("fv"))
    )
    e1 = truth.filter(F.col("rank") == 1).select(
        "query_id", F.col("vec_id").alias("ev")
    )
    t1 = f1.join(e1, "query_id").select(
        "query_id", F.when(F.col("fv") == F.col("ev"), 1).otherwise(0).alias("top1")
    )

    def census(cand: DataFrame, out: str) -> DataFrame:
        return cand.groupBy("query_id").agg(F.count(F.lit(1)).alias(out))

    return (
        qs.select("query_id")
        .join(hits, "query_id", "left")
        .join(t1, "query_id", "left")
        .join(census(sc2, "l2"), "query_id", "left")
        .join(census(cand1, "l1"), "query_id", "left")
        .join(census(cand0, "l0"), "query_id", "left")
        .select(
            F.col("query_id").cast("long").alias("query_id"),
            F.lit(_HNSW_K).cast("long").alias("k"),
            F.coalesce("hits", F.lit(0)).cast("long").alias("hits"),
            F.coalesce("top1", F.lit(0)).cast("long").alias("top1_match"),
            F.coalesce("l2", F.lit(0)).cast("long").alias("l2_scanned"),
            F.coalesce("l1", F.lit(0)).cast("long").alias("l1_scanned"),
            F.coalesce("l0", F.lit(0)).cast("long").alias("l0_scanned"),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# q336 — contrastive triplet margin census (round 9): hard-negative mining
# over the routed cells, the training-data op the kNN graph feeds

_CTM_ORACLE = (
    "WITH proj AS (SELECT vec_id, "
    "  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v "
    "  FROM embeddings), "
    + routed_assignment_sql()
    + "pairs AS (SELECT a.vec_id, b.vec_id AS neighbor, "
    "  CAST(list_dot_product(a.v, a.v) + list_dot_product(b.v, b.v) "
    "       - 2 * list_dot_product(a.v, b.v) AS BIGINT) AS d2 "
    "  FROM asg a JOIN asg b ON a.cluster = b.cluster AND a.vec_id <> b.vec_id), "
    "rk AS (SELECT vec_id, neighbor, d2, "
    "  ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, neighbor) AS rank "
    "  FROM pairs), "
    "trip AS (SELECT p.vec_id, p.d2 AS pos_d2, n.d2 AS neg_d2, "
    "  n.d2 - p.d2 AS margin "
    "  FROM (SELECT vec_id, d2 FROM rk WHERE rank = 1) p "
    "  JOIN (SELECT vec_id, d2 FROM rk WHERE rank = 4) n USING (vec_id)) "
    "SELECT CAST(length(bin(margin)) AS BIGINT) AS margin_bits, "
    "  CAST(COUNT(*) AS BIGINT) AS n_triplets, "
    "  CAST(MIN(margin) AS BIGINT) AS min_margin, "
    "  CAST(MAX(margin) AS BIGINT) AS max_margin, "
    "  CAST(SUM(pos_d2) AS BIGINT) AS pos_d2_sum "
    "FROM trip GROUP BY margin_bits ORDER BY margin_bits"
)


@query(
    "q336_contrastive_margins",
    _CTM_ORACLE,
    doc="Contrastive triplet margin census — hard-negative mining, the "
    "training-data op the kNN graph exists to feed (anchor, positive, "
    "hard negative) triplets to: per anchor the positive is its exact "
    "nearest within-cell neighbor (q270's rank-1 edge) and the HARD "
    "negative its rank-4 neighbor — the closest vector outside the top-3 "
    "edge set, i.e. the negative that actually stresses a contrastive "
    "loss (a random negative would be trivially far).  The census "
    "buckets margins (neg_d2 - pos_d2, >= 0 by rank order) by exact "
    "integer bit-length (the q166 no-libm log2), with min/max margins "
    "and the positive-distance mass per bucket — the margin distribution "
    "IS the curriculum-difficulty profile a triplet-loss run is tuned "
    "on.  Scale shape: one routed-cell pair join (q270's blocking, "
    "per-cell-bounded), per-anchor rank windows fed only by the cell, "
    "and a bucket-count census; no corpus-wide window or join anywhere.",
    tags=("llm", "similarity", "training"),
)
def q336(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Consumer of the shared kNN substrate (VERDICT r9 #2b): ranks 1 and 4
    # are slices of the memoized, already-checkpointed ranked relation —
    # q270 is the producer row that always rebuilds it.
    rk = (
        ranked_cell_pairs(spark, sf_dir)
        .filter(F.col("rank").isin(1, 4))
        .select("vec_id", "d2", "rank")
    )
    trip = (
        rk.filter(F.col("rank") == 1)
        .select("vec_id", F.col("d2").alias("pos_d2"))
        .join(
            rk.filter(F.col("rank") == 4).select(
                "vec_id", F.col("d2").alias("neg_d2")
            ),
            "vec_id",
        )
        .withColumn("margin", F.col("neg_d2") - F.col("pos_d2"))
    )
    return (
        trip.groupBy(F.expr("CAST(length(bin(margin)) AS BIGINT)").alias("margin_bits"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_triplets"),
            F.min("margin").cast("long").alias("min_margin"),
            F.max("margin").cast("long").alias("max_margin"),
            F.sum("pos_d2").cast("long").alias("pos_d2_sum"),
        )
        .orderBy("margin_bits")
    )
