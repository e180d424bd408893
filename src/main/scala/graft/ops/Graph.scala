package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** §2.11 addendum — distributed graph analytics over the purchase graph.
  *
  * [[EventAnalytics]]'s q_events_stationary deliberately folds its Markov
  * matrix into ONE row — correct there because the event vocabulary is
  * bounded. This family is the UNBOUNDED-node-count twin: the graph lives
  * in a DataFrame of edges, every iteration is an equi-join + partial
  * aggregation (both shuffle-bounded by |E| + |V|), and nothing is ever
  * collected, folded into a single row, or broadcast except 1-row scalars.
  * At 100 TB you would additionally bucket the edge table on `src` once so
  * the per-iteration join reuses the layout; a checkpointed DataFrame loses
  * its outputPartitioning in Spark, so that layout reuse is a storage-level
  * (bucketed-table) concern, documented rather than simulated here.
  */
object Graph {
  import Tables._

  /** Damping factor and iteration count for q_graph_pagerank. 6 integer
    * power steps: enough to differentiate hubs on the fixture while keeping
    * the unrolled oracle CTE readable. */
  private val D = 0.85
  private val Steps = 6

  /** Distributed weighted PageRank over the symmetrized customer–supplier
    * purchase graph.
    *
    * Nodes are `c<custkey>` / `s<suppkey>`; an undirected edge (spelled as
    * two directed edges) links a customer to every supplier it bought from,
    * weighted by lineitem count. Out-weights are degree-normalized per
    * source (a window over one node's edges — bounded by max degree, never
    * corpus-wide). Iteration k: rank flows along out-edges
    * (`ranks ⋈ edges ON node = src`, then `groupBy(dst).sum`), and every
    * node gets `(1-d)/N + d·Σ contrib`. A lazy localCheckpoint per step
    * truncates the 6-deep join lineage (same discipline as
    * LlmOps.clusterPairs).
    *
    * Cross-engine determinism: the recurrence runs entirely in BIGINT
    * micro-units (rank and edge weight scaled by 10⁶, per-edge contribution
    * `(r·w + 5·10⁵) div 10⁶`, damping `(85·Σ + 50) div 100`). Integer sums
    * are exact and ASSOCIATIVE, so Spark's partial-aggregation order and
    * DuckDB's scan order cannot diverge — unlike the r6-rounded double
    * recurrence q_events_stationary uses, which is safe only because its
    * per-state fan-in is the tiny event vocabulary. Here a hub node sums
    * thousands of contributions, where a double formulation measurably
    * lands on .5-ulp rounding boundaries (seen at sf0.001 during
    * development). Scalars (1/N, teleport) are one-shot double→floor on
    * identical inputs, engine-safe.
    *
    * The symmetrized graph leaves no dangling nodes (every node has in- and
    * out-edges), so no rank mass escapes; the per-step `nodes LEFT JOIN
    * contrib` re-key both keeps the shape correct on general edge sets and
    * measurably speeds up the iteration (see the loop comment). */
  def pagerank(edgesIn: DataFrame): DataFrame = {
    val wOut = Window.partitionBy(col("src"))
    // cache (not checkpoint) the join-keyed edge table: InMemoryRelation
    // PRESERVES outputPartitioning, so all 6 iteration joins reuse this one
    // hash layout and only the node-sized rank table shuffles per step — a
    // checkpointed edge table re-shuffled every iteration (measured 13.9 s
    // → 8.5 s at sf0.1). The cache deliberately OUTLIVES this function:
    // the tail below stays lazy (see its comment for the four measured
    // alternatives), so the cache is dropped by the callers' documented
    // clearCache-between-queries contract, not here.
    val edges = edgesIn
      .select(col("src"), col("dst"),
              floor(col("n") * lit(1000000.0) / sum(col("n")).over(wOut)
                    + lit(0.5)).cast("long").as("w"))
      .repartition(col("src"))
      .cache()
    val nodes = edges.select(col("src").as("node")).distinct()
      .localCheckpoint(false)
    val tele = nodes.agg(count(lit(1)).as("nn"))
      .select(col("nn"),
              floor(lit((1.0 - D) * 1000000.0) / col("nn") + lit(0.5))
                .cast("long").as("t"))
    var ranks = nodes.crossJoin(broadcast(tele))
      .select(col("node"),
              floor(lit(1000000.0) / col("nn") + lit(0.5)).cast("long").as("r"))
    for (_ <- 1 to Steps) {
      // the nodes LEFT JOIN looks redundant on this graph (symmetrization
      // leaves no dangling nodes, so contrib already covers every node)
      // but is LOAD-BEARING for speed as well as generality: re-keying on
      // the checkpoint-anchored node table each step keeps every
      // iteration's plan shallow and co-partitioned; eliding it measured
      // 7.6 s → 11.3 s at sf0.1
      val contrib = ranks.join(edges, col("node") === col("src"))
        .groupBy(col("dst"))
        .agg(sum(expr("(r * w + 500000) div 1000000")).as("c"))
      ranks = nodes.join(contrib, col("node") === col("dst"), "left")
        .crossJoin(broadcast(tele))
        .select(col("node"),
                (col("t") + expr("(85 * coalesce(c, 0L) + 50) div 100")).as("r"))
      PlanProbe.note("pagerank", ranks)
    }
    // LAZY tail, deliberately: the whole 6-step DAG must reach the
    // caller's action as ONE adaptive query. Forcing materialization at
    // construction so the edge cache could be released here was measured
    // 8.5 s (eager localCheckpoint — Dataset.rdd compiles with AQE off),
    // 8.9 s (cache+count — cached fragments are planned without AQE),
    // 7.6 s (cache+count with canChangeCachedPlanOutputPartitioning=true)
    // vs 2.4 s for this lazy spelling at sf0.1 (r7). The loop-scoped
    // edge cache (~|E| rows, never corpus-sized) therefore lives until
    // the callers' documented clearCache-between-queries contract drops
    // it — the r6 shape, kept on measurement.
    ranks.select(col("node"), (col("r") / lit(1000000.0)).as("pr"))
      .orderBy("node")
  }

  /** The fixture edge list: customer↔supplier purchase counts,
    * symmetrized — a map over the memoized [[PurchaseGraph.pairs]] base
    * (the corpus-sized join + aggregation runs once per (session, dir),
    * not once per graph query). */
  private def purchaseEdges(s: org.apache.spark.sql.SparkSession,
                            d: String): DataFrame = {
    val pairs = PurchaseGraph.pairs(s, d)
      .select(concat(lit("c"), col("cust")).as("cn"),
              concat(lit("s"), col("supp")).as("sn"), col("n"))
    pairs.select(col("cn").as("src"), col("sn").as("dst"), col("n"))
      .unionAll(pairs.select(col("sn").as("src"), col("cn").as("dst"), col("n")))
  }

  private val pagerankSteps: String = (1 to Steps).map { i =>
    s"""r$i AS (
       |  SELECT nd.node,
       |    tele.t + (85 * coalesce(c.c, 0) + 50) // 100 AS r
       |  FROM nodes nd
       |  LEFT JOIN (
       |    SELECT e.dst, sum((p.r * e.w + 500000) // 1000000) AS c
       |    FROM r${i - 1} p JOIN e ON p.node = e.src
       |    GROUP BY e.dst) c ON nd.node = c.dst
       |  CROSS JOIN tele)""".stripMargin
  }.mkString(",\n")

  /** q_graph_kcore's fixed shape: k=3, 8 peel rounds (converged on the
    * fixture well before 8 — GraphSpec pins round 8 == round 7). */
  private val KcoreK = 3
  private val KcoreRounds = 8

  /** Each peel references the previous level exactly ONCE (degrees come
    * from two windows over one scan, and symmetry makes the dst-partition
    * count equal deg(dst)) — a join-on-degree formulation references
    * e(i-1) three times per level, which DuckDB's CTE inlining turns into
    * 3⁸ scans of the base tables (measured: file-handle exhaustion). */
  private val kcorePeels: String = (1 to KcoreRounds).map { i =>
    s"""e$i AS (
       |  SELECT src, dst FROM (
       |    SELECT src, dst,
       |      count(*) OVER (PARTITION BY src) AS ds,
       |      count(*) OVER (PARTITION BY dst) AS dd
       |    FROM e${i - 1})
       |  WHERE ds >= $KcoreK AND dd >= $KcoreK)""".stripMargin
  }.mkString(",\n")

  /** The triangle-machinery CTE chain (sparsified co-supply edges →
    * degree orientation → wedge close → corner counts), shared verbatim
    * by the q_graph_triangles and q_graph_clustercoeff oracles — the
    * SQL twin of [[triangleCorners]]. */
  private val triangleCtes: String =
    """ps0 AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
      |pc AS (SELECT l_partkey, count(*) AS c FROM ps0 GROUP BY 1),
      |ps AS (SELECT ps0.* FROM ps0
      |       JOIN pc ON ps0.l_partkey = pc.l_partkey AND pc.c <= 64),
      |grp AS (SELECT l_partkey, list(l_suppkey ORDER BY l_suppkey) AS ss
      |        FROM ps GROUP BY 1),
      |pairs AS MATERIALIZED (
      |  -- in-row pair expansion (bounded by the 64-cap), MATERIALIZED:
      |  -- oe below is referenced 3x and DuckDB inlines CTEs by default,
      |  -- which re-ran this expansion per reference and, through the
      |  -- view indirection, once degenerated into a spill-to-disk plan
      |  SELECT ss[i] AS s1, ss[j] AS s2, count(*) AS support
      |  FROM grp, UNNEST(range(1, len(ss) + 1)) AS t1(i),
      |       UNNEST(range(1, len(ss) + 1)) AS t2(j)
      |  WHERE i < j GROUP BY 1, 2),
      |st AS (SELECT count(*) n, sum(support) s,
      |              sum(support * support) sq FROM pairs),
      |thr AS (SELECT CAST(floor((s * 1.0 / n
      |                           + 2 * sqrt((sq - s * 1.0 * s / n) / n))
      |                          * 1000000.0 + 0.5) AS BIGINT) AS t
      |        FROM st),
      |e AS MATERIALIZED (
      |  SELECT s1, s2 FROM pairs, thr WHERE support * 1000000 > t),
      |deg AS (SELECT s, count(*) AS d
      |        FROM (SELECT s1 AS s FROM e UNION ALL SELECT s2 FROM e)
      |        GROUP BY 1),
      |oe AS MATERIALIZED (
      |  SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND e.s1 < e.s2)
      |              THEN e.s1 ELSE e.s2 END AS u,
      |         CASE WHEN da.d < db.d OR (da.d = db.d AND e.s1 < e.s2)
      |              THEN e.s2 ELSE e.s1 END AS v,
      |         CASE WHEN da.d < db.d OR (da.d = db.d AND e.s1 < e.s2)
      |              THEN db.d ELSE da.d END AS dv
      |  FROM e JOIN deg da ON da.s = e.s1 JOIN deg db ON db.s = e.s2),
      |w AS (SELECT e1.u, e1.v AS a, e2.v AS b
      |      FROM oe e1 JOIN oe e2 ON e1.u = e2.u
      |      WHERE e1.dv < e2.dv OR (e1.dv = e2.dv AND e1.v < e2.v)),
      |tri AS (SELECT w.u, w.a, w.b FROM w
      |        JOIN oe ON oe.u = w.a AND oe.v = w.b),
      |corners AS (
      |  SELECT s, count(*) AS n_tri
      |  FROM (SELECT u AS s FROM tri UNION ALL SELECT a FROM tri
      |        UNION ALL SELECT b FROM tri)
      |  GROUP BY 1)""".stripMargin

  /** Thresholded part-affinity supplier graph + oriented triangle
    * counts — q_graph_triangles' core, reused by q_graph_clustercoeff
    * (consumers go through the memoized [[PurchaseGraph.triangle]]).
    * Returns (deg, corners, scaffold): per-node degree of the
    * thresholded graph (columns s, d), per-node triangle memberships
    * (s, n_tri), and the internal cached edge set the CALLER must
    * unpersist once both outputs are materialized (the memo builder
    * does; the r6 shape leaked it from every consumer but labelprop).
    * The edge set keeps supplier pairs whose shared-part support exceeds
    * mean + 2σ (both moments exact integer sums); triangles enumerate
    * via the degree-orientation trick (each triangle found exactly once
    * from its lowest-degree corner — the standard O(E^1.5) bound). */
  private[graft] def triangleCorners(
      s: org.apache.spark.sql.SparkSession,
      d: String): (DataFrame, DataFrame, DataFrame) = {
    val ps0 = lineitem(s, d).select(col("l_partkey"), col("l_suppkey"))
      .distinct()
    val pc = ps0.groupBy("l_partkey").agg(count(lit(1)).as("c"))
    val ps = ps0.join(pc.filter(col("c") <= 64).select("l_partkey"),
                      Seq("l_partkey"))
    // pairs expand MAP-SIDE from each part's sorted in-row supplier array
    // (the cooccur discipline — and the shape the oracle's grp/UNNEST
    // CTEs always spelled): the join formulation double-shuffled the
    // (part, supplier) table and was the measured 4.6 s floor of the
    // whole triangle family at sf0.1; this form folds the C(cap, 2)
    // fan-out into the scan task (family total 7.3 s → ~2 s). No
    // explicit caches: pairs is referenced by thr AND e, but both sit in
    // one physical plan where ReusedExchange already dedupes the work —
    // cache boundaries only added job barriers (measured neutral-to-
    // worse).
    val buckets = ps.groupBy("l_partkey")
      .agg(sort_array(collect_list(col("l_suppkey"))).as("ss"))
    val pairs = buckets
      .select(posexplode(col("ss")).as(Seq("i", "s1")), col("ss"))
      .select(col("s1"),
              explode(slice(col("ss"), col("i") + lit(2), size(col("ss"))))
                .as("s2"))
      .groupBy("s1", "s2").agg(count(lit(1)).as("support"))
    val thr = pairs.agg(count(lit(1)).as("n"), sum(col("support")).as("s_"),
                        sum(col("support") * col("support")).as("sq"))
      .select(floor((col("s_") * lit(1.0) / col("n")
                     + lit(2) * sqrt((col("sq") - col("s_") * lit(1.0)
                                      * col("s_") / col("n")) / col("n")))
                    * lit(1000000.0) + lit(0.5)).cast("long").as("t"))
    // cache the sparsified edge set: e feeds deg, the orientation join,
    // and (via deg) the clustercoeff ratio, and the consumers mix
    // broadcast- and shuffle-exchange shapes that AQE's runtime stage
    // reuse cannot always unify. A stats-bearing InMemoryRelation keeps
    // the 17 k-row e broadcastable; an RDD checkpoint instead LOSES the
    // stats and demoted every downstream join to sort-merge (measured
    // 2.3 → 4.5 s for triangles). Variants with an eager materializing
    // count, extra deg/oe caches, or lineage cuts all measured within
    // ambient-load noise of this form — kept simplest.
    val e = pairs.crossJoin(broadcast(thr))
      .filter(col("support") * lit(1000000L) > col("t"))
      .select("s1", "s2").cache()
    val deg = e.select(col("s1").as("s")).unionAll(e.select(col("s2")))
      .groupBy("s").agg(count(lit(1)).as("d"))
    val fwd = col("d1") < col("d2") || (col("d1") === col("d2")
                                        && col("s1") < col("s2"))
    val oe = e
      .join(deg.select(col("s").as("s1"), col("d").as("d1")), Seq("s1"))
      .join(deg.select(col("s").as("s2"), col("d").as("d2")), Seq("s2"))
      .select(when(fwd, col("s1")).otherwise(col("s2")).as("u"),
              when(fwd, col("s2")).otherwise(col("s1")).as("v"),
              when(fwd, col("d2")).otherwise(col("d1")).as("dv"))
    val oe2 = oe.select(col("u").as("u2"), col("v").as("v2"),
                        col("dv").as("dv2"))
    val w = oe
      .join(oe2,
            col("u") === col("u2")
              && (col("dv") < col("dv2")
                  || (col("dv") === col("dv2") && col("v") < col("v2"))))
      .select(col("u"), col("v").as("a"), col("v2").as("b"))
    val tri = w.join(oe.select(col("u").as("a"), col("v").as("b")),
                     Seq("a", "b"))
    val corners = tri.select(col("u").as("s"))
      .unionAll(tri.select(col("a")))
      .unionAll(tri.select(col("b")))
      .groupBy("s").agg(count(lit(1)).as("n_tri"))
    (deg, corners, e)
  }

  /** q_graph_labelprop's fixed round count (see the op's docstring for
    * why convergence is NOT the stopping rule). */
  private[ops] val LpaSteps = 4

  /** One LPA round per CTE: plurality label among neighbors, ties to the
    * smallest label. The window's ORDER BY count(*) runs over the
    * grouped rows — both engines evaluate windows after grouping, so the
    * spelling is shared verbatim. */
  private val lpaSteps: String = (1 to LpaSteps).map { i =>
    s"""l$i AS (
       |  SELECT v, lbl FROM (
       |    SELECT e.a AS v, p.lbl,
       |      row_number() OVER (PARTITION BY e.a
       |        ORDER BY count(*) DESC, p.lbl) AS rk
       |    FROM e JOIN l${i - 1} p ON e.b = p.v
       |    GROUP BY e.a, p.lbl) t
       |  WHERE rk = 1),""".stripMargin
  }.mkString("\n")

  // The 4-round synchronous LPA core shared by q_graph_labelprop and
  // q_eval_communities lives in [[PurchaseGraph.lpaLabels]] (memoized per
  // (session, dir), eager, scaffold-cache-safe). Plurality pick is spelled
  // max(struct(count, -label)) — one aggregation tree (partial max per
  // (a)-partition map-side) instead of the oracle's window spelling, which
  // costs a per-round repartition + SORT by (v, c desc); same
  // (most-frequent, ties→min) result. Measured 8.7 s → 5.4 s at sf0.1 for
  // the 4-round loop.

  def ops: Seq[OpDef] = Seq(

    OpDef(
      "q_graph_pagerank",
      s"""WITH pe AS (
         |  SELECT 'c' || o_custkey AS cn, 's' || l_suppkey AS sn,
         |         count(*) AS n
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |  GROUP BY 1, 2),
         |e0 AS (
         |  SELECT cn AS src, sn AS dst, n FROM pe
         |  UNION ALL
         |  SELECT sn AS src, cn AS dst, n FROM pe),
         |e AS (
         |  SELECT src, dst,
         |    CAST(floor(n * 1000000.0 / sum(n) OVER (PARTITION BY src)
         |               + 0.5) AS BIGINT) AS w
         |  FROM e0),
         |nodes AS (SELECT DISTINCT src AS node FROM e),
         |tele AS (
         |  SELECT count(*) AS nn,
         |         CAST(floor(${(1.0 - D) * 1000000.0} / count(*) + 0.5)
         |              AS BIGINT) AS t
         |  FROM nodes),
         |r0 AS (
         |  SELECT node,
         |         CAST(floor(1000000.0 / tele.nn + 0.5) AS BIGINT) AS r
         |  FROM nodes CROSS JOIN tele),
         |$pagerankSteps
         |SELECT node, r / 1000000.0 AS pr FROM r$Steps ORDER BY node""".stripMargin
    ) { (s, d) => pagerank(purchaseEdges(s, d)) },

    /** Supplier co-occurrence mining ("related items"): pairs of suppliers
      * sharing customers, scored by Jaccard over their customer sets — the
      * collaborative-filtering / market-basket primitive, and on a
      * bipartite purchase graph the useful stand-in for triangle counting
      * (the one-mode projection whose edge weights ARE the shared-neighbor
      * counts).
      *
      * Scale shape is the same discipline as the gram-bucket dedup family:
      * the quadratic step is C(degree, 2) WITHIN one customer, so a
      * hot-customer cap (degree ≤ 100, dropped like hot grams — a customer
      * connected to everything carries no similarity signal) bounds every
      * bucket before the self-join, and the pair stream collapses via
      * map-side partial counts. Degrees join back on the bounded supplier
      * dimension; final output is a deterministic top-100
      * (TakeOrderedAndProject, never a global sort). */
    OpDef(
      "q_graph_cooccur",
      """WITH cs AS (
        |  SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |ok AS (SELECT cust FROM cs GROUP BY cust HAVING count(*) <= 100),
        |c2 AS (SELECT cs.cust, cs.supp FROM cs JOIN ok USING (cust)),
        |deg AS (SELECT supp, count(*) AS d FROM c2 GROUP BY supp),
        |p AS (
        |  SELECT a.supp AS s1, b.supp AS s2, count(*) AS shared
        |  FROM c2 a JOIN c2 b ON a.cust = b.cust AND a.supp < b.supp
        |  GROUP BY a.supp, b.supp HAVING count(*) >= 2)
        |SELECT p.s1, p.s2, CAST(p.shared AS BIGINT) AS shared,
        |  floor((p.shared * 1.0 / (d1.d + d2.d - p.shared))
        |        * 1000000.0 + 0.5) / 1000000.0 AS jacc
        |FROM p
        |JOIN deg d1 ON p.s1 = d1.supp
        |JOIN deg d2 ON p.s2 = d2.supp
        |ORDER BY jacc DESC, s1, s2 LIMIT 100""".stripMargin
    ) { (s, d) =>
      cooccur(PurchaseGraph.custSupp(s, d), degCap = 100, minShared = 2)
        .orderBy(col("jacc").desc, col("s1"), col("s2"))
        .limit(100)
    },

    /** Degree distribution of the bipartite purchase graph, per side —
      * the first diagnostic run on any large graph (skew detection: the
      * hot-key histogram that tells you whether the pagerank/cooccur caps
      * will bind). Two groupBy chains, each with map-side combine; the
      * histogram itself is bounded by the distinct degree count, never
      * |V| or |E|. */
    OpDef(
      "q_graph_degree",
      """WITH cs AS (
        |  SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |dc AS (SELECT cust, count(*) AS deg FROM cs GROUP BY cust),
        |ds AS (SELECT supp, count(*) AS deg FROM cs GROUP BY supp),
        |h AS (
        |  SELECT 'c' AS side, deg, count(*) AS n_nodes FROM dc GROUP BY deg
        |  UNION ALL
        |  SELECT 's' AS side, deg, count(*) AS n_nodes FROM ds GROUP BY deg)
        |SELECT side, CAST(deg AS BIGINT) AS degree,
        |       CAST(n_nodes AS BIGINT) AS n_nodes
        |FROM h ORDER BY side, degree""".stripMargin
    ) { (s, d) =>
      val cs = PurchaseGraph.custSupp(s, d)
      def hist(key: String, side: String): DataFrame =
        cs.groupBy(key).agg(count(lit(1)).as("deg"))
          .groupBy("deg").agg(count(lit(1)).as("n_nodes"))
          .select(lit(side).as("side"), col("deg").cast("long").as("degree"),
                  col("n_nodes").cast("long").as("n_nodes"))
      hist("cust", "c")
        .unionAll(hist("supp", "s"))
        .orderBy("side", "degree")
    },

    /** Triangle counting over the strong co-supply graph — the clustering
      * primitive behind community detection and graph-quality audits. The
      * textbook distributed recipe, every stage shuffle-bounded:
      *
      *  1. edges = supplier pairs whose co-supplied-part support exceeds
      *     mean + 2σ (the graph SPARSIFICATION step — raw co-occurrence on
      *     this fixture is a near-complete graph, and thresholding is what
      *     a 100 TB run does too). Support stats come from exact integer
      *     sums; the threshold is floor-quantized to micro-units once, so
      *     the cut cannot straddle engines. Hot parts (> 64 suppliers) are
      *     dropped before pair expansion — the hot-gram-cap discipline.
      *  2. each edge is ORIENTED from lower to higher (degree, id) — the
      *     classic trick that bounds every node's out-degree by O(√|E|),
      *     so the wedge join below cannot blow up on skewed hubs.
      *  3. wedges = oriented edges joined on their source, canonical
      *     (d, id) order between the two targets; one equi-join against
      *     the oriented edge set closes each triangle EXACTLY once.
      *
      * Output: per-supplier triangle participation (corner counts), zeros
      * included — bounded by |suppliers| at any scale. */
    OpDef(
      "q_graph_triangles",
      s"""WITH $triangleCtes
         |SELECT sp.s_suppkey, CAST(coalesce(corners.n_tri, 0) AS BIGINT)
         |         AS n_triangles
         |FROM (SELECT DISTINCT s_suppkey FROM supplier) sp
         |LEFT JOIN corners ON corners.s = sp.s_suppkey
         |ORDER BY sp.s_suppkey""".stripMargin
    ) { (s, d) =>
      val (_, corners) = PurchaseGraph.triangle(s, d)
      // corners is a checkpointed LogicalRDD (no stats) but |supplier|-
      // bounded — broadcast explicitly instead of letting the planner
      // fall back to a sort-merge join on the missing estimate
      supplier(s, d).select(col("s_suppkey")).distinct()
        .join(broadcast(corners), col("s_suppkey") === col("s"), "left")
        .select(col("s_suppkey"),
                coalesce(col("n_tri"), lit(0L)).cast("long").as("n_triangles"))
        .orderBy("s_suppkey")
    },

    /** Connected components of the supplier co-purchase similarity graph
      * (suppliers sharing ≥ 3 capped-degree customers) — the graph-native
      * face of the dedup clustering machinery: candidate edges come from
      * the same bucket-capped co-occurrence expansion as q_graph_cooccur,
      * and the component labels from the same O(log diameter) hybrid
      * min-label/path-halving loop as q_dedup_cluster
      * ([[LlmOps.clusterPairs]]), so every scale property proven there
      * (one equi-join per round, cached pre-partitioned edges, planted
      * 64-chain in ≤ 10 rounds — ScaleSpec) carries over unchanged.
      * Fully deterministic ⇒ oracle-checked: DuckDB reaches the same
      * labels by recursive min-reachability (UNION-distinct keeps the
      * closure table bounded by Σ component²). */
    OpDef(
      "q_graph_cc",
      """WITH RECURSIVE cs AS (
        |  SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |ok AS (SELECT cust FROM cs GROUP BY cust HAVING count(*) <= 100),
        |c2 AS (SELECT cs.cust, cs.supp FROM cs JOIN ok USING (cust)),
        |p AS (
        |  SELECT a.supp AS s1, b.supp AS s2
        |  FROM c2 a JOIN c2 b ON a.cust = b.cust AND a.supp < b.supp
        |  GROUP BY 1, 2 HAVING count(*) >= 3),
        |e AS (SELECT s1 AS a, s2 AS b FROM p
        |      UNION SELECT s2 AS a, s1 AS b FROM p),
        |r AS (
        |  SELECT a AS v, a AS m FROM e
        |  UNION
        |  SELECT r.v, e.b FROM r JOIN e ON r.m = e.a),
        |lbl AS (SELECT v, min(m) AS canon FROM r GROUP BY v),
        |sz AS (SELECT canon, count(*) AS n FROM lbl GROUP BY canon)
        |SELECT CAST(lbl.v AS BIGINT) AS supp,
        |       CAST(lbl.canon AS BIGINT) AS canon_id,
        |       CAST(sz.n AS BIGINT) AS component_size
        |FROM lbl JOIN sz USING (canon)
        |ORDER BY supp""".stripMargin
    ) { (s, d) =>
      // one direction of the memoized symmetric edge table = exactly the
      // cooccur(minShared=3) pair set clusterPairs symmetrizes itself
      val pairs = PurchaseGraph.simEdges(s, d)
        .filter(col("a") < col("b"))
        .select(col("a").as("doc_a"), col("b").as("doc_b"))
      graft.ops.LlmOps.clusterPairs(pairs)
        .select(col("doc_id").as("supp"), col("canon_id"),
                col("cluster_size").as("component_size"))
        .orderBy("supp")
    },

    /** BFS hop distance from the lexicographically-least node of the
      * symmetrized purchase graph, depth-capped at 6 — the reachability /
      * "how far is everything from here" primitive (fraud rings, blast
      * radius, network diagnostics). Semi-naive frontier relaxation: each
      * round joins ONLY the nodes first reached in the previous round
      * against the cached src-partitioned edge table (the pagerank layout
      * discipline), unions into the distance table, and re-aggregates by
      * min — work per round ∝ frontier × degree, never |V|², and the
      * depth cap bounds the loop at any scale. Deterministic (hop counts
      * and lexicographic seed) ⇒ oracle-checked against DuckDB's
      * recursive UNION-distinct BFS.
      *
      * COST FLOOR (r9 ask #5, sf0.1, warm, agreement-pinned):
      * this spelling 3.8–4.2 s; explicit-frontier semi-naive (newly-reached
      * = distinct ∘ anti-join settled, NO per-round re-aggregation) 4.35 s
      * with per-round checkpoints and 6.19 s with every-other-round — the
      * anti-join + distinct cost MORE stages than the groupBy-min they
      * replace at this fixture, where fixed per-stage overhead dominates
      * (the cold first run is 14.9 s vs 3.8 s warm: codegen + the memoized
      * graph base, not data). Distance DOUBLING (3 rounds over 2-hop
      * edges) is rejected on scale grounds, not fixture grounds: the
      * bipartite 2-hop projection is |E|²/|V|-sized — the classic
      * co-purchase blowup — so the plan that wins at 1,600 nodes would be
      * the one that dies at 100 TB. Earlier ladder (r7/r8): per-round
      * emptiness count 7.1→10.1 s, fully-lazy lineage 21.6 s. This plan is
      * the measured floor among scale-safe spellings.
      *
      * r17 re-open (verdict ask #2), ProfileQ on the same host back to
      * back: 22 jobs/run, the four ~0.3 s ones being the per-round
      * groupBy-min rounds at ~45 tasks over 1,600 rows. (a) Input-aware
      * edge-cache width (fanWidth vs conf): 2.64 vs 2.70 s — flat at 32
      * cores, kept for the 8-core scaling story; (b) explicit
      * fanWidth repartition before the per-round groupBy: 3.31 vs
      * 2.76 s — REGRESSION (forfeits map-side partial aggregation),
      * reverted. The floor stands: the cost is six shuffle rounds of
      * driver/stage overhead on a fixture-sized graph, which is exactly
      * the shape that amortizes at real scale. */
    OpDef(
      "q_graph_bfs",
      """WITH RECURSIVE pe AS (
        |  SELECT DISTINCT 'c' || o_custkey AS cn, 's' || l_suppkey AS sn
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |e AS (SELECT cn AS src, sn AS dst FROM pe
        |      UNION SELECT sn AS src, cn AS dst FROM pe),
        |seed AS (SELECT min(src) AS s0 FROM e),
        |r AS (
        |  SELECT s0 AS v, 0 AS dd FROM seed
        |  UNION
        |  SELECT e.dst, r.dd + 1 FROM r JOIN e ON e.src = r.v
        |  WHERE r.dd < 6)
        |SELECT v AS node, CAST(min(dd) AS BIGINT) AS dist
        |FROM r GROUP BY v
        |ORDER BY node""".stripMargin
    ) { (s, d) =>
      // named membership from the memoized base; the two symmetrized
      // directions are disjoint namespaces ('c*' vs 's*'), so the union
      // is already duplicate-free — no distinct needed
      val pe = PurchaseGraph.namedPairs(s, d)
      // input-aware cache width (r17, the fanWide discipline): the r16
      // conf-width cache made every frontier round scan 32 mostly-empty
      // cached blocks — ProfileQ measured ~45 tasks per round over a
      // 1,600-node graph, pure task overhead (the 8-core scaling ratio
      // 0.67 said the same). The membership table is memoized, so the
      // count is free; the clamp keeps the full session width at scale.
      val peCount = pe.count() * 2
      val edges = pe.select(col("cn").as("src"), col("sn").as("dst"))
        .unionAll(pe.select(col("sn").as("src"), col("cn").as("dst")))
        .repartition(LlmOps.fanWidth(s, peCount), col("src")).cache()
      var dist = edges.agg(min(col("src")).as("node"))
        .select(col("node"), lit(0L).as("dist"))
        .localCheckpoint(false)
      for (k <- 1 to 6) {
        // frontier = nodes first reached last round (semi-naive: already
        // settled nodes re-derive nothing). Deliberately NO per-round
        // frontier-emptiness action: all six rounds stay one fused lazy
        // chain materialized by the eager checkpoint below (a per-round
        // count() measured 7.1 s → 10.1 s at sf0.1 — the extra driver
        // round-trips cost more than the skipped no-op rounds save; at
        // real scale the depth cap, not emptiness, is the bound anyway)
        val next = dist.filter(col("dist") === (k - 1).toLong)
          .join(edges, col("node") === col("src"))
          .select(col("dst").as("node"), lit(k.toLong).as("dist"))
        // (r17 ladder entry: repartition(fanWidth, node) before this
        // groupBy measured 3.31 s vs 2.76 s — the explicit exchange
        // forfeits the map-side partial aggregation the plain groupBy
        // plans, and that costs more than the narrower width saves)
        dist = dist.union(next)
          .groupBy("node").agg(min(col("dist")).as("dist"))
        PlanProbe.note("bfs", dist)
        // EAGER on the last round: the six rounds run here, through
        // the still-live edge cache — the r6 shape unpersisted at
        // construction time, before the cache ever served a round.
        // (A fully-lazy loop is NOT the pagerank trade: dist feeds each
        // round TWICE — frontier filter + union — so uncheckpointed
        // lineage doubles per round; measured 21.6 s vs 3.6 s at sf0.1.)
        dist = dist.localCheckpoint(k == 6)
      }
      edges.unpersist()
      dist.select(col("node"), col("dist").cast("long").as("dist"))
        .orderBy("node")
    },

    /** 3-core of the small-order purchase graph (edges restricted to
      * l_quantity ≤ 2 — the full graph is so dense that NO node falls
      * under degree 3, making its 3-core the identity; the thinned graph
      * has a real periphery, and round 1 strips ~60 % of nodes with a
      * shallow cascade behind it). Iteratively peel nodes of degree < 3
      * until the dense backbone remains — the standard "strip the
      * periphery" primitive (community seeding, nucleus extraction,
      * spam-account triage). Peeling is iterative because removing a node
      * lowers its neighbors' degrees; the round count is FIXED at 8 (a
      * deterministic plan — data-dependent convergence would give the two
      * engines different iteration counts), measured converged by round 3
      * at every fixture SF and pinned round 8 == round 7 in GraphSpec.
      *
      * Per round: one node-sized degree aggregation + two left-semi joins
      * restricting edges to qualifying endpoints — all shuffle-bounded by
      * |E|, and the edge set only ever SHRINKS, so later rounds get
      * cheaper. Degrees are computed from `src` alone: the edge set is
      * symmetric and both-endpoint filtering preserves that symmetry
      * round over round. A lazy localCheckpoint per round keeps the
      * 8-round lineage shallow (the clusterPairs discipline). Fully
      * deterministic ⇒ oracle-checked against 8 unrolled window-peel
      * CTEs. */
    OpDef(
      "q_graph_kcore",
      s"""WITH cs AS (
         |  SELECT DISTINCT 'c' || o_custkey AS cn, 's' || l_suppkey AS sn
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |  WHERE l_quantity <= 2),
         |e0 AS (SELECT cn AS src, sn AS dst FROM cs
         |       UNION ALL SELECT sn AS src, cn AS dst FROM cs),
         |$kcorePeels
         |SELECT src AS node, CAST(count(*) AS BIGINT) AS core_deg
         |FROM e$KcoreRounds GROUP BY src ORDER BY node""".stripMargin
    ) { (s, d) =>
      val pe = PurchaseGraph.thinnedNamed(s, d)
      var e = pe.select(col("cn").as("src"), col("sn").as("dst"))
        .unionAll(pe.select(col("sn").as("src"), col("cn").as("dst")))
        .localCheckpoint(false)
      for (_ <- 1 to KcoreRounds) {
        val keep = e.groupBy("src").agg(count(lit(1)).as("dg"))
          .filter(col("dg") >= KcoreK).select(col("src").as("node"))
        e = e.join(keep, col("src") === col("node"), "left_semi")
          .join(keep, col("dst") === col("node"), "left_semi")
        PlanProbe.note("kcore", e)
        e = e.localCheckpoint(false)
      }
      e.groupBy(col("src").as("node")).agg(count(lit(1)).as("core_deg"))
        .orderBy("node")
    },

    /** Adamic–Adar link prediction over supplier pairs: candidate links
      * score Σ 1/ln(deg(c)) over shared customers — a selective customer
      * shared by two suppliers is strong evidence of a real relationship,
      * a buy-everything customer near-none. The classic common-neighbor
      * baseline (friend suggestion, entity linking, record blocking),
      * and the WEIGHTED upgrade of q_graph_cooccur's raw Jaccard: same
      * candidate expansion, but each common neighbor contributes inverse-
      * log-degree evidence instead of counting 1. (Customer pairs via
      * shared suppliers would be the degenerate orientation here — every
      * fixture supplier serves 400+ customers, so all would be cap-
      * dropped; the supplier-pair orientation has the selective side as
      * the common neighbor.)
      *
      * Scale shape is exactly the [[cooccur]] discipline: customers
      * above 100 distinct suppliers are DROPPED count-first (a hub
      * shared by everyone carries ~zero AA weight yet would emit
      * C(degree, 2) pairs), degree-1 customers can't form a pair, and
      * pairs expand MAP-SIDE from each customer's sorted in-row supplier
      * array — no corpus self-join. Per-customer weights are
      * micro-quantized to BIGINT once (floor(10⁶/ln deg + 0.5)), so the
      * pair-score SUM is exact integer arithmetic: associative, hence
      * identical under Spark's partial aggregation and DuckDB's scan
      * order — double-summing 1/ln(deg) directly would be
      * accumulation-order-dependent. Top-100 by (aa_micro, s1, s2)
      * total order; aa = aa_micro/10⁶ is one exact correctly-rounded
      * division on both engines. */
    OpDef(
      "q_graph_adamic_adar",
      """WITH cs AS (
        |  SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |deg AS (SELECT cust, count(*) AS dg FROM cs GROUP BY cust),
        |ok AS (SELECT cust,
        |         CAST(floor(1000000.0 / ln(CAST(dg AS DOUBLE)) + 0.5)
        |              AS BIGINT) AS w
        |       FROM deg WHERE dg BETWEEN 2 AND 100),
        |cw AS (SELECT cs.cust, cs.supp, ok.w FROM cs JOIN ok USING (cust)),
        |p AS (SELECT a.supp AS s1, b.supp AS s2,
        |        CAST(count(*) AS BIGINT) AS shared,
        |        CAST(sum(a.w) AS BIGINT) AS aa_micro
        |      FROM cw a JOIN cw b
        |        ON a.cust = b.cust AND a.supp < b.supp
        |      GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT s1, s2, shared,
        |  CAST(aa_micro AS DOUBLE) / 1000000.0 AS aa
        |FROM p ORDER BY aa_micro DESC, s1, s2 LIMIT 100""".stripMargin
    ) { (s, d) =>
      val cs = PurchaseGraph.custSupp(s, d)
      val ok = cs.groupBy("cust").agg(count(lit(1)).as("dg"))
        .filter(col("dg").between(2, 100))
        .select(col("cust"),
                floor(lit(1000000.0) / log(col("dg").cast("double"))
                      + lit(0.5)).cast("long").as("w"))
      // explicit-width shuffle before the C(degree,2) pair explosion —
      // see the cooccur helper's note (r16); input-aware width since r17
      // (the memoized membership table's count is free, and the clamp
      // keeps the full session width at any real corpus size)
      val buckets = cs.join(ok, Seq("cust"))
        .repartition(LlmOps.fanWidth(s, cs.count()),
                     col("cust"), col("w"))
        .groupBy("cust", "w")
        .agg(sort_array(collect_list(col("supp"))).as("ss"))
      buckets
        .select(col("w"), posexplode(col("ss")).as(Seq("i", "s1")), col("ss"))
        .select(col("w"), col("s1"),
                explode(slice(col("ss"), col("i") + lit(2), size(col("ss"))))
                  .as("s2"))
        .groupBy("s1", "s2")
        .agg(count(lit(1)).as("shared"), sum(col("w")).as("aa_micro"))
        .filter(col("shared") >= 2)
        .select(col("s1"), col("s2"), col("shared"),
                (col("aa_micro").cast("double") / lit(1000000.0)).as("aa"),
                col("aa_micro"))
        .orderBy(col("aa_micro").desc, col("s1"), col("s2")).limit(100)
        .drop("aa_micro")
    },

    /** Synchronous label propagation (4 fixed rounds) over the same
      * co-purchase similarity graph q_graph_cc partitions — the standard
      * scale community detector (GraphFrames/GraphX ship exactly this):
      * where cc answers "which nodes are CONNECTED at all", LPA answers
      * "which nodes are DENSELY connected", splitting a component into
      * communities when internal edge plurality disagrees with mere
      * reachability. Each round every node adopts its neighbors'
      * PLURALITY label (most frequent; ties → smallest label — the
      * determinism rule that makes sync LPA oracle-checkable at all),
      * all nodes updating simultaneously.
      *
      * The round count is FIXED at 4, not run to convergence: sync LPA
      * on near-bipartite structures provably oscillates between two
      * labelings, so "converged" is not a well-defined stopping rule —
      * the fixed unrolling is both the standard practice (GraphX's
      * default) and what lets DuckDB replay the identical computation.
      * Per round: one |E|-bounded equi-join against the cached
      * src-partitioned edge table + a (node, label)-keyed count + one
      * per-node window pick — all shuffle-bounded by |E|; a lazy
      * localCheckpoint per round keeps the 4-round lineage shallow (the
      * clusterPairs discipline). */
    OpDef(
      "q_graph_labelprop",
      s"""WITH cs AS (
         |  SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |ok AS (SELECT cust FROM cs GROUP BY cust HAVING count(*) <= 100),
         |c2 AS (SELECT cs.cust, cs.supp FROM cs JOIN ok USING (cust)),
         |p AS (
         |  SELECT a.supp AS s1, b.supp AS s2
         |  FROM c2 a JOIN c2 b ON a.cust = b.cust AND a.supp < b.supp
         |  GROUP BY 1, 2 HAVING count(*) >= 3),
         |e AS (SELECT s1 AS a, s2 AS b FROM p
         |      UNION SELECT s2 AS a, s1 AS b FROM p),
         |l0 AS (SELECT DISTINCT a AS v, a AS lbl FROM e),
         |$lpaSteps
         |sz AS (SELECT lbl, count(*) AS n FROM l$LpaSteps GROUP BY lbl)
         |SELECT CAST(l$LpaSteps.v AS BIGINT) AS supp,
         |       CAST(l$LpaSteps.lbl AS BIGINT) AS community,
         |       CAST(sz.n AS BIGINT) AS community_size
         |FROM l$LpaSteps JOIN sz USING (lbl)
         |ORDER BY supp""".stripMargin
    ) { (s, d) =>
      val lbl = PurchaseGraph.lpaLabels(s, d)
      // sz is |communities|-bounded and derives from a checkpointed
      // LogicalRDD (no stats) — broadcast the attach explicitly
      val sz = lbl.groupBy("lbl").agg(count(lit(1)).as("n"))
      lbl.join(broadcast(sz), Seq("lbl"))
        .select(col("v").cast("long").as("supp"),
                col("lbl").cast("long").as("community"),
                col("n").cast("long").as("community_size"))
        .orderBy("supp")
    },

    /** Modularity of the LPA partition — the community-QUALITY scalar
      * (Newman's Q) the eval family applies to graphs: q_eval_ann scores
      * retrieval, q_eval_dedup scores banding, this scores the
      * communities q_graph_labelprop emits. Q = Σ_c [Lᶜ/(2m) −
      * (Dᶜ/(2m))²] over the symmetric edge table; spelled as ONE exact
      * integer numerator m₂·ΣLᶜ − ΣDᶜ² over denominator m₂² (m₂ = the
      * directed edge count = 2m), so partial-aggregation order cannot
      * perturb it and only the final division touches doubles (r6). Q>0
      * means denser-than-random communities. BIGINT-safe while
      * m₂ < ~3·10⁹; beyond that the division moves to DECIMAL — noted,
      * not simulated, at fixture scale.
      *
      * Cost: the LPA rounds (shared via [[lpaLabels]]) + one intra-edge
      * join + two community-bounded aggregates; 1-row attaches declared
      * in the BNLJ allowlist. */
    OpDef(
      "q_eval_communities",
      s"""WITH cs AS (
         |  SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |ok AS (SELECT cust FROM cs GROUP BY cust HAVING count(*) <= 100),
         |c2 AS (SELECT cs.cust, cs.supp FROM cs JOIN ok USING (cust)),
         |p AS (
         |  SELECT a.supp AS s1, b.supp AS s2
         |  FROM c2 a JOIN c2 b ON a.cust = b.cust AND a.supp < b.supp
         |  GROUP BY 1, 2 HAVING count(*) >= 3),
         |e AS (SELECT s1 AS a, s2 AS b FROM p
         |      UNION SELECT s2 AS a, s1 AS b FROM p),
         |l0 AS (SELECT DISTINCT a AS v, a AS lbl FROM e),
         |$lpaSteps
         |deg AS (SELECT a AS v, CAST(count(*) AS BIGINT) AS d
         |        FROM e GROUP BY a),
         |intra AS (
         |  SELECT CAST(count(*) AS BIGINT) AS li
         |  FROM e
         |  JOIN l$LpaSteps x ON e.a = x.v
         |  JOIN l$LpaSteps y ON e.b = y.v AND x.lbl = y.lbl),
         |dc AS (
         |  SELECT x.lbl, CAST(sum(deg.d) AS BIGINT) AS dsum
         |  FROM l$LpaSteps x JOIN deg ON deg.v = x.v
         |  GROUP BY x.lbl),
         |sq AS (SELECT CAST(count(*) AS BIGINT) AS n_comm,
         |              CAST(sum(dsum * dsum) AS BIGINT) AS sd FROM dc),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS m2 FROM e)
         |SELECT sq.n_comm AS n_communities, tot.m2 // 2 AS m_edges,
         |  CAST(intra.li AS BIGINT) AS intra_directed,
         |  floor(((tot.m2 * intra.li - sq.sd) * 1.0 / (tot.m2 * tot.m2))
         |        * 1000000.0 + 0.5) / 1000000.0 AS modularity
         |FROM sq, tot, intra""".stripMargin
    ) { (s, d) =>
      val edges = PurchaseGraph.simEdges(s, d)
      val lbl = PurchaseGraph.lpaLabels(s, d)
      val deg = edges.groupBy(col("a").as("v"))
        .agg(count(lit(1)).cast("long").as("d"))
      val lx = lbl.select(col("v").as("xv"), col("lbl").as("xl"))
      val ly = lbl.select(col("v").as("yv"), col("lbl").as("yl"))
      val intra = edges
        .join(lx, col("a") === col("xv"))
        .join(ly, col("b") === col("yv") && col("xl") === col("yl"))
        .agg(count(lit(1)).cast("long").as("li"))
      val dc = lbl.join(deg, Seq("v"))
        .groupBy("lbl").agg(sum(col("d")).cast("long").as("dsum"))
      val sq = dc.agg(count(lit(1)).cast("long").as("n_comm"),
                      sum(col("dsum") * col("dsum")).cast("long").as("sd"))
      val tot = edges.agg(count(lit(1)).cast("long").as("m2"))
      sq.crossJoin(broadcast(tot)).crossJoin(broadcast(intra))
        .select(col("n_comm").as("n_communities"),
                expr("m2 div 2").as("m_edges"),
                col("li").as("intra_directed"),
                Det.r6((col("m2") * col("li") - col("sd")) * lit(1.0)
                         / (col("m2") * col("m2"))).as("modularity"))
    },

    /** Degree assortativity of the thinned (l_quantity ≤ 2) purchase
      * graph — Newman's degree-mixing coefficient: the Pearson
      * correlation of endpoint degrees over the directed edge list.
      * Negative r (hubs attach to leaves) is the dissortative signature
      * of bipartite purchase/web graphs; positive r (hubs cluster) is
      * the social-graph signature — the one scalar that tells you which
      * regime a new graph is in before choosing cap/salting strategy.
      * Uses the kcore derivation's thinned graph (the full co-purchase
      * graph is complete at fixture scale ⇒ zero degree variance ⇒
      * undefined r). All five moments are exact BIGINT sums over the
      * edge list (associative, engine-order-proof); one final
      * sqrt·sqrt division touches doubles, NULL-guarded against zero
      * variance, r6-rounded. One degree aggregation + one edge join +
      * one 1-row reduce — shuffle-bounded by |E|.
      *
      * Overflow bound (the q_eval_communities discipline): the widest
      * products are n·sxx ≤ m₂²·dmax², so with dmax ≤ 10⁴ the BIGINT
      * range holds while m₂ < ~3·10⁵ — comfortably true on the THINNED
      * fixture graph this op is defined over (m₂ ~10³), but NOT a
      * general-graph guarantee: Spark wraps silently (non-ANSI) where
      * DuckDB errors, so past that bound the final five moments must
      * move to DECIMAL(38,0) (the per-edge sums stay exact BIGINT). */
    OpDef(
      "q_graph_assortativity",
      """WITH pe AS (
        |  SELECT DISTINCT 'c' || o_custkey AS cn, 's' || l_suppkey AS sn
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE l_quantity <= 2),
        |e AS (SELECT cn AS a, sn AS b FROM pe
        |      UNION SELECT sn AS a, cn AS b FROM pe),
        |deg AS (SELECT a AS v, CAST(count(*) AS BIGINT) AS d
        |        FROM e GROUP BY a),
        |xy AS (
        |  SELECT dx.d AS x, dy.d AS y
        |  FROM e JOIN deg dx ON e.a = dx.v JOIN deg dy ON e.b = dy.v),
        |s AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx,
        |    CAST(sum(y * y) AS BIGINT) AS syy
        |  FROM xy)
        |SELECT n AS m2_edges,
        |  floor(((n * sxy - sx * sy) * 1.0
        |         / nullif(sqrt(n * sxx - sx * sx)
        |                  * sqrt(n * syy - sy * sy), 0))
        |        * 1000000.0 + 0.5) / 1000000.0 AS assortativity
        |FROM s""".stripMargin
    ) { (s, d) =>
      val pe = PurchaseGraph.thinnedNamed(s, d)
      val e = pe.select(col("cn").as("a"), col("sn").as("b"))
        .unionAll(pe.select(col("sn").as("a"), col("cn").as("b")))
      val deg = e.groupBy(col("a").as("v"))
        .agg(count(lit(1)).cast("long").as("d"))
      e.join(deg.select(col("v").as("xv"), col("d").as("x")),
             col("a") === col("xv"))
        .join(deg.select(col("v").as("yv"), col("d").as("y")),
              col("b") === col("yv"))
        .agg(count(lit(1)).cast("long").as("n"),
             sum(col("x")).cast("long").as("sx"),
             sum(col("y")).cast("long").as("sy"),
             sum(col("x") * col("y")).cast("long").as("sxy"),
             sum(col("x") * col("x")).cast("long").as("sxx"),
             sum(col("y") * col("y")).cast("long").as("syy"))
        .select(col("n").as("m2_edges"),
                Det.r6((col("n") * col("sxy") - col("sx") * col("sy"))
                         * lit(1.0)
                         / nullif(sqrt(col("n") * col("sxx")
                                         - col("sx") * col("sx"))
                                    * sqrt(col("n") * col("syy")
                                             - col("sy") * col("sy")),
                                  lit(0))).as("assortativity"))
    },

    /** Local clustering coefficient over the sparsified co-supply graph —
      * triangle counting's per-node payoff: c(v) = 2·T(v)/(d(v)(d(v)−1)),
      * the fraction of a node's neighbor pairs that are themselves
      * connected. The standard "is this node in a tight community or a
      * star hub" diagnostic (community seeding, link-spam triage), and
      * the per-node refinement of q_graph_triangles' raw corner counts.
      * Reuses the triangle machinery wholesale ([[triangleCorners]] /
      * the shared CTE chain), adding only a degree-keyed left join and
      * one r6-rounded division; nodes of degree < 2 (coefficient
      * undefined) are excluded. */
    OpDef(
      "q_graph_clustercoeff",
      s"""WITH $triangleCtes
         |SELECT CAST(deg.s AS BIGINT) AS supp,
         |  CAST(deg.d AS BIGINT) AS degree,
         |  CAST(coalesce(corners.n_tri, 0) AS BIGINT) AS n_triangles,
         |  floor((2.0 * coalesce(corners.n_tri, 0) / (deg.d * (deg.d - 1)))
         |        * 1000000.0 + 0.5) / 1000000.0 AS coeff
         |FROM deg LEFT JOIN corners ON corners.s = deg.s
         |WHERE deg.d >= 2
         |ORDER BY supp""".stripMargin
    ) { (s, d) =>
      val (deg, corners) = PurchaseGraph.triangle(s, d)
      deg
        .join(broadcast(corners.select(col("s").as("s2"), col("n_tri"))),
              col("s") === col("s2"), "left")
        .filter(col("d") >= 2)
        .select(col("s").cast("long").as("supp"),
                col("d").cast("long").as("degree"),
                coalesce(col("n_tri"), lit(0L)).cast("long")
                  .as("n_triangles"),
                Det.r6(lit(2.0) * coalesce(col("n_tri"), lit(0L))
                         / (col("d") * (col("d") - lit(1)))).as("coeff"))
        .orderBy("supp")
    }
  )

  /** Jaccard-scored co-occurring item pairs from a distinct (cust, supp)
    * membership table — the reusable core of q_graph_cooccur (and the
    * GrowthSpec scale harness). Customers above `degCap` distinct items
    * are DROPPED before pair generation (a customer connected to
    * everything carries no similarity signal and would alone emit
    * C(degree, 2) pairs), so per-customer fan-out is bounded by
    * C(degCap, 2) at any corpus size. */
  def cooccur(cs: DataFrame, degCap: Int, minShared: Long): DataFrame = {
    // count-first cap (the dropHotBuckets discipline): no customer's
    // supplier set is ever collected before its size is known ≤ degCap,
    // so the bucket row is bounded even if a pathological key appears
    val ok = cs.groupBy("cust").agg(count(lit(1)).as("dc"))
      .filter(col("dc") <= degCap).select("cust")
    val c2 = cs.join(ok, Seq("cust"))
    val deg = c2.groupBy("supp").agg(count(lit(1)).as("d"))
    // pairs expand MAP-SIDE from each customer's sorted in-row supplier
    // array (posexplode picks the left element, slice takes everything
    // after it — s1 < s2 by sortedness) instead of a corpus self-join:
    // one groupBy replaces the join's double shuffle of the big side,
    // and the C(degree, 2) fan-out happens inside the scan task
    // explicit-width shuffle (r16, guide §2.5): the reduce stage below
    // emits C(degree,2) pairs per bucket — compute far exceeding its
    // shuffled bytes, which AQE's byte-based coalescing under-sizes
    // (measured 11 tasks / 1.2 s for q_graph_adamic_adar's twin stage);
    // the explicit partition count satisfies the groupBy's distribution,
    // so no extra exchange. Input-aware width since r17 (verdict ask #4):
    // rows/4k tasks clamped to the session conf — full width at any real
    // corpus, no 32-task overhead on fixture-sized memberships
    val buckets = c2
      .repartition(LlmOps.fanWidth(cs.sparkSession, cs.count()),
                   col("cust"))
      .groupBy("cust")
      .agg(sort_array(collect_list(col("supp"))).as("ss"))
    buckets
      .select(posexplode(col("ss")).as(Seq("i", "s1")), col("ss"))
      .select(col("s1"),
              explode(slice(col("ss"), col("i") + lit(2), size(col("ss"))))
                .as("s2"))
      .groupBy("s1", "s2").agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
      .join(deg.select(col("supp").as("s1"), col("d").as("d1")), Seq("s1"))
      .join(deg.select(col("supp").as("s2"), col("d").as("d2")), Seq("s2"))
      .select(col("s1"), col("s2"), col("shared"),
        Det.r6(col("shared") * lit(1.0)
               / (col("d1") + col("d2") - col("shared"))).as("jacc"))
  }
}
