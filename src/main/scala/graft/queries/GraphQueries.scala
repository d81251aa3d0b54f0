package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Iterative graph computation on the part↔supplier bipartite graph
  * (distinct lineitem pairs, symmetrized). Complements `dedup_clusters`
  * (connected components / label propagation) with a weighted
  * propagation: PageRank.
  *
  * All rank arithmetic is INTEGER micro-units (1e9 = rank 1.0, damping
  * 0.85 as `(85 * s) div 100`, per-edge contribution as integer
  * division by out-degree): float summation order differs between
  * engines and across partitionings, so a double-based rank would never
  * hash-match — the integer form is exactly reproducible everywhere,
  * which is also what you want from a 1000-executor run (bit-identical
  * reruns). Each iteration is one join (rank × edges) + one groupBy —
  * the standard distributed PR shape; edges partition on src and the
  * shuffle is reused across iterations.
  */
object GraphQueries {

  private val iterations = 3

  /** Supplier node ids are offset so the two key spaces cannot collide. */
  private val supplierOffset = 1000000L

  /** Count triangles in an undirected simple graph given as oriented
    * edges `(a, b)` with `a < b` (each undirected edge once). Wedge
    * join on the middle node, closed by an edge lookup — each triangle
    * (x < y < z) materializes exactly once. Reusable so the property
    * spec can pit it against brute force on arbitrary graphs.
    */
  def triangles(e: DataFrame): DataFrame = {
    val wedges = e.join(e.select(col("a").as("b"), col("b").as("z")), "b")
      .select(col("a").as("x"), col("b").as("y"), col("z"))
    wedges.join(e.select(col("a").as("x"), col("b").as("z")), Seq("x", "z"))
  }

  /** Re-orient each undirected edge `(a, b)` (given `a < b`, once per
    * edge) from its LOWER-(degree, id) endpoint to the higher —
    * `(src, dst, dd)` with `dd` = dst's degree, kept so downstream
    * wedge generation can compare endpoints in the same total order.
    * Degree orientation is the classic scale fix for triangle counting
    * (Ortmann & Brandes 2014 survey it): out-degrees are bounded by
    * ~sqrt(|E|), so a hub of degree d contributes 0 wedge pairs instead
    * of C(d, 2) — the id-oriented wedge join is quadratic in hub degree,
    * this one never is.
    */
  def orientEdges(e: DataFrame): DataFrame = {
    val deg = e.select(col("a").as("v")).unionAll(e.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("dv"))
    val lower = col("da") < col("db") || (col("da") === col("db") && col("a") < col("b"))
    e.join(deg.select(col("v").as("a"), col("dv").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("dv").as("db")), "b")
      .select(
        when(lower, col("a")).otherwise(col("b")).as("src"),
        when(lower, col("b")).otherwise(col("a")).as("dst"),
        when(lower, col("db")).otherwise(col("da")).as("dd"),
      )
  }

  /** Open wedges `(y, z)` from a degree-oriented edge set: two
    * out-edges of one `src`, ordered `(deg, id)(y) < (deg, id)(z)`.
    * Exposed so the spec can pin the hub bound (a star graph yields
    * ZERO wedges here vs C(n, 2) under id orientation).
    */
  def orientedWedges(oe: DataFrame): DataFrame =
    oe.select(col("src"), col("dst").as("y"), col("dd").as("dy"))
      .join(oe.select(col("src"), col("dst").as("z"), col("dd").as("dz")), "src")
      .where(col("dy") < col("dz") || (col("dy") === col("dz") && col("y") < col("z")))
      .select(col("y"), col("z"))

  /** Triangle enumeration via degree orientation: every triangle has
    * exactly one vertex that is the (deg, id)-minimum of its three, and
    * materializes exactly once as that vertex's wedge closed by the
    * edge between the two higher endpoints — which the orientation
    * guarantees points lower→higher in the same order, so the closing
    * lookup is a plain equi-join on `(src, dst)`. The oriented edge set
    * sits behind a repartition exchange: all three consumers (both
    * wedge sides and the closure) replay ONE materialization of the
    * orient pipeline instead of re-running its joins.
    */
  def trianglesOriented(e: DataFrame): DataFrame = {
    val oe = orientEdges(e)
    orientedWedges(oe)
      .join(oe.select(col("src").as("y"), col("dst").as("z")), Seq("y", "z"))
  }

  private def edges(s: SparkSession, d: String): DataFrame = {
    // Explicit isnotnull(p) && isnotnull(sup) BELOW the distinct (the
    // r21 stage-reuse discipline — same fix as the simhash and capped-
    // jaccard kernels): pagerank's consumers push DIFFERENT isnotnull
    // subsets through the union legs and the distinct into their copies
    // of this subtree (the rank⋈edgeDeg join pushes isnotnull(src) ⇒
    // isnotnull(p) into the forward leg but isnotnull(sup) into the
    // flipped one; deg and edgeDeg push their own), so the six copies of
    // the distinct exchange stopped being canonically equal and the
    // lineitem scan + distinct executed up to 6× per run (measured:
    // three ~0.6 s scan stages + four ~0.9 s distinct stages in one
    // rep). Pre-filtering with the UNION of the pushed predicates makes
    // every copy identical, so exchange/stage reuse materializes the
    // pair table once. Both columns are never null (l_partkey is a
    // fixture key; sup = l_suppkey + offset of a non-null key), so
    // values are unchanged.
    val li = Tables.lineitem(s, d)
      .select(col("l_partkey").as("p"), (col("l_suppkey") + supplierOffset).as("sup"))
      .where(col("p").isNotNull && col("sup").isNotNull)
      .distinct()
    li.select(col("p").as("src"), col("sup").as("dst"))
      .unionAll(li.select(col("sup").as("src"), col("p").as("dst")))
  }

  val qs: Seq[Q] = Seq(
    Q(
      "graph_pagerank",
      s"""WITH pairs AS (SELECT DISTINCT l_partkey AS p, $supplierOffset + l_suppkey AS sup FROM lineitem),
         |edges AS (SELECT p AS src, sup AS dst FROM pairs
         |          UNION ALL SELECT sup AS src, p AS dst FROM pairs),
         |deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
         |r0 AS (SELECT src AS node, 1000000000::BIGINT AS rank FROM deg),
         |r1 AS (SELECT e.dst AS node, 150000000 + (85 * sum(r.rank // d.outdeg)) // 100 AS rank
         |       FROM r0 r JOIN deg d ON d.src = r.node JOIN edges e ON e.src = r.node
         |       GROUP BY e.dst),
         |r2 AS (SELECT e.dst AS node, 150000000 + (85 * sum(r.rank // d.outdeg)) // 100 AS rank
         |       FROM r1 r JOIN deg d ON d.src = r.node JOIN edges e ON e.src = r.node
         |       GROUP BY e.dst),
         |r3 AS (SELECT e.dst AS node, 150000000 + (85 * sum(r.rank // d.outdeg)) // 100 AS rank
         |       FROM r2 r JOIN deg d ON d.src = r.node JOIN edges e ON e.src = r.node
         |       GROUP BY e.dst)
         |SELECT node, CAST(rank AS BIGINT) AS rank FROM r3 ORDER BY rank DESC, node LIMIT 100""".stripMargin,
    ) { (s, d) =>
      // out-degree is pre-joined into the edge relation ONCE, and the
      // result hash-partitioned on src: each of the 3 iterations is then
      // a single join (rank × edge+deg) + one groupBy, and because the
      // repartition exchange is IDENTICAL under every iteration, Spark's
      // exchange reuse materializes it once and streams it into each
      // join — only the (small) rank side shuffles per iteration
      // (GraphPlanSpec pins both properties). Exchange reuse is
      // deliberately chosen over .cache() here: shuffle files spill to
      // executor disk, so the plan's memory footprint is independent of
      // |E| — at 100 TB an edge relation does not have to fit in the
      // storage-memory pool, and the query leaves no pinned RDDs behind.
      val e = edges(s, d)
      val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
      val edgeDeg = e.join(deg, "src").repartition(col("src"))
      var rank = deg.select(col("src").as("node"), lit(1000000000L).as("rank"))
      (1 to iterations).foreach { _ =>
        rank = rank
          // No join-strategy hint (r21: a SHUFFLE_HASH hint on the rank
          // side was tried — it removes the per-iteration broadcast-build
          // job and reads co-partitioned — and MEASURED +1.6 s against
          // drift-corrected neighbors, so it was reverted). The
          // optimizer's size-based choice is itself the scale-adaptive
          // mechanism: locally rank estimates under the broadcast
          // threshold and broadcasting it is the fastest plan; at real
          // graph sizes the |V|-sized estimate exceeds the threshold and
          // the planner falls back to the shuffle join on its own.
          .join(edgeDeg, col("src") === col("node"))
          .select(col("dst").as("node2"), expr("rank div outdeg").as("contrib"))
          .groupBy(col("node2").as("node"))
          .agg(expr("150000000 + (85 * sum(contrib)) div 100").as("rank"))
      }
      rank.orderBy(desc("rank"), col("node")).limit(100)
    },

    // ----- triangle counting on the part co-purchase graph: parts are
    // linked when they appear in the same order at least TWICE (the
    // co-occurrence threshold prunes incidental pairs; degree-based
    // orientation in trianglesOriented is what bounds wedge fan-out —
    // a hub vertex contributes ZERO wedge pairs instead of C(d, 2), so
    // the join survives power-law degree distributions at 100 TB).
    // Per-order pair generation is quadratic in basket size — bounded
    // here (~7 items); a real pipeline caps it.
    Q(
      "graph_triangles",
      """WITH pp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e0 AS (SELECT a.l_partkey AS a, b.l_partkey AS b, count(*) AS w
        |       FROM pp a JOIN pp b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |       GROUP BY a.l_partkey, b.l_partkey),
        |e AS (SELECT a, b FROM e0 WHERE w >= 2),
        |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |        FROM e e1 JOIN e e2 ON e2.a = e1.b
        |        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)
        |SELECT (SELECT count(*) FROM e0) AS n_pairs,
        |       (SELECT count(*) FROM e) AS n_edges,
        |       (SELECT count(*) FROM tri) AS n_triangles""".stripMargin,
    ) { (s, d) =>
      // r22: the per-order pair generation is ONE groupBy(ok) +
      // collect_set + a map-side double explode, not a distinct + self-
      // join on ok. The former shape shipped the corpus twice (the
      // (ok, pk) distinct exchange, then the ok-exchange feeding both
      // join sides) and materialized the quadratic pair stream THROUGH a
      // join; collect_set computes the same distinct-pk set per order in
      // a single exchange (partial_collect_set dedupes map-side), and the
      // pairs fan out AFTER the shuffle as pure projection work. Values:
      // the pk set per ok is identical to the distinct's, and exploding
      // all (a, b) with a < b from a set enumerates exactly the pairs the
      // `pk < pk2` self-join produced — same multiset into the same
      // (a, b) count. Skew (guide §2.5): a hot order key is ONE task's
      // quadratic loop instead of a skewed join partition — the same
      // single-key bound AQE skew-join cannot split anyway, minus the
      // join machinery; basket size is bounded (~7 here) and a real
      // pipeline caps it upstream.
      // a NULL order key joins nothing in the SQL's ok = ok self-join;
      // groupBy would make one basket of every such row instead
      val pks = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .where(col("ok").isNotNull)
        .groupBy("ok").agg(collect_set(col("pk")).as("pks"))
      // e0 (pair fanout + groupBy) feeds the two counts and the
      // thresholded edge set. The repartition above it is a
      // materialization barrier: the exchange is identical under every
      // consumer, so exchange reuse computes the pair aggregation ONCE
      // and each consumer replays the shuffle output — unlike .cache(),
      // the materialization lives in shuffle files (no storage-memory
      // budget, nothing left pinned after the query). The isnotnull
      // pre-filters BELOW each barrier are the r21 stage-reuse
      // discipline: consumers push different isnotnull subsets, which
      // would otherwise split the barrier copies' canonical forms and
      // re-execute the pipeline per consumer (measured 3× in r21).
      // collect_set never emits nulls, so values are unchanged.
      val e0 = pks
        .select(explode(col("pks")).as("a"), col("pks"))
        .select(col("a"), explode(col("pks")).as("b"))
        .where(col("a") < col("b"))
        .groupBy("a", "b")
        .agg(count(lit(1)).as("w"))
        .where(col("a").isNotNull && col("b").isNotNull)
        .repartition(col("a"))
      // second (tiny) barrier: the orientation pipeline consumes the
      // thresholded edge set three times — replaying a ~|E|-row exchange
      // beats re-filtering the |pairs|-row one per consumer
      val e = e0.where(col("w") >= 2).select("a", "b")
        .where(col("a").isNotNull && col("b").isNotNull)
        .repartition(col("a"))
      val tri = trianglesOriented(e)
      // both e0-level counts in ONE pass over the reused exchange
      e0.agg(
        count(lit(1)).as("n_pairs"),
        count(when(col("w") >= 2, lit(1))).as("n_edges"),
      ).crossJoin(tri.agg(count(lit(1)).as("n_triangles")))
    },
  )
}
