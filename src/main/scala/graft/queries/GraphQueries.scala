package graft.queries

import graft.ops.Lineage._
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Iterative graph analytics over the order graph — the PageRank
  * companion to the connected-components operators (ops/
  * ConnectedComponents.scala): fixed-iteration rank propagation with
  * EXACT integer arithmetic, so the oracle hash-compares the ranks
  * themselves, not a float approximation.
  *
  * Graph: the bipartite customer↔supplier trade graph (distinct pairs
  * from orders ⋈ lineitem, both directions, supplier ids offset by 10^6
  * to keep the node spaces disjoint — key spaces stay far below that at
  * every tested SF). Ranks live in integer micro-units (10^12 total mass
  * split per node); each iteration is base + d·inflow with d = 85/100 in
  * floor division — deterministic on both engines, no float anywhere.
  *
  * Scale shape: each iteration is one join of the rank vector to the
  * edge list on src plus one dst-keyed aggregation — the canonical
  * pre-partitionable PageRank step (at cluster scale both sides would be
  * bucketed by node id so the per-iteration shuffle disappears; the
  * iteration count is fixed at 3, so the plan is 3 chained join+agg
  * stages, not a driver loop over actions).
  */
object GraphQueries {

  private val Iters = 3
  private val SupplierOffset = 1000000L
  private val Mass = 1000000000000L // 10^12 micro-units of total rank

  /** The reusable fixed-iteration PageRank core: `edges(src, dst)` →
    * `(id, r)` final integer micro-unit ranks. Materializes the graph
    * once (localCheckpoint) so each iteration re-reads rather than
    * re-derives it; every arithmetic step is bigint floor division, so
    * the result is engine/partitioning-independent. A hot destination
    * (everyone links the hub) is safe at scale because the dst-inflow
    * aggregation is algebraic — map-side partial agg collapses the hot
    * key's contributions per task before the shuffle
    * (ScaleStressSpec proves the closed form on a 2·10^5-spoke star). */
  def pagerank(edgesIn: org.apache.spark.sql.DataFrame, iters: Int)
      : org.apache.spark.sql.DataFrame = {
    val edges = edgesIn.cutLineage()
    val nodes = edges.select(col("src").as("id")).distinct().cutLineage()
    val nRow = nodes.agg(count(lit(1)).as("n"))
    val deg = edges.groupBy("src").agg(count(lit(1)).as("outdeg")).cutLineage()
    val base = expr(s"(15 * ($Mass div n)) div 100")
    var ranks = nodes.crossJoin(broadcast(nRow))
      .select(col("id"), expr(s"$Mass div n").as("r"))
    (1 to iters).foreach { _ =>
      val inflow = edges
        .join(ranks.withColumnRenamed("id", "src"), "src")
        .join(deg, "src")
        .groupBy(col("dst").as("id"))
        .agg(sum(expr("r div outdeg")).as("inflow"))
      ranks = nodes.crossJoin(broadcast(nRow))
        .join(inflow, Seq("id"), "left")
        .select(col("id"),
          (base + expr("(85 * coalesce(inflow, 0)) div 100")).as("r"))
    }
    ranks
  }

  /** The bipartite customer↔supplier trade edge list (both directions,
    * supplier ids offset by 10^6) — shared by PageRank, BFS and
    * modularity. Both directions come from ONE explode generator over
    * the distinct pair frame (the starEdges discipline, guide §1.2):
    * union(pairs, pairs.reversed) duplicated the join+distinct subtree
    * per branch, re-running the distinct's reduce side twice. */
  private def tradeEdges(s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame =
    Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("c"),
        (lit(SupplierOffset) + col("l_suppkey")).as("s"))
      .distinct()
      .select(explode(array(
        struct(col("c").as("src"), col("s").as("dst")),
        struct(col("s").as("src"), col("c").as("dst")))).as("__e"))
      .select(col("__e.src").as("src"), col("__e.dst").as("dst"))

  /** The part co-purchase edge list (parts sharing >= 2 orders, u < v) —
    * shared by triangle counting, k-core peeling and neighbor-set
    * similarity. BASKET form (round-17 continuation, guide §2.4 "remove
    * shuffles outright"): the old shape self-joined the distinct
    * (order, part) frame on the order key — a second full exchange of
    * the basket frame (the distinct partitioning is (o, p); the join
    * needs (o)) plus both sorted merge sides. A per-order pair fan-out
    * needs no join: ONE order-keyed aggregate collects each basket's
    * distinct part set and the u < v pairs explode row-locally, fan-out
    * bounded by basket size exactly like the join's. The set is
    * referenced once per projection (the CollapseProject HOF rule);
    * pair multisets are order-independent, so collect_set's ordering
    * cannot reach the result. (A Par.spread of the basket frame was
    * A/B'd both raw and over a cut: the raw form re-ran the scan stage
    * and the cut form's extra materialization job cancelled the wider
    * explode — both measured no better than this shape.) */
  private def partEdges(s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    val baskets = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .groupBy("o").agg(collect_set(col("p")).as("ps"))
    baskets
      .select(explode(expr(
        "flatten(transform(ps, x -> transform(ps, y -> struct(x, y))))"))
        .as("uv"))
      .filter(col("uv.x") < col("uv.y"))
      .groupBy(col("uv.x").as("u"), col("uv.y").as("v"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= 2)
      .select("u", "v")
  }

  /** The reusable multi-source BFS core: `edges(src, dst)` + seed node
    * set → `(id, lvl)` minimum hop counts for every node reached within
    * `maxLvl` hops. Classic frontier expansion: each iteration joins the
    * CURRENT FRONTIER (not the visited set) to the edge list on src —
    * frontier-sized probe, bucket-able by node id at cluster scale — then
    * anti-joins the visited set to keep only newly discovered nodes, so
    * per-iteration work is frontier-edges + a node-sized anti join, never
    * edge-set × visited-set. Rounds run through [[iterate]]. */
  def bfsLevels(edgesIn: org.apache.spark.sql.DataFrame,
                seeds: org.apache.spark.sql.DataFrame,
                maxLvl: Int,
                coalesceEvery: Int = 8): org.apache.spark.sql.DataFrame = {
    val e = edgesIn.cutLineage()
    val seeded = seeds.select(col("id"), lit(0).as("lvl")).cutLineage()
    // The visited set is an APPEND-ONLY union of per-round frontiers, so
    // only each round's delta is checkpointed; the anti-join and the
    // final result read the union of those already-cut frames directly.
    // Re-checkpointing the accumulated union every round (the pre-round-14
    // shape) re-serialized the ENTIRE visited set every round — O(rounds²)
    // serialize work under the MEMORY_AND_DISK_SER contract — and kept a
    // second full copy of the visited set in the block store. The union
    // of <= coalesceEvery LogicalRDDs keeps the logical plan linear in
    // rounds (the exponential blowup cutLineage exists to stop comes from
    // self-joins, not unions). The AppendOnlyCuts accumulator coalesces
    // the live deltas into ONE fresh cut every `coalesceEvery` rounds, so
    // a deep BFS holds at most coalesceEvery + 1 block sets, and each
    // visited row is re-serialized at most once per coalesceEvery rounds.
    // LineageSpec/GraphOpsSpec pin both the deep-loop bound and the
    // correctness of coalesced levels.
    // the LAST level feeds nothing downstream — no next frontier, no
    // later anti-join — so it stays un-cut (LastRound.Uncut)
    val acc = new AppendOnlyCuts(coalesceEvery)
    val loop = iterate(seeded, maxLvl, last = LastRound.Uncut, deltas = acc) {
      (level, l) =>
        // after a coalesce `level` is the merged union, so read this
        // round's frontier out of it by level (scan-local, no shuffle)
        e.join(level.filter(col("lvl") === l - 1).select(col("id").as("src")), "src")
          .select(col("dst").as("id")).distinct()
          .join(acc.union.select("id"), Seq("id"), "left_anti")
          .select(col("id"), lit(l).as("lvl"))
    }
    if (loop.rounds == 0) acc.union else acc.union.unionAll(loop.frame)
  }

  val qs: Seq[Q] = Seq(
    Q(
      "g_pagerank",
      s"""PageRank ($Iters fixed iterations, damping 85/100, integer
         |micro-unit arithmetic) over the bipartite customer↔supplier
         |trade graph. r0 = 10^12 div n per node; each step
         |r' = (15·r0) div 100 + (85·Σ inflow) div 100 with per-edge
         |contribution r div outdeg — every operation integer floor
         |division, so the oracle matches rank-for-rank. Output: every
         |node's final rank.""".stripMargin,
      Some(
        s"""WITH pairs AS (
           |  SELECT DISTINCT o.o_custkey AS c, $SupplierOffset + l.l_suppkey AS s
           |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
           |edges AS (
           |  SELECT c AS src, s AS dst FROM pairs
           |  UNION ALL
           |  SELECT s AS src, c AS dst FROM pairs),
           |nodes AS (SELECT DISTINCT src AS id FROM edges),
           |nn AS (SELECT COUNT(*) AS n FROM nodes),
           |deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
           |r0 AS (SELECT id, $Mass // nn.n AS r FROM nodes, nn),
           |r1 AS (
           |  SELECT nodes.id,
           |         (15 * ($Mass // nn.n)) // 100
           |         + (85 * COALESCE(f.inflow, 0)) // 100 AS r
           |  FROM nodes CROSS JOIN nn
           |  LEFT JOIN (
           |    SELECT e.dst AS id, CAST(SUM(r0.r // deg.outdeg) AS BIGINT) AS inflow
           |    FROM edges e JOIN r0 ON e.src = r0.id JOIN deg ON e.src = deg.src
           |    GROUP BY e.dst) f ON nodes.id = f.id),
           |r2 AS (
           |  SELECT nodes.id,
           |         (15 * ($Mass // nn.n)) // 100
           |         + (85 * COALESCE(f.inflow, 0)) // 100 AS r
           |  FROM nodes CROSS JOIN nn
           |  LEFT JOIN (
           |    SELECT e.dst AS id, CAST(SUM(r1.r // deg.outdeg) AS BIGINT) AS inflow
           |    FROM edges e JOIN r1 ON e.src = r1.id JOIN deg ON e.src = deg.src
           |    GROUP BY e.dst) f ON nodes.id = f.id),
           |r3 AS (
           |  SELECT nodes.id,
           |         (15 * ($Mass // nn.n)) // 100
           |         + (85 * COALESCE(f.inflow, 0)) // 100 AS r
           |  FROM nodes CROSS JOIN nn
           |  LEFT JOIN (
           |    SELECT e.dst AS id, CAST(SUM(r2.r // deg.outdeg) AS BIGINT) AS inflow
           |    FROM edges e JOIN r2 ON e.src = r2.id JOIN deg ON e.src = deg.src
           |    GROUP BY e.dst) f ON nodes.id = f.id)
           |SELECT id,
           |       CASE WHEN id >= $SupplierOffset THEN 'supplier' ELSE 'customer' END
           |         AS node_type,
           |       r AS rank_micro
           |FROM r3
           |ORDER BY id""".stripMargin),
      (s, dir) =>
        pagerank(tradeEdges(s, dir), Iters)
          .select(col("id"),
            when(col("id") >= SupplierOffset, lit("supplier"))
              .otherwise(lit("customer")).as("node_type"),
            col("r").as("rank_micro"))
          .orderBy("id")),

    Q(
      "g_label_propagation",
      s"""Label propagation community detection ($Iters synchronous rounds)
         |over the trade graph, seeded with nation labels: each round every
         |node adopts its neighbors' majority label (ties -> smallest
         |label), the argmax computed as ONE algebraic MAX over the packed
         |`cnt*2^33 + (2^33-1-lbl)` key — hub nodes are safe because the
         |(node,label) count and the packed max both partial-aggregate
         |map-side; no per-node sort anywhere. Labels are asserted in
         |[0, 2^33) (raise_error), so the pack cannot collide; the implied
         |bound on cnt is < 2^30 same-label neighbors per node (pack stays
         |under 2^63). Node ids use PARITY
         |encoding (customer 2k, supplier 2k+1) instead of an additive
         |offset: the 5x key-shifted replica moves keys by copy*10^8, and
         |an offset discriminator misclassifies shifted customers as
         |suppliers — the raise_error guard caught exactly that in
         |scale-verify; parity is collision-proof at any key range.
         |Output: the final community size per label split by node side,
         |plus the last round's churn — the convergence reading. Like the
         |other graph rows this is a fixed-iteration chained join+agg,
         |bucketable by node id at cluster scale.""".stripMargin,
      Some(
        s"""WITH pairs AS MATERIALIZED (
           |  SELECT DISTINCT 2 * o.o_custkey AS c, 2 * l.l_suppkey + 1 AS s
           |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
           |edges AS MATERIALIZED (
           |  SELECT c AS src, s AS dst FROM pairs
           |  UNION ALL
           |  SELECT s AS src, c AS dst FROM pairs),
           |nodes AS MATERIALIZED (SELECT DISTINCT src AS id FROM edges),
           |-- labels asserted in [0,2^33) so cnt*2^33+(2^33-1-lbl) packs safely (cnt < 2^30)
           |lab0 AS MATERIALIZED (
           |  SELECT n.id,
           |         CAST(CASE WHEN n.id % 2 = 1 THEN s.s_nationkey
           |                   ELSE c.c_nationkey END AS BIGINT) AS lbl
           |  FROM nodes n
           |  LEFT JOIN customer c ON n.id = 2 * c.c_custkey
           |  LEFT JOIN supplier s ON n.id = 2 * s.s_suppkey + 1),
           |c1 AS MATERIALIZED (
           |  SELECT e.dst AS id, l.lbl, COUNT(*) AS cnt
           |  FROM edges e JOIN lab0 l ON e.src = l.id GROUP BY 1, 2),
           |lab1 AS MATERIALIZED (
           |  SELECT id, 8589934591 - (MAX(cnt*8589934592 + (8589934591 - lbl)) % 8589934592) AS lbl
           |  FROM c1 GROUP BY id),
           |c2 AS MATERIALIZED (
           |  SELECT e.dst AS id, l.lbl, COUNT(*) AS cnt
           |  FROM edges e JOIN lab1 l ON e.src = l.id GROUP BY 1, 2),
           |lab2 AS MATERIALIZED (
           |  SELECT id, 8589934591 - (MAX(cnt*8589934592 + (8589934591 - lbl)) % 8589934592) AS lbl
           |  FROM c2 GROUP BY id),
           |c3 AS MATERIALIZED (
           |  SELECT e.dst AS id, l.lbl, COUNT(*) AS cnt
           |  FROM edges e JOIN lab2 l ON e.src = l.id GROUP BY 1, 2),
           |lab3 AS MATERIALIZED (
           |  SELECT id, 8589934591 - (MAX(cnt*8589934592 + (8589934591 - lbl)) % 8589934592) AS lbl
           |  FROM c3 GROUP BY id),
           |churn AS MATERIALIZED (
           |  SELECT CAST(COUNT(*) FILTER (WHERE a.lbl <> b.lbl) AS BIGINT) AS n_changed
           |  FROM lab3 a JOIN lab2 b ON a.id = b.id)
           |SELECT lab3.lbl AS label,
           |       COUNT(*) AS n_nodes,
           |       CAST(SUM(CASE WHEN lab3.id % 2 = 1 THEN 0 ELSE 1 END)
           |         AS BIGINT) AS n_customers,
           |       CAST(SUM(CASE WHEN lab3.id % 2 = 1 THEN 1 ELSE 0 END)
           |         AS BIGINT) AS n_suppliers,
           |       churn.n_changed
           |FROM lab3, churn
           |GROUP BY lab3.lbl, churn.n_changed
           |ORDER BY label""".stripMargin),
      (s, dir) => {
        // parity-encoded trade edges (customer 2k, supplier 2k+1):
        // collision-proof under the scale replica's copy*10^8 key shifts,
        // unlike the additive-offset encoding the rank queries use
        val pairs = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
          .join(Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey")),
            col("o_orderkey") === col("l_orderkey"))
          .select((col("o_custkey") * 2).as("c"), (col("l_suppkey") * 2 + 1).as("s"))
          .distinct()
        // both directions from one generator pass (guide §1.2): the
        // union form re-ran the join+distinct's reduce side per branch
        // inside the cut materialization
        val edges = pairs
          .select(explode(array(
            struct(col("c").as("src"), col("s").as("dst")),
            struct(col("s").as("src"), col("c").as("dst")))).as("__e"))
          .select(col("__e.src").as("src"), col("__e.dst").as("dst"))
          .cutLineage()
        val nodes = edges.select(col("src").as("id")).distinct()
        val rawLbl = nodes
          .join(Tables.customer(s, dir).select(col("c_custkey"), col("c_nationkey")),
            col("id") === col("c_custkey") * 2, "left")
          .join(Tables.supplier(s, dir).select(col("s_suppkey"), col("s_nationkey")),
            col("id") === col("s_suppkey") * 2 + 1, "left")
          .select(col("id"),
            when(col("id") % 2 === 1, col("s_nationkey"))
              .otherwise(col("c_nationkey")).cast("bigint").as("lbl0"))
        // pack invariant asserted, not assumed: a label outside [0,99]
        // would collide with the count digits and elect the wrong majority
        val seed = rawLbl.select(col("id"),
          when(col("lbl0").between(0, 8589934591L), col("lbl0"))
            .otherwise(raise_error(concat(
              lit("g_label_propagation pack overflow: label "),
              col("lbl0").cast("string"), lit(" outside [0,2^33)")))).as("lbl"))
          .cutLineage()
        // the churn probe reads the last TWO label rounds (keepPrevious);
        // the edge cut is released after its last propagation join
        val loop = iterate(seed, Iters, keepPrevious = true, inputs = Seq(edges)) {
          (labels, _) =>
            edges
              .join(labels.withColumnRenamed("id", "src"), "src")
              .groupBy(col("dst").as("id"), col("lbl"))
              .agg(count(lit(1)).as("cnt"))
              .groupBy("id")
              .agg((lit(8589934591L) - (max(col("cnt") * 8589934592L + (lit(8589934591L) - col("lbl"))) % 8589934592L)).as("lbl"))
        }
        val (labels, prev) = (loop.frame, loop.previous)
        val churn = labels.select(col("id"), col("lbl").as("new_lbl"))
          .join(prev.select(col("id"), col("lbl").as("old_lbl")), "id")
          .agg(sum(when(col("new_lbl") =!= col("old_lbl"), 1L).otherwise(0L)).as("n_changed"))
        labels
          .groupBy(col("lbl").as("label"))
          .agg(
            count(lit(1)).as("n_nodes"),
            sum(when(col("id") % 2 === 1, 0L).otherwise(1L)).as("n_customers"),
            sum(when(col("id") % 2 === 1, 1L).otherwise(0L)).as("n_suppliers"))
          .crossJoin(broadcast(churn))
          .orderBy("label")
      }),

    Q(
      "g_bfs_levels",
      """Multi-source BFS hop levels on the bipartite trade graph — the
        |reachability / shortest-unweighted-path primitive (influence
        |radius, contamination spread, link-distance features). Seeds are
        |the customer nodes with id ≡ 1 (mod 50); three frontier
        |expansions assign each reached node its MINIMUM hop count.
        |Per-iteration work is frontier ⋈ edges (frontier-sized, keyed by
        |node — bucket-able at cluster scale) plus a node-sized anti join
        |against the visited set; the edge list is materialized once. The
        |oracle unrolls the same three levels as NOT-IN set-subtraction
        |CTEs — level sets are disjoint by construction, so (id) is a
        |total order.""".stripMargin,
      Some(
        s"""WITH pairs AS (
           |  SELECT DISTINCT o.o_custkey AS c, $SupplierOffset + l.l_suppkey AS s
           |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
           |edges AS (
           |  SELECT c AS src, s AS dst FROM pairs
           |  UNION ALL
           |  SELECT s AS src, c AS dst FROM pairs),
           |l0 AS (
           |  SELECT DISTINCT src AS id FROM edges
           |  WHERE src < $SupplierOffset AND src % 50 = 1),
           |l1 AS (
           |  SELECT DISTINCT e.dst AS id FROM edges e JOIN l0 ON e.src = l0.id
           |  WHERE e.dst NOT IN (SELECT id FROM l0)),
           |l2 AS (
           |  SELECT DISTINCT e.dst AS id FROM edges e JOIN l1 ON e.src = l1.id
           |  WHERE e.dst NOT IN (SELECT id FROM l0)
           |    AND e.dst NOT IN (SELECT id FROM l1)),
           |l3 AS (
           |  SELECT DISTINCT e.dst AS id FROM edges e JOIN l2 ON e.src = l2.id
           |  WHERE e.dst NOT IN (SELECT id FROM l0)
           |    AND e.dst NOT IN (SELECT id FROM l1)
           |    AND e.dst NOT IN (SELECT id FROM l2)),
           |lv AS (
           |  SELECT id, 0 AS lvl FROM l0
           |  UNION ALL SELECT id, 1 FROM l1
           |  UNION ALL SELECT id, 2 FROM l2
           |  UNION ALL SELECT id, 3 FROM l3)
           |SELECT id,
           |       CASE WHEN id >= $SupplierOffset THEN 'supplier' ELSE 'customer' END
           |         AS node_type,
           |       CAST(lvl AS INT) AS lvl
           |FROM lv
           |ORDER BY id""".stripMargin),
      (s, dir) => {
        val edges = tradeEdges(s, dir)
        val seeds = edges
          .filter(col("src") < SupplierOffset && col("src") % 50 === 1)
          .select(col("src").as("id")).distinct()
        bfsLevels(edges, seeds, maxLvl = 3)
          .select(col("id"),
            when(col("id") >= SupplierOffset, lit("supplier"))
              .otherwise(lit("customer")).as("node_type"),
            col("lvl"))
          .orderBy("id")
      }),

    Q(
      "g_triangle_count",
      """Triangle counting on the part co-purchase graph (parts sharing
        |>= 2 orders are connected) — the clustering-coefficient /
        |community-density primitive. Output: per-node triangle
        |participation counts. The ENGINE counts via degree-ordered
        |orientation (each undirected edge points from lower to higher
        |(degree, id); wedges form only at each triangle's lowest-ordered
        |node, whose out-degree is O(sqrt(m)) amortized — Schank &
        |Wagner's forward algorithm, the bound that survives hub nodes at
        |100 TB), while the ORACLE counts the naive id-ordered
        |a<b<c three-way self-join — the definition. Matching per-node
        |counts prove the orientation is count-preserving. Edge list is
        |materialized once (localCheckpoint) and reused by the degree
        |pass, both wedge sides, and the closing-edge probe; the node
        |degree table is key-cardinality-sized and broadcasts.""".stripMargin,
      Some(
        """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
          |e AS (
          |  SELECT a.p AS u, b.p AS v
          |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
          |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
          |tri AS (
          |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
          |  FROM e e1
          |  JOIN e e2 ON e1.v = e2.u
          |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
          |nodes AS (
          |  SELECT a AS node FROM tri
          |  UNION ALL SELECT b FROM tri
          |  UNION ALL SELECT c FROM tri)
          |SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri
          |FROM nodes GROUP BY node ORDER BY node""".stripMargin),
      (s, dir) => triangleCounts(partEdges(s, dir)).orderBy("node"),
    ),

    Q(
      "g_hits_scores",
      """HITS hubs-and-authorities — the second classic fixpoint after
        |PageRank, and the one the bipartite trade graph is literally
        |MADE for: customers are the hub side, suppliers the authority
        |side, so the h = A·a / a = Aᵀ·h alternation is two directions of
        |the SAME distinct (customer, supplier) edge list with no node-id
        |union or side encoding anywhere (nothing for the replica's key
        |shifts to break). Two full iterations from uniform authority
        |mass, each half-step = one edge-list join + one key-sized
        |aggregate (the pre-partitionable PageRank shape — bucket both
        |sides by node id at cluster scale and the per-iteration shuffle
        |disappears). Normalization is per-round MAX-scaling to ppm in
        |truncating integer division — the one-row max broadcasts, no
        |sqrt/L2 norm, so scores are hash-exact on both engines. Bounds:
        |h <= 10^6·deg <= ~10^11, x10^6 inside the normalize < 10^17 —
        |BIGINT-safe at any tested scale. Output: every node's final
        |hub/authority score in ppm of its side's max.""".stripMargin,
      Some(
        """WITH pairs AS MATERIALIZED (
          |  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
          |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
          |h1 AS MATERIALIZED (
          |  SELECT c, CAST(COUNT(*) AS BIGINT) * 1000000 AS h FROM pairs GROUP BY c),
          |h1n AS MATERIALIZED (
          |  SELECT c, h * 1000000 // (SELECT MAX(h) FROM h1) AS hn FROM h1),
          |a1 AS MATERIALIZED (
          |  SELECT s, CAST(SUM(hn) AS BIGINT) AS a FROM pairs JOIN h1n USING (c) GROUP BY s),
          |a1n AS MATERIALIZED (
          |  SELECT s, a * 1000000 // (SELECT MAX(a) FROM a1) AS an FROM a1),
          |h2 AS MATERIALIZED (
          |  SELECT c, CAST(SUM(an) AS BIGINT) AS h FROM pairs JOIN a1n USING (s) GROUP BY c),
          |h2n AS MATERIALIZED (
          |  SELECT c, h * 1000000 // (SELECT MAX(h) FROM h2) AS hn FROM h2),
          |a2 AS MATERIALIZED (
          |  SELECT s, CAST(SUM(hn) AS BIGINT) AS a FROM pairs JOIN h2n USING (c) GROUP BY s),
          |a2n AS MATERIALIZED (
          |  SELECT s, a * 1000000 // (SELECT MAX(a) FROM a2) AS an FROM a2)
          |SELECT 'authority' AS side, s AS id, an AS score_ppm FROM a2n
          |UNION ALL
          |SELECT 'hub' AS side, c AS id, hn AS score_ppm FROM h2n
          |ORDER BY side, id""".stripMargin),
      (s, dir) => {
        val pairs = Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_custkey"))
          .join(Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey")),
            col("o_orderkey") === col("l_orderkey"))
          .select(col("o_custkey").as("c"), col("l_suppkey").as("s"))
          .distinct().cutLineage()
        def norm(df: org.apache.spark.sql.DataFrame, key: String,
                 v: String, out: String) =
          df.crossJoin(broadcast(df.agg(max(col(v)).as("mx"))))
            .select(col(key), expr(s"$v * 1000000 div mx").as(out))
        // a0 = 1e6 per supplier, so the first hub half-step is 1e6·deg(c)
        val h1n = norm(pairs.groupBy("c")
          .agg((count(lit(1)) * 1000000L).as("h")), "c", "h", "hn")
        val a1n = norm(pairs.join(h1n, "c").groupBy("s")
          .agg(sum("hn").as("a")), "s", "a", "an")
        // h2n feeds BOTH the second authority step and the output union:
        // checkpoint so the edge join above it runs once, not per branch
        val h2n = norm(pairs.join(a1n, "s").groupBy("c")
          .agg(sum("an").as("h")), "c", "h", "hn").cutLineage()
        val a2n = norm(pairs.join(h2n, "c").groupBy("s")
          .agg(sum("hn").as("a")), "s", "a", "an")
        a2n.select(lit("authority").as("side"), col("s").as("id"),
            col("an").as("score_ppm"))
          .unionAll(h2n.select(lit("hub").as("side"), col("c").as("id"),
            col("hn").as("score_ppm")))
          .orderBy("side", "id")
      }),

    Q(
      "g_sssp_bellman",
      """Weighted single-source shortest paths (4-round Bellman-Ford) on
        |the trade graph — the "cheapest multi-leg route" companion to
        |g_bfs_levels' hop counts: edges are distinct customer↔supplier
        |trade pairs weighted by the MINIMUM line price in exact cents
        |(both directions; supplier ids offset by 10^6 like pagerank),
        |the source is the minimum customer key (closed-form in both
        |engines), and each round relaxes every edge once:
        |d' = min(d, min over in-edges(d[src] + w)). Distances stay in
        |exact bigint cents — min is associative, so the relax
        |aggregation combines map-side and the per-round shuffle
        |carries one row per reached node. Four rounds = paths of at
        |most 4 legs: in Spark a loop of join+groupBy-min with
        |per-round lineage truncation (localCheckpoint — the same
        |iterative-plan discipline as pagerank/BFS); the oracle unrolls
        |the identical four relaxations as CTEs. Replica copies are
        |mutually invisible (keys shift together), so the reached set
        |stays the source copy's component — output is component-sized,
        |not corpus-sized, at every scale.""".stripMargin,
      Some(
        """WITH pe AS (
          |  SELECT o_custkey AS c, l_suppkey + 1000000 AS s,
          |         CAST(MIN(CAST(floor(l_extendedprice * 100) AS BIGINT))
          |              AS BIGINT) AS w
          |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
          |  GROUP BY 1, 2),
          |e AS (SELECT c AS src, s AS dst, w FROM pe
          |      UNION ALL SELECT s, c, w FROM pe),
          |d0 AS (SELECT CAST(MIN(c_custkey) AS BIGINT) AS id,
          |              CAST(0 AS BIGINT) AS d FROM customer),
          |d1 AS (SELECT id, CAST(MIN(d) AS BIGINT) AS d FROM (
          |  SELECT id, d FROM d0
          |  UNION ALL SELECT e.dst, d0.d + e.w FROM d0 JOIN e ON e.src = d0.id)
          |  GROUP BY id),
          |d2 AS (SELECT id, CAST(MIN(d) AS BIGINT) AS d FROM (
          |  SELECT id, d FROM d1
          |  UNION ALL SELECT e.dst, d1.d + e.w FROM d1 JOIN e ON e.src = d1.id)
          |  GROUP BY id),
          |d3 AS (SELECT id, CAST(MIN(d) AS BIGINT) AS d FROM (
          |  SELECT id, d FROM d2
          |  UNION ALL SELECT e.dst, d2.d + e.w FROM d2 JOIN e ON e.src = d2.id)
          |  GROUP BY id),
          |d4 AS (SELECT id, CAST(MIN(d) AS BIGINT) AS d FROM (
          |  SELECT id, d FROM d3
          |  UNION ALL SELECT e.dst, d3.d + e.w FROM d3 JOIN e ON e.src = d3.id)
          |  GROUP BY id)
          |SELECT id, d AS dist_cents FROM d4 ORDER BY id""".stripMargin),
      (s, dir) => {
        val pe = Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_custkey"))
          .join(Tables.lineitem(s, dir)
            .select(col("l_orderkey"), col("l_suppkey"), col("l_extendedprice")),
            col("o_orderkey") === col("l_orderkey"))
          .groupBy(col("o_custkey").as("c"),
            (col("l_suppkey") + lit(SupplierOffset)).as("s"))
          .agg(min(floor(col("l_extendedprice") * 100).cast("long")).as("w"))
        // both directions from one generator pass (guide §1.2): the
        // union form re-ran the min-price aggregate's reduce side per
        // branch inside the cut materialization
        val e = pe
          .select(explode(array(
            struct(col("c").as("src"), col("s").as("dst"), col("w")),
            struct(col("s").as("src"), col("c").as("dst"), col("w")))).as("__e"))
          .select(col("__e.src").as("src"), col("__e.dst").as("dst"),
            col("__e.w").as("w"))
          .cutLineage()
        val seed = Tables.customer(s, dir)
          .agg(min("c_custkey").cast("long").as("id"))
          .select(col("id"), lit(0L).as("d"))
          .cutLineage()
        val dist = iterate(seed, 4, inputs = Seq(e)) { (dist, _) =>
          dist
            .unionAll(e.join(dist.withColumnRenamed("id", "src"), "src")
              .select(col("dst").as("id"), (col("d") + col("w")).as("d")))
            .groupBy("id").agg(min("d").as("d"))
        }.frame
        dist.select(col("id"), col("d").as("dist_cents")).orderBy("id")
      }),

    Q(
      "g_node_similarity",
      """Neighbor-set Jaccard similarity join on the co-purchase graph —
        |the item-item collaborative-filtering primitive ("parts bought
        |with similar baskets"). HUB-FILTERED the way recommender
        |blocking does it: nodes with degree > 64 are dropped from the
        |graph first (a hot item shared by everyone carries no
        |similarity signal AND would fan out C(deg, 2) wedge pairs —
        |the filter is what bounds per-neighbor work at any scale); on
        |the residual graph, shared-neighbor counts come from the wedge
        |join grouped per pair, unions from broadcast degrees
        |(|A u B| = dA + dB - |A n B|), and pairs at Jaccard >= 0.1
        |survive. Exact integer ppm; the oracle runs the identical
        |filtered definition.""".stripMargin,
      Some(
        """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
          |e0 AS (
          |  SELECT a.p AS u, b.p AS v
          |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
          |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
          |ed AS (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
          |deg AS (SELECT u AS node, COUNT(*) AS d FROM ed GROUP BY 1),
          |keep AS (SELECT node FROM deg WHERE d <= 64),
          |ef AS (
          |  SELECT u, v FROM ed
          |  WHERE u IN (SELECT node FROM keep) AND v IN (SELECT node FROM keep)),
          |d2 AS (SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS d FROM ef GROUP BY 1),
          |wedge AS (
          |  SELECT a.u AS na, b.u AS nb, CAST(COUNT(*) AS BIGINT) AS inter
          |  FROM ef a JOIN ef b ON a.v = b.v AND a.u < b.u
          |  GROUP BY 1, 2)
          |SELECT w.na, w.nb, w.inter,
          |       da.d + db.d - w.inter AS uni,
          |       CAST(w.inter * 1000000 // (da.d + db.d - w.inter) AS BIGINT)
          |         AS jacc_ppm
          |FROM wedge w
          |JOIN d2 da ON w.na = da.node
          |JOIN d2 db ON w.nb = db.node
          |WHERE w.inter * 1000000 // (da.d + db.d - w.inter) >= 100000
          |ORDER BY na, nb""".stripMargin),
      (s, dir) => {
        // both directions from ONE generator pass (the starEdges
        // discipline, guide §1.2): union(e0, e0.reversed) re-ran the
        // edge derivation's reduce side per branch
        val ed = partEdges(s, dir)
          .select(explode(array(
            struct(col("u"), col("v")),
            struct(col("v").as("u"), col("u").as("v")))).as("__e"))
          .select(col("__e.u").as("u"), col("__e.v").as("v"))
          .cutLineage()
        val deg = ed.groupBy(col("u").as("node")).agg(count(lit(1)).as("d"))
        val keep = deg.filter(col("d") <= 64).select("node").cutLineage()
        val ef = ed
          .join(keep.select(col("node").as("u")), Seq("u"), "left_semi")
          .join(keep.select(col("node").as("v")), Seq("v"), "left_semi")
          .select("u", "v")
          .cutLineage()
        val d2 = ef.groupBy(col("u").as("node")).agg(count(lit(1)).as("d"))
        // ADJACENCY form of the wedge pass (round-17 continuation, guide
        // §2.4): the self-join on the shared neighbor paid a second ef
        // exchange plus both sorted merge sides; one v-keyed collect_set
        // holds each node's (hub-filtered, <= 64) neighbor list and the
        // na < nb wedge pairs explode row-locally — the same
        // degree-bounded fan-out the join had, one exchange, no sort
        val wedge = ef.groupBy(col("v")).agg(collect_set(col("u")).as("ns"))
          .select(explode(expr(
            "flatten(transform(ns, a -> transform(ns, b -> struct(a, b))))"))
            .as("ab"))
          .filter(col("ab.a") < col("ab.b"))
          .groupBy(col("ab.a").as("na"), col("ab.b").as("nb"))
          .agg(count(lit(1)).as("inter"))
        wedge
          .join(broadcast(d2.select(col("node").as("na"), col("d").as("da"))), "na")
          .join(broadcast(d2.select(col("node").as("nb"), col("d").as("db"))), "nb")
          .withColumn("uni", col("da") + col("db") - col("inter"))
          .withColumn("jacc_ppm", expr("inter * 1000000 div uni"))
          .filter(col("jacc_ppm") >= 100000)
          .select("na", "nb", "inter", "uni", "jacc_ppm")
          .orderBy("na", "nb")
      }),

    Q(
      "g_modularity",
      """Newman modularity of the NATION partition over the trade graph —
        |the community-quality score every clustering/community-detection
        |pass needs before anyone trusts its labels (here the communities
        |are the customer/supplier nations, so the score reads "how much
        |does trade stay within a nation"). Directed-double formulation:
        |per community c, q_c = intra_c/E − (d_c/E)², with E the directed
        |edge count (= 2m), d_c the degree mass, intra_c the
        |same-community directed edges; everything in floor-division ppm
        |with the d_c² term HUGEINT/DECIMAL-widened (d_c² × 10⁶ crosses
        |2⁶³ at bench replicas). Scale shape: the node→community map is
        |the (customer ∪ supplier) DIMENSION — broadcast onto the edge
        |list twice (src and dst side), so the edges never shuffle to be
        |labeled; ONE community-keyed aggregate; the E rollup is a global
        |window over the ≤|nations| community frame.""".stripMargin,
      Some(
        s"""WITH pairs AS (
           |  SELECT DISTINCT o_custkey AS c, $SupplierOffset + l_suppkey AS s
           |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
           |e AS (
           |  SELECT c AS src, s AS dst FROM pairs
           |  UNION ALL SELECT s, c FROM pairs),
           |comm AS (
           |  SELECT c_custkey AS id, CAST(c_nationkey AS BIGINT) AS comm
           |  FROM customer
           |  UNION ALL
           |  SELECT $SupplierOffset + s_suppkey, CAST(s_nationkey AS BIGINT)
           |  FROM supplier),
           |j AS (
           |  SELECT cs.comm AS comm_src, cd.comm AS comm_dst
           |  FROM e JOIN comm cs ON e.src = cs.id JOIN comm cd ON e.dst = cd.id),
           |agg AS (
           |  SELECT comm_src AS community,
           |         CAST(COUNT(*) AS BIGINT) AS deg_sum,
           |         CAST(COUNT(*) FILTER (WHERE comm_src = comm_dst) AS BIGINT)
           |           AS intra_directed
           |  FROM j GROUP BY 1),
           |tot AS (
           |  SELECT community, deg_sum, intra_directed,
           |         CAST(SUM(deg_sum) OVER () AS BIGINT) AS e_directed
           |  FROM agg)
           |SELECT community, deg_sum, intra_directed, e_directed,
           |       intra_directed * 1000000 // e_directed
           |         - CAST(CAST(deg_sum AS HUGEINT) * deg_sum * 1000000
           |                // (CAST(e_directed AS HUGEINT) * e_directed)
           |             AS BIGINT) AS q_ppm
           |FROM tot
           |ORDER BY community""".stripMargin),
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val comm = Tables.customer(s, dir)
          .select(col("c_custkey").as("id"),
            col("c_nationkey").cast("long").as("comm"))
          .unionAll(Tables.supplier(s, dir)
            .select((lit(SupplierOffset) + col("s_suppkey")).as("id"),
              col("s_nationkey").cast("long").as("comm")))
        val cs = comm.select(col("id").as("src"), col("comm").as("comm_src"))
        val cd = comm.select(col("id").as("dst"), col("comm").as("comm_dst"))
        val tw = Window
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        tradeEdges(s, dir)
          .join(broadcast(cs), "src")
          .join(broadcast(cd), "dst")
          .groupBy(col("comm_src").as("community"))
          .agg(count(lit(1)).as("deg_sum"),
            sum(when(col("comm_src") === col("comm_dst"), 1L).otherwise(0L))
              .as("intra_directed"))
          .withColumn("e_directed", sum(col("deg_sum")).over(tw))
          .withColumn("q_ppm",
            expr("""intra_directed * 1000000 div e_directed
                   |- cast(cast(deg_sum as decimal(38,0)) * deg_sum * 1000000
                   |       div (cast(e_directed as decimal(38,0)) * e_directed)
                   |    as bigint)""".stripMargin.replace("\n", " ")))
          .orderBy("community")
      }),

    Q(
      "g_kcore_peel",
      """k-core decomposition by iterated peeling (k=3, 3 rounds) on the
        |part co-purchase graph — the density-filtering primitive
        |(community cores, spam-graph pruning, GNN neighborhood
        |selection). Each round: one degree aggregation, then nodes with
        |degree < 3 peel and their edges drop via ANTI-joins against the
        |(small) peel set — the classic iterated filter-by-aggregate, a
        |different iterative shape from BFS's frontier or CC's pointer
        |chase. Per-round cost is one edge-keyed agg + two anti probes;
        |the edge list re-materializes each round (localCheckpoint) so
        |the lineage stays 3 stages, not exponential. The oracle unrolls
        |the same three peels as NOT-IN CTEs. Output: each node's peel
        |round (1-3) or 0 for the 3-core survivors — a total (node)
        |order.""".stripMargin,
      Some(
        """WITH op AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
          |e0 AS MATERIALIZED (
          |  SELECT a.p AS u, b.p AS v
          |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
          |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
          |ed0 AS MATERIALIZED (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
          |d0 AS MATERIALIZED (SELECT u AS node, COUNT(*) AS d FROM ed0 GROUP BY 1),
          |p1 AS MATERIALIZED (SELECT node FROM d0 WHERE d < 3),
          |ed1 AS MATERIALIZED (
          |  SELECT u, v FROM ed0
          |  WHERE u NOT IN (SELECT node FROM p1)
          |    AND v NOT IN (SELECT node FROM p1)),
          |d1 AS MATERIALIZED (SELECT u AS node, COUNT(*) AS d FROM ed1 GROUP BY 1),
          |p2 AS MATERIALIZED (
          |  SELECT node FROM d1 WHERE d < 3
          |  UNION ALL
          |  SELECT node FROM d0
          |  WHERE node NOT IN (SELECT node FROM p1)
          |    AND node NOT IN (SELECT node FROM d1)),
          |ed2 AS MATERIALIZED (
          |  SELECT u, v FROM ed1
          |  WHERE u NOT IN (SELECT node FROM p2)
          |    AND v NOT IN (SELECT node FROM p2)),
          |d2 AS MATERIALIZED (SELECT u AS node, COUNT(*) AS d FROM ed2 GROUP BY 1),
          |p3 AS MATERIALIZED (
          |  SELECT node FROM d2 WHERE d < 3
          |  UNION ALL
          |  SELECT node FROM d1
          |  WHERE node NOT IN (SELECT node FROM p2)
          |    AND node NOT IN (SELECT node FROM d2))
          |SELECT node,
          |       CASE WHEN node IN (SELECT node FROM p1) THEN 1
          |            WHEN node IN (SELECT node FROM p2) THEN 2
          |            WHEN node IN (SELECT node FROM p3) THEN 3
          |            ELSE 0 END AS peel_round
          |FROM d0
          |ORDER BY node""".stripMargin),
      (s, dir) => {
        // undirected degree view: each edge contributes both directions —
        // ONE generator pass, not union(stars, stars.reversed), so the
        // edge derivation's reduce side runs once (the starEdges
        // discipline, guide §1.2)
        val edges = partEdges(s, dir)
          .select(explode(array(
            struct(col("u"), col("v")),
            struct(col("v").as("u"), col("u").as("v")))).as("__e"))
          .select(col("__e.u").as("u"), col("__e.v").as("v"))
          .cutLineage()
        // the node set is exactly round 1's degree keys — the separate
        // edges.distinct() pass re-aggregated the full edge set for a
        // frame round 1 was about to derive anyway (round-17 continuation)
        var allNodes: org.apache.spark.sql.DataFrame = null
        // the peeled set is append-only: each round's `out` is cut once
        // and the running union reads those frames directly (see
        // bfsLevels for the shape rationale), bounded by AppendOnlyCuts.
        // The residual edge set is loop-carried (it shrinks in place); the
        // last round's residual is never read (LastRound.Unread), so it is
        // never cut.
        val peeledAcc = new AppendOnlyCuts(8)
        def peeled: org.apache.spark.sql.DataFrame = peeledAcc.union
        iterate(edges, 3, last = LastRound.Unread) { (edges, r) =>
          val degAll = edges.groupBy(col("u").as("node"))
            .agg(count(lit(1)).as("d"))
          // round 1's degree frame doubles as the node set: cut it once,
          // pin it for the output join (it replaces the former
          // allNodes distinct+cut job over the full edge set)
          val deg = if (r == 1) {
            val c = degAll.cutLineage()
            allNodes = c.select("node")
            c
          } else degAll
          // isolated nodes (all edges gone) peel this round too
          val present = deg.select("node")
          val low = deg.filter(col("d") < 3).select("node")
          val gone =
            if (peeledAcc.isEmpty) low
            else allNodes.join(peeled, Seq("node"), "left_anti")
              .join(present, Seq("node"), "left_anti")
              .unionAll(low)
          val out = gone.distinct().select(col("node"), lit(r).as("peel_round"))
            .cutLineage()
          peeledAcc.add(out)
          edges
            .join(out.select(col("node").as("u")), Seq("u"), "left_anti")
            .join(out.select(col("node").as("v")), Seq("v"), "left_anti")
        }
        allNodes
          .join(peeled, Seq("node"), "left")
          .select(col("node"),
            coalesce(col("peel_round"), lit(0)).as("peel_round"))
          .orderBy("node")
      }))

  /** The reusable triangle core: undirected edges `(u, v)` with u < v →
    * per-node triangle participation counts `(node, n_tri)` (nodes in no
    * triangle are absent). Degree-ordered orientation (Schank & Wagner's
    * forward algorithm): every edge points from lower to higher
    * (degree, id), so wedges form only at each triangle's LOWEST-ordered
    * node — out-degrees are O(sqrt(m)) amortized, and a hub of any degree
    * generates ZERO wedge pairs from its spokes (each spoke has
    * out-degree 1). ScaleStressSpec pins exactly that: a 2x10^5-spoke hub
    * star plus a 60-clique counts in seconds where id-ordered wedging
    * would fan out C(2x10^5, 2) pairs. */
  def triangleCounts(edgesIn: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val e = edgesIn.cutLineage()
    val deg = e.select(col("u").as("node"))
      .unionAll(e.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))
    val withDeg = e
      .join(broadcast(deg.select(col("node").as("u"), col("d").as("du"))), "u")
      .join(broadcast(deg.select(col("node").as("v"), col("d").as("dv"))), "v")
    // orient low (deg, id) -> high; carry the dst's degree so the wedge
    // order test needs no further join
    val oriented = withDeg.select(
        when(col("du") < col("dv") ||
             (col("du") === col("dv") && col("u") < col("v")),
          struct(col("u").as("s"), col("v").as("d0"), col("dv").as("dd")))
          .otherwise(
            struct(col("v").as("s"), col("u").as("d0"), col("du").as("dd")))
          .as("e"))
      .select(col("e.s").as("src"), col("e.d0").as("dst"),
        col("e.dd").as("dstdeg"))
      .cutLineage()
    val wedges = oriented.as("x").join(oriented.as("y"),
        col("x.src") === col("y.src") &&
          (col("x.dstdeg") < col("y.dstdeg") ||
            (col("x.dstdeg") === col("y.dstdeg") &&
              col("x.dst") < col("y.dst"))))
      .select(col("x.src").as("a"), col("x.dst").as("b"), col("y.dst").as("c"))
    val tri = wedges
      .join(oriented.select(col("src").as("b"), col("dst").as("c")),
        Seq("b", "c"))
      .select("a", "b", "c")
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
  }
}
