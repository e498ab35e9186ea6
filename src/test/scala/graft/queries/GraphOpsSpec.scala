package graft.queries

import graft.SparkSpec

/** Unit semantics for the reusable graph cores on hand-built graphs
  * (the catalog rows prove them against DuckDB on the trade graph; these
  * pin the algorithm contracts on shapes the SF data never produces). */
class GraphOpsSpec extends SparkSpec {
  import spark.implicits._

  test("bfsLevels: chain assigns hop counts, maxLvl bounds reach, unreachable absent") {
    // 0 -> 1 -> 2 -> 3 -> 4 (directed chain), node 9 isolated
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val seeds = Seq(0L).toDF("id")
    val got = GraphQueries.bfsLevels(edges, seeds, maxLvl = 3)
      .as[(Long, Int)].collect().toMap
    assert(got === Map(0L -> 0, 1L -> 1, 2L -> 2, 3L -> 3),
      "chain levels wrong or maxLvl bound ignored")
  }

  test("bfsLevels: multi-source takes the MINIMUM hop count per node") {
    // two seeds converging on node 2: 0 -> 1 -> 2 and 5 -> 2
    val edges = Seq((0L, 1L), (1L, 2L), (5L, 2L), (2L, 3L)).toDF("src", "dst")
    val seeds = Seq(0L, 5L).toDF("id")
    val got = GraphQueries.bfsLevels(edges, seeds, maxLvl = 3)
      .as[(Long, Int)].collect().toMap
    // node 2 is 2 hops from seed 0 but 1 hop from seed 5 -> lvl 1
    assert(got === Map(0L -> 0, 5L -> 0, 1L -> 1, 2L -> 1, 3L -> 2))
  }

  test("bfsLevels: a revisited node never re-enters the frontier (cycle terminates)") {
    // 0 -> 1 -> 0 cycle plus a tail; visited anti-join must stop the loop
    val edges = Seq((0L, 1L), (1L, 0L), (1L, 2L)).toDF("src", "dst")
    val got = GraphQueries.bfsLevels(edges, Seq(0L).toDF("id"), maxLvl = 3)
      .as[(Long, Int)].collect().toMap
    assert(got === Map(0L -> 0, 1L -> 1, 2L -> 2))
  }

  test("bfsLevels: the visited set is a union of per-round checkpoints, never re-checkpointed") {
    // round-14 shape contract: only each round's delta frame is lineage-cut
    // (one LogicalRDD leaf per round + the seed frame), and the result is
    // their union read directly — re-checkpointing the accumulated union
    // every round would re-serialize the whole visited set per round
    // (O(rounds²) serialize work under MEMORY_AND_DISK_SER) and show up
    // here as a SINGLE LogicalRDD leaf
    // round-17 refinement: the LAST level stays un-cut (it feeds no later
    // round — cutting it paid a materialization job just to re-read the
    // frame once), so its subtree re-references the earlier cuts and the
    // edge cut inline. The pinned invariant is on DISTINCT checkpoints:
    // seed + one per NON-final round + the edge cut, and never a single
    // collapsed leaf (which would mean the union was re-checkpointed).
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val levels = GraphQueries.bfsLevels(edges, Seq(0L).toDF("id"), maxLvl = 3)
    val leaves = levels.queryExecution.optimizedPlan.collectLeaves()
    val rddLeaves = leaves.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l
    }
    assert(rddLeaves.length === leaves.length,
      s"non-checkpoint leaves in the BFS result: ${leaves.map(_.nodeName)}")
    val distinctCuts = rddLeaves.map(_.rdd.id).distinct.length
    assert(distinctCuts === 4,
      s"expected 4 distinct checkpoints (seed + 2 non-final rounds + edge " +
        s"cut), got $distinctCuts of ${rddLeaves.length} leaves")
  }

  test("bfsLevels: a deep loop coalesces level frames and stays block-bounded") {
    // Round-16 guard (r15 verdict #3): the append-only visited set pins
    // one block set per round — fine at the catalog's maxLvl=3, silent
    // accumulation at depth. A 24-round path walk must coalesce through
    // AppendOnlyCuts (coalesceEvery=8 → merges after rounds 8, 16, 24),
    // keep the levels exact across the merges, and finish holding a
    // BOUNDED block-set count instead of one per round.
    val sc = spark.sparkContext
    val base = sc.getPersistentRDDs.keySet
    val n = 30
    val edges = (0 until n - 1).map(i => (i.toLong, i + 1L)).toDF("src", "dst")
    val got = GraphQueries.bfsLevels(edges, Seq(0L).toDF("id"),
      maxLvl = 24, coalesceEvery = 8)
    val rows = got.as[(Long, Int)].collect().toMap
    assert(rows === (0 to 24).map(i => i.toLong -> i).toMap,
      "deep-path hop counts wrong after coalescing")
    // 25 deltas (seed + 24 rounds) merged down: the result plan must NOT
    // union one frame per round. Distinct checkpoints, because the un-cut
    // final level re-references the live cuts + the edge cut inline
    // (round-17): bounded by coalesceEvery + 1 live level frames + 1.
    val rddLeaves = got.queryExecution.optimizedPlan.collectLeaves().collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
    }.distinct.length
    assert(rddLeaves <= 10,
      s"deep BFS references $rddLeaves distinct checkpoints (want <= coalesceEvery + 2)")
    // retained blocks: the edge cut + the live level frames, not 25 sets
    val retained = sc.getPersistentRDDs.keySet.diff(base)
    assert(retained.size <= 10,
      s"deep BFS retained ${retained.size} block sets (want bounded <= 10)")
    sc.getPersistentRDDs
      .filterNot { case (id, _) => base.contains(id) }
      .values.foreach(_.unpersist(blocking = false))
  }

  test("loop-carried graph loops release superseded checkpoints eagerly") {
    // round-15 discipline (PLANS "cutLineage loop-site classification"):
    // loop-CARRIED frames free each superseded round's blocks as soon as
    // the replacement cut materializes, so the surviving persistent-RDD
    // count is bounded by the live frames, not the round count. Each
    // bound below enumerates exactly what the query's output still
    // references; without the eager release the diffs grow by one block
    // set per round (and per loop-invariant input left behind).
    val sc = spark.sparkContext
    def persisted: Set[Int] = sc.getPersistentRDDs.keySet.toSet
    def newlyPersistedAfter(name: String): Set[Int] = {
      val base = persisted
      val df = Catalog.byName(name).build(spark, sfSmoke)
      df.write.format("noop").mode("overwrite").save()
      persisted -- base
    }
    // SSSP: 4 superseded dist rounds + the edge cut released; only the
    // final dist checkpoint survives
    val sssp = newlyPersistedAfter("g_sssp_bellman")
    assert(sssp.size <= 1, s"g_sssp_bellman retained ${sssp.size} block sets (want <=1)")
    // label propagation: churn reads the last TWO label rounds; seed and
    // round-1 labels plus the edge cut released
    val lp = newlyPersistedAfter("g_label_propagation")
    assert(lp.size <= 2, s"g_label_propagation retained ${lp.size} block sets (want <=2)")
    // k-core: 3 APPEND-ONLY peel deltas + allNodes stay (the output reads
    // them); all 4 residual edge frames released
    val kc = newlyPersistedAfter("g_kcore_peel")
    assert(kc.size <= 4, s"g_kcore_peel retained ${kc.size} block sets (want <=4)")
  }
  test("g_kcore_peel never cuts its final residual edge set") {
    // The last peel round's residual edges feed nothing: the output reads
    // only the node set and the peel deltas. Cutting that frame eagerly
    // (and releasing it unread) cost two Spark jobs per run — the
    // materialization job and a zero-stage one: 27 jobs at sf0.001 before,
    // 25 with the final residual left unbuilt.
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    // the listener bus is asynchronous: wait until the count settles
    def settled(): Int = {
      var last = -1
      while (last != jobs.get()) { last = jobs.get(); Thread.sleep(500) }
      last
    }
    val q = Catalog.byName("g_kcore_peel")
    q.build(spark, sfSmoke).collect() // warm: table scans and caches
    settled()
    sc.addSparkListener(listener)
    try {
      jobs.set(0)
      assert(q.build(spark, sfSmoke).collect().length === 200)
      val n = settled()
      assert(n <= 25, s"g_kcore_peel launched $n jobs at sf0.001 (want <= 25)")
    } finally sc.removeSparkListener(listener)
  }
}
