package graft
import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: every catalog query against SPARK_GRAFT_SF_DIR.
  * Emits the complete JSON result line to stdout AND (as the final
  * stdout line) a compact <1.5 KB summary of the same run — the driver's
  * stdout capture keeps only a ~2,000-char tail, so the compact line is
  * the one guaranteed to land inside it and parse; BENCHFULL.json holds
  * the complete record.
  *
  * Queries are forced through the `noop` sink, not `count()`: a count
  * lets Catalyst prune the final projection (expression-heavy queries
  * like the transaction-id derivations would be timed at zero work).
  * Noop evaluates every output column and discards rows executor-side —
  * no driver collect, no disk.
  *
  * Each query runs SPARK_GRAFT_RUNS times (default 3) and reports the
  * per-query MEDIAN: the bench box carries external load spikes, and a
  * single-shot timing conflates those with plan changes. `raw` carries
  * every sample so a consumer can audit the spread; `load` carries the
  * 1-min system loadavg read just before each sample (round-10 verdict
  * #6: the main pass lacked the contention column the scaled passes had,
  * so spreads like [4.9, 13.0, 15.3] were undiagnosable from the
  * artifact); `value` is the sum of medians. SPARK_GRAFT_ONLY=name,name
  * limits the set (iteration aid; unset = full catalog, which is what
  * the driver runs).
  *
  * WALL-CLOCK BUDGET (round-10 verdict #1: the driver's pass was killed
  * at its timeout mid-10×-phase, rc=124, and the round lost its official
  * perf artifact): the run tracks elapsed seconds against a soft budget
  * (SPARK_GRAFT_BENCH_BUDGET_SEC, default 2700). The main pass always
  * completes — it is the minimum viable artifact — but every OPTIONAL
  * pass (streaming, state, scale curve, constrained) starts only if
  * enough budget remains, and the scaled passes stop admitting queries
  * once the budget is exhausted. Everything skipped is recorded in the
  * top-level `"skipped"` array (pass names, or `pass:query` for a
  * mid-pass stop), so the JSON line is ALWAYS complete and parseable —
  * a budget squeeze degrades the evidence, never the artifact.
  *
  * Pass order (cheap + contention-sensitive first): main → streaming →
  * state → constrained → 10× headline → 5× full. Streaming moved ahead
  * of the scale curve in round 11: round 10's ~40% steady-throughput
  * drop was suspected self-contention from an hour of accumulated
  * temp-dir and page-cache churn, so the streaming points now run on
  * the freshest possible session state. The CONSTRAINED pass moved
  * ahead of the scale sweeps in round 12 (round-11 verdict #1/#3: dead
  * last, it never executed under the driver's budget — the 10× timing
  * sweep ate the remainder, and the 10× timings are the least valuable
  * optional evidence since at-scale CORRECTNESS is hash-gated by the
  * separate SCALEVERIFY artifact). It tears down the shared session and
  * rebuilds a squeezed one, so the normal session is re-created right
  * after it for the scale sweeps.
  *
  * Budget admission is COST-AWARE, not zero-gated (round-11 advisory:
  * the r11 run overshot 2710 s vs a 2700 s budget because per-query
  * admission only stopped at <=0 s remaining). Every optional-pass
  * query is admitted only if the remaining budget covers its estimated
  * cost — main-pass median × replica copies × 1.5 contention margin ×
  * planned runs (the ×1.5 calibrated on r11: a_bitmap_distinct main
  * 2.5 s → 10× min 39.3 s ≈ ×1.57/copy) — so the run lands under the
  * budget instead of discovering the overshoot mid-query. The default
  * budget is 2520 s (was 2700): the driver's hard timeout is ~2700 s
  * and a budget equal to the timeout still loses the tail pass when
  * one admitted query runs long.
  *
  * Scale curve: `copies`× replicas of the SF dir are generated
  * (graft.ScaledData — key-shifted copies, mutually invisible), ONCE per
  * copies value and reused across passes (headline timing, retry,
  * constrained — round-10 verdict #1c; regeneration is deterministic so
  * a fresh dir proves nothing a reuse doesn't). The headline queries run
  * at SPARK_GRAFT_SCALE_COPIES (default 10×, min-of-SCALE_RUNS, default
  * 2 — the min is the contention-free estimate) and the FULL catalog at
  * SPARK_GRAFT_SCALE_FULL (default 5×, min-of-SCALE_FULL_RUNS, default
  * 1 — round-10 verdict #1b: the 5× HASH gate is the correctness
  * evidence; one timing with its loadavg column as the contention guard
  * is enough, and the second run was a third of the round-10 overrun).
  * The JSON line carries `"scaled":{"copies":N,…,"full":{…}}`. Either
  * env set to 0 disables that pass.
  *
  * Streaming point: a `"streaming"` block times the REST cardex DSv2
  * source in micro-batch mode (draining published pages under admission
  * control) — whole-run AND steady-state rows/s (first batch excluded,
  * batch-duration denominator) plus a `wide` 10k-rows/page point, the
  * §2.9 surface the batch queries never exercise. A `state` point pushes
  * 150k distinct keys through RocksDB and asserts the watermark plateau.
  *
  * Constrained point (round-10 verdict #7): every scale claim before
  * round 11 was measured with full heap headroom, so graceful-spill
  * behavior — the last unmeasured 100 TB property — was asserted, not
  * shown. The `"constrained"` block re-runs the most shuffle-heavy
  * headliners against the 10× replica on a FRESH session whose unified
  * memory pool is capped at an ABSOLUTE byte value
  * (spark.testing.memory = SPARK_GRAFT_CONSTRAINED_MEM_BYTES, default
  * 192 MiB, with spark.testing.reservedMemory =
  * SPARK_GRAFT_CONSTRAINED_RESERVED_BYTES, default 64 MiB — the 300 MB
  * default reserved floor would put ~456 MiB under the cap otherwise —
  * and SPARK_GRAFT_CONSTRAINED_PARTITIONS shuffle partitions, default
  * 8, so per-partition working sets exceed the ~77 MiB pool) and
  * records per-query memory/disk spill bytes from a task-metrics
  * listener. Done = zero failures with >=4 of the 10 queries showing
  * nonzero spill (round-12 verdict #5 tightened this from the old
  * 2-of-10): the plans degrade to disk, they don't OOM. Measured
  * calibration: 4 of 10 spill at this pool AND at a 2× harsher 58 MiB
  * pool (128 MiB cap / 32 MiB reserved) — the other six collapse
  * map-side (partial agg, broadcast probes, bounded iterative state)
  * before any per-task working set can reach the pool, which is its
  * own 100 TB evidence: those plans have no large in-memory working
  * set to spill.
  *
  * The complete JSON line is also written to SPARK_GRAFT_BENCH_OUT
  * (default /root/repo/BENCHFULL.json) — the stdout capture keeps only a
  * tail, and round 8 lost its main pass to that truncation. The write is
  * ATOMIC (temp file + rename, round-10 verdict #2): round 10's
  * timed-out driver run was killed mid-write-path and left the working
  * tree holding a main-only partial that shadowed the committed
  * full-catalog artifact. A killed run now leaves at worst a `.tmp`
  * sibling; the destination only ever holds a complete line. A
  * budget-squeezed run (nonempty skip list) diverts to
  * BENCHFULL_PARTIAL.json so the committed zero-skip record survives
  * round snapshots (rounds 10 and 12 both clobbered it).
  */
object Bench {
  /** The scale-curve subset: the scan/join/agg/dedup/text/ann/pipeline
    * shapes whose 100×-claims are worth a second data point — the rest of
    * the catalog is dominated by these same plan shapes. */
  val headline: Set[String] = Set(
    "flagship_reconcile", "nested_flatten_actions", "f5_f7_transaction_ids",
    "j5_anti_dispatched", "j_asof_attribution", "w_session_window_native",
    "dd_exact_groups", "dd_minhash_lsh", "dd_lsh_confirm", "dd_simhash",
    "dd_conn_components", "dd_conn_components_alt", "dd_pipeline_keepers",
    "ann_topk_agg", "t_token_quality", "s_pack_sequences", "mm_decode_stats",
    "dd_substring_spans", "emb_kmeans", "emb_avg_pool", "g_pagerank",
    "corpus_pipeline_keepers",
    // round-8 second-session families: wedge-join growth, iterative
    // merge training, sketch grid, collapsed-frame fan-out
    "g_triangle_count", "t_bpe_train_merges", "a_countmin_heavy",
    "w_rolling_distinct",
    // round-8 third/fourth-wave families: fingerprint dedup (decode-heavy),
    // register sketches, frontier iteration, interval binning
    "mm_phash_dedup", "w_hll_sliding_distinct", "g_bfs_levels",
    "j_interval_overlap",
    // round-9: incremental state-probe shapes + binary ANN
    "corpus_pipeline_incremental", "dd_minhash_incremental",
    "emb_hamming_topk",
    // round-9 second wave: decorrelated-subquery agg join, double-window
    // FIFO allocation, bitmap-vs-expand distinct
    "sq_scalar_small_qty", "k_fifo_costing", "a_bitmap_distinct",
    // round-9 third wave: grid spatial join, vocab-bucketed tf-idf,
    // blocked ER with CC closure
    "geo_grid_join", "t_tfidf_topterms", "dd_entity_resolution",
    // round-10: 6-table join-order stress (the one fact-fact exchange),
    // bounded-heap quantile sampling
    "j_q9_profit_rollup", "a_kmv_quantiles",
    // round-10 second wave: value-domain rank statistics, windowless
    // struct-endpoint OHLC bars
    "a_ks_test", "w_ohlc_vwap",
    // round-10 third wave: weighted iterative relaxation, deletion-
    // neighborhood blocking, sweep-line interval aggregate, right-
    // censored survival windows
    "g_sssp_bellman", "dd_symspell_neighbors", "w_max_concurrency",
    "a_survival_hazard",
    // round-14: the kNN pair gets the same measured multi-point treatment
    // its sibling geo_grid_join has — the ranked window form vs the
    // bounded-heap aggregate twin, so the curve shows the candidate-stage
    // densification quadratic AND what the adaptive form buys back
    "geo_knn_ranked", "geo_knn_adaptive")

  /** The constrained-memory (spill) subset: the headliners whose plans
    * carry the largest shuffle working sets — wide aggregation
    * hash maps, sort-merge joins, window sorts, iterative self-joins.
    * Scan-dominated or collapse-early headliners (mm_*, most t_*) would
    * never spill regardless of the squeeze and prove nothing here. */
  val shuffleHeavy: Seq[String] = Seq(
    "j_q9_profit_rollup",     // 6-table join-order stress, fact-fact SMJ
    "flagship_reconcile",     // full-outer report join
    "j5_anti_dispatched",     // anti-join past any broadcast ceiling
    "dd_exact_groups",        // hash groupBy on content key
    "dd_minhash_lsh",         // band explode + bucket shuffle
    "dd_conn_components",     // iterative min-label shuffles
    "t_tfidf_topterms",       // token explode + vocab-bucketed agg
    "w_rolling_distinct",     // window sort over event stream
    "emb_kmeans",             // packed-row agg over embeddings
    "geo_grid_join")          // grid-cell equi-join, dense cells

  def main(args: Array[String]): Unit = {
    val startNs = System.nanoTime()
    val budgetSec =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_SEC", "2520").toDouble
    def elapsedSec: Double = (System.nanoTime() - startNs) / 1e9
    def remainingSec: Double = budgetSec - elapsedSec
    val skipped = scala.collection.mutable.ArrayBuffer.empty[String]
    // set when the lookahead reduced the headline pass's run count: the
    // run is still zero-skip but not full-fidelity, so it must not claim
    // the committed BENCHFULL record (see artifactDest)
    var degradedRuns = false
    // hard failures inside the constrained (spill) pass — counted so the
    // artifact routing and the compact summary surface them loudly
    // (round-16 verdict #2: two OOMs hid inside a zero-skip rc-0 artifact)
    val constrainedErrors = new java.util.concurrent.atomic.AtomicInteger
    def loadavg: Double = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage

    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    // `var`: the constrained pass tears this session down to build the
    // memory-squeezed one, then rebuilds a normal session for the scale
    // sweeps that follow it. Closures below capture the variable (by
    // reference in Scala), so they always see the live session.
    var spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Headline numbers captured as they're computed, for the compact
    // final-stdout summary line (round-11 verdict #2: the full JSON line
    // is tens of KB, the driver keeps a 2,000-char tail, so `parsed` has
    // been null for 11 straight rounds — the compact line is what lands
    // inside any tail).
    val sumNum = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    // Warm up the session (codegen compiler, parquet footers, scheduler)
    // so the alphabetically-first query doesn't absorb one-time costs.
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // Main pass: unconditional (the minimum viable artifact), median-of-N,
    // with per-sample loadavg so contention is diagnosable per row.
    val results = names.map { case (name, fn) =>
      val sampled = (1 to runs).map { i =>
        System.err.println(s"[bench] running $name ($i/$runs)")
        val load = loadavg
        val t0 = System.nanoTime()
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable => System.err.println(s"[bench] $name failed: $e") }
        ((System.nanoTime() - t0) / 1e9, load)
      }
      val samples = sampled.map(_._1).sorted
      val median = samples(samples.length / 2)
      (name, median, samples, sampled.map(_._2))
    }
    val qs = results.map { case (k, med, _, _) => s"\"" + k + "\":" + med }
      .mkString("{", ",", "}")
    val raw = results.map { case (k, _, ss, _) =>
      s"\"" + k + "\":[" + ss.mkString(",") + "]"
    }.mkString("{", ",", "}")
    val mainLoad = results.map { case (k, _, _, ls) =>
      s"\"" + k + "\":[" + ls.map(l => f"$l%.2f").mkString(",") + "]"
    }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // Total-of-MINS beside total-of-medians (round-12 verdict #4):
    // cross-round totals are contention-noised — r12's medians drifted
    // 1.10× vs r11 purely with box load while per-query minima were
    // flat — so the min column is the robust round-over-round signal,
    // and it costs zero extra runtime (the samples already exist).
    // Carried top-level in both lines and in the compact `summary`.
    val totalMin = results.map(_._3.min).sum
    sumNum("main.value") = total
    sumNum("main.value_min") = totalMin
    val mainMed: Map[String, Double] = results.map(r => r._1 -> r._2).toMap
    // Estimated cost of ONE run of `name` against a `copies`× replica:
    // main-pass median scaled by copies with a ×1.5 margin (see the
    // scaladoc's calibration note). Floor 1 s — even a millisecond query
    // pays scheduler + noop-commit overhead at 10×.
    def estSec(name: String, copies: Int): Double =
      math.max(1.0, mainMed.getOrElse(name, 1.0) * copies * 1.5)
    System.err.println(f"[bench] main pass done at ${elapsedSec}%.0f s " +
      f"(budget $budgetSec%.0f s)")
    // sf as a NUMBER parsed from the dir name (sf0.1 -> 0.1): a JSON
    // consumer expecting {"sf": N} must not get a path string.
    val sfNum = "sf([0-9.]+)".r.findFirstMatchIn(sfDir)
      .map(_.group(1).stripSuffix(".")).getOrElse("0")

    def escJson(s: String): String = s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

    // Replica registry: one N× replica per copies value per RUN, shared
    // by every pass that needs it (headline timing, its retry, the
    // constrained point) and deleted together at the end. Replication is
    // deterministic (ScaledData key-shifts, no RNG), so regenerating for
    // a retry — round 10's behavior — proved nothing a reuse doesn't and
    // cost minutes of the budget that killed the run.
    val replicaDirs = scala.collection.mutable.Map.empty[Int, String]
    def replica(copies: Int): String = replicaDirs.getOrElseUpdate(copies, {
      val d = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft-bench-scaled-${java.util.UUID.randomUUID()}").getAbsolutePath
      System.err.println(f"[bench] generating ${copies}x replica (at ${elapsedSec}%.0f s)")
      ScaledData.generate(spark, sfDir, d, copies)
      d
    })

    // min-of-N timing over `qs` against an existing replica dir. Round 6
    // proved single-shot is not enough for the HEADLINE pass: the
    // driver's box carried load spikes that inflated scaled numbers
    // 6-12× and read as fake super-linear growth; the MIN over runs is
    // the contention-free estimate (a sample can only be slowed by
    // interference, never sped up). The FULL-catalog pass instead runs
    // min-of-1 with the loadavg column as the contention guard — see the
    // scaladoc. A failed query must NOT appear as a (small, plausible)
    // timing; errors land in `failed`/`partial`/`retried` fields so the
    // artifact is diagnosable without stderr. A query whose fastest
    // sample is >= 5 s gets ONE adaptive extra run (multi-run passes
    // only): min-of-2 absorbs spikes but not sustained load, and slow
    // queries are where contention moves the round-over-round comparison
    // most. `attempts` is tracked separately from samples.length so the
    // adaptive run can't refill an errored query back to exactly N
    // samples and hide the failure from `partial`.
    def runSet(dir: String,
               qs: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)],
               tag: String, copies: Int, runsN: Int)
      : Seq[(String, Seq[Double], Seq[Double], Option[String], Int)] =
      qs.flatMap { case (name, fn) =>
        // Cost-aware admission (round-11 advisory): admit only if the
        // remaining budget covers the ESTIMATED cost of all planned runs,
        // not merely if any budget remains — a 39 s query admitted at
        // 10 s remaining is how r11 overshot its budget. The estimate
        // must also pay for the ADAPTIVE extra run up front (round-12
        // advisory): multi-run queries whose samples land >= 5 s take
        // one more sample — i.e. exactly the expensive ones — so an
        // admission that ignores it can still push the run past the
        // budget toward the driver's hard timeout.
        val perRun = estSec(name, copies)
        val plannedRuns = if (runsN > 1 && perRun >= 5.0) runsN + 1 else runsN
        val est = perRun * plannedRuns
        if (remainingSec < est) {
          System.err.println(f"[bench] budget short (${remainingSec}%.0f s < " +
            f"est $est%.0f s) — skipping $tag:$name")
          skipped += s"$tag:$name"
          None
        } else {
          var lastErr: Option[String] = None
          var loads = Vector.empty[Double]
          var attempts = 0
          def sample(i: Int, n: Int): Option[Double] = {
            System.err.println(s"[bench] $tag(${copies}x) $name ($i/$n)")
            attempts += 1
            loads :+= loadavg
            val t0 = System.nanoTime()
            try {
              fn(spark, dir).write.format("noop").mode("overwrite").save()
              Some((System.nanoTime() - t0) / 1e9)
            } catch { case e: Throwable =>
              lastErr = Some(
                s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").take(300)}")
              System.err.println(s"[bench] $tag $name failed: $e"); None }
          }
          var samples = (1 to runsN).flatMap(sample(_, runsN))
          if (runsN > 1 && samples.nonEmpty && samples.min >= 5.0)
            samples ++= sample(runsN + 1, runsN + 1)
          Some((name, samples, loads, lastErr, attempts))
        }
      }

    // One scaled timing pass. Failure bookkeeping (round-7 verdict #2/#3):
    // a query with zero successful runs is retried ONCE — against the
    // SAME replica (deterministic content; see the registry note) — to
    // separate a transient env event from a reproducible red. Survivors
    // land as `"failed":[{"name":…,"err":…}]`; partially-errored queries
    // stay visible in `"partial"`, rescued ones in `"retried"`.
    def scaledPass(copies: Int,
                   qset: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)],
                   label: String, runsN: Int, runsRequested: Int = -1): String = {
      val dir = replica(copies)
      val first = runSet(dir, qset, label, copies, runsN)
      val failedNames = first.filter(_._2.isEmpty).map(_._1).toSet
      val (scaled, rescued) =
        if (failedNames.isEmpty || remainingSec <= 0) (first, Seq.empty[String])
        else {
          val retry = runSet(dir,
            qset.filter(q => failedNames.contains(q._1)), s"$label-retry",
            copies, runsN)
            .map(r => r._1 -> r).toMap
          val merged = first.map { r =>
            if (failedNames.contains(r._1)) retry.getOrElse(r._1, r) else r
          }
          (merged, merged.filter(r => failedNames.contains(r._1) && r._2.nonEmpty).map(_._1))
        }
      val good = scaled.filter(_._2.nonEmpty)
      val sqs = good.map { case (k, ss, _, _, _) => s"\"" + k + "\":" + ss.min }
        .mkString("{", ",", "}")
      // full sample + loadavg vectors: the min hides the spread; the raw
      // arrays let a round-over-round consumer see whether a slow sample
      // came with a loaded box
      val sraw = good.map { case (k, ss, _, _, _) =>
        s"\"" + k + "\":[" + ss.mkString(",") + "]" }.mkString("{", ",", "}")
      val sload = good.map { case (k, _, ls, _, _) =>
        s"\"" + k + "\":[" + ls.map(l => f"$l%.2f").mkString(",") + "]"
      }.mkString("{", ",", "}")
      val failed = scaled.filter(_._2.isEmpty)
        .map { case (k, _, _, err, _) =>
          s"""{"name":"$k","err":"${escJson(err.getOrElse("unknown"))}"}""" }
        .mkString("[", ",", "]")
      val partial = good.filter(r => r._2.length < r._5)
        .map { case (k, ss, _, err, att) =>
          s"\"" + k + s"""\":[${ss.length},$att,"${escJson(err.getOrElse(""))}"]""" }
        .mkString("{", ",", "}")
      val retriedJson = rescued.map("\"" + _ + "\"").mkString("[", ",", "]")
      sumNum(s"$label.n") = good.length.toDouble
      sumNum(s"$label.value") = good.map(_._2.min).sum
      // a lookahead-degraded pass records how many runs were originally
      // requested, so the artifact is honest about min-of-1 vs min-of-2
      val reqJson =
        if (runsRequested > 0 && runsRequested != runsN)
          s""","runs_requested":$runsRequested"""
        else ""
      s"""{"copies":$copies,"runs":$runsN$reqJson,"value":${good.map(_._2.min).sum},"queries":$sqs,"raw":$sraw,"load":$sload,"failed":$failed,"partial":$partial,"retried":$retriedJson}"""
    }

    // Budget gate for an optional pass: start it only if at least
    // `minSec` remains; a pass skipped whole is one `skipped` entry.
    def gated(label: String, minSec: Double)(pass: => String): String =
      if (remainingSec < minSec) {
        System.err.println(f"[bench] $label skipped — ${remainingSec}%.0f s " +
          f"left < $minSec%.0f s floor")
        skipped += label; ""
      } else
        try pass
        catch { case e: Throwable =>
          System.err.println(s"[bench] $label pass skipped: $e")
          skipped += label; "" }

    // streaming throughput points: drain P published pages of the REST
    // cardex source in micro-batch mode with admission control
    // (maxPagesPerTrigger). Round-8 lesson: a 64-page drain finishes in
    // ~1.8 s, of which batch-0 warmup (state-store + sink init, first
    // codegen) is ~30% — the aggregate rows/s swung ±50% run to run and
    // produced an unreproducible headline number. So each point now
    // drains enough batches to amortize warmup AND reports a warm/steady
    // split: `rows_per_sec` is the whole-run figure, `steady_rows_per_sec`
    // excludes the first non-empty batch and divides by the SUM OF BATCH
    // DURATIONS (not wall time, so inter-batch scheduling gaps don't
    // count as throughput). A second `wide` point at 10k rows/page
    // separates per-batch overhead from per-row cost. fail-soft like the
    // scale curve.
    def streamPoint(label: String, pages: Int, rowsPerPage: Int,
                    perTrigger: Int): String = {
      val runId = s"bench-${java.util.UUID.randomUUID()}"
      graft.sources.rest.FakeCardexApi.publishPages(runId, pages)
      val ckpt = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft-bench-stream-${java.util.UUID.randomUUID()}").getAbsolutePath
      // recentProgress retains only numRecentProgressUpdates entries
      // (default 100): past ~800 pages at 8/trigger the oldest batches
      // would silently drop out of the rows/batches numerators. Size the
      // retention to the worst-case batch count (+ slack for empty/flush
      // batches) so every point stays exact regardless of env overrides.
      try GraftSession.withConf(spark, "spark.sql.streaming.numRecentProgressUpdates" ->
          math.max(100, pages / math.max(1, perTrigger) + 16).toString) {
        // default ProcessingTime(0) trigger, NOT AvailableNow: the
        // source honors maxPagesPerTrigger only outside AvailableNow
        // (which by contract drains to its pinned offset in one go), and
        // the admission-controlled multi-batch path is the one worth
        // timing — it is how a rate-limited API is actually consumed
        val t0 = System.nanoTime()
        val q = spark.readStream
          .format("graft.sources.rest.RestCardexSource")
          .option("pages", pages)
          .option("rowsPerPage", rowsPerPage)
          .option("apiRunId", runId)
          .option("maxPagesPerTrigger", perTrigger)
          .load()
          .writeStream
          .format("noop")
          .option("checkpointLocation", ckpt)
          .start()
        q.processAllAvailable()
        val sec = (System.nanoTime() - t0) / 1e9
        val progress = q.recentProgress.filter(_.numInputRows > 0)
        q.stop()
        val rows = progress.map(_.numInputRows).sum
        val ms = progress.map(_.batchDuration.toString).mkString("[", ",", "]")
        val steady = progress.drop(1)
        val steadyRows = steady.map(_.numInputRows).sum
        val steadyMs = steady.map(_.batchDuration).sum
        val steadyRps =
          if (steadyMs <= 0) 0.0 else steadyRows * 1000.0 / steadyMs
        sumNum(s"$label.steady_rps") = steadyRps
        s"""{"pages":$pages,"rows_per_page":$rowsPerPage,"rows":$rows,"batches":${progress.length},"sec":$sec,"rows_per_sec":${rows / math.max(sec, 1e-9)},"steady_rows":$steadyRows,"steady_ms":$steadyMs,"steady_rows_per_sec":$steadyRps,"load":${f"$loadavg%.2f"},"batch_ms":$ms}"""
      } finally {
        graft.sources.rest.FakeCardexApi.resetRun(runId)
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt)); ()
      }
    }
    // streaming state-SCALE point (round-10 ask #5): the replay oracles
    // run 4 batches over sf0.01-sized feeds — this instead pushes >=1e5
    // distinct state keys through the RocksDB store (windowed agg over
    // the deterministic rate-micro-batch source: batch b carries exactly
    // `keys` rows, value % keys sweeps the full key space every batch,
    // event time advances one window per batch) and records the
    // state-store metrics PER BATCH. The eviction proof is in the
    // numbers: without watermark eviction `batches` x `keys` windowed
    // rows would accumulate (~1.8M at defaults); with the 2-minute
    // watermark over 1-minute windows the store plateaus at exactly 4
    // live windows x keys (Spark's two-watermark model evicts on the
    // PREVIOUS batch's watermark, one window behind the naive count).
    // `bounded` asserts that plateau (last batch's numRowsTotal <= 4x
    // keys — tight: one extra un-evicted window flips it) so a silent
    // eviction regression flips a field the round-over-round diff can't
    // miss.
    def statePoint(keys: Int, batches: Int): String = {
      val ckpt = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft-bench-state-${java.util.UUID.randomUUID()}").getAbsolutePath
      try GraftSession.withConf(spark, "spark.sql.streaming.numRecentProgressUpdates" ->
          math.max(100, batches + 16).toString)(
        GraftSession.withConf(spark, "spark.sql.streaming.stateStore.providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
        val t0 = System.nanoTime()
        val q = spark.readStream
          .format("rate-micro-batch")
          .option("rowsPerBatch", keys)
          .option("startTimestamp", 0L)
          .option("advanceMillisPerBatch", 60000)
          .load()
          .withWatermark("timestamp", "2 minutes")
          .groupBy(
            org.apache.spark.sql.functions.window(
              org.apache.spark.sql.functions.col("timestamp"), "1 minute"),
            (org.apache.spark.sql.functions.col("value") % keys).as("k"))
          .agg(org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("n"),
            org.apache.spark.sql.functions.sum("value").as("s"))
          .writeStream.format("noop")
          .option("checkpointLocation", ckpt)
          .start()
        // rate-micro-batch is unbounded: drive exactly `batches` batches,
        // then stop (guard: 300 s wall cap so a wedged store can't hang
        // the whole bench)
        val deadline = System.nanoTime() + 300L * 1000 * 1000 * 1000
        while (Option(q.lastProgress).map(_.batchId).getOrElse(-1L) < batches - 1
               && System.nanoTime() < deadline)
          Thread.sleep(50)
        val progress = q.recentProgress.filter(_.numInputRows > 0).take(batches)
        q.stop()
        val sec = (System.nanoTime() - t0) / 1e9
        val rows = progress.map(_.numInputRows).sum
        def stateMetric(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long) =
          progress.map(p => p.stateOperators.headOption.fold(0L)(f))
        val stateRows = stateMetric(_.numRowsTotal)
        val stateMem = stateMetric(_.memoryUsedBytes)
        val updated = stateMetric(_.numRowsUpdated)
        val removed = stateMetric(_.numRowsRemoved)
        val bounded = stateRows.lastOption.exists(_ <= 4L * keys)
        val ms = progress.map(_.batchDuration.toString).mkString("[", ",", "]")
        s"""{"keys":$keys,"batches":${progress.length},"rows":$rows,"sec":$sec,"rows_per_sec":${rows / math.max(sec, 1e-9)},"provider":"rocksdb","state_rows":${stateRows.mkString("[", ",", "]")},"state_mem_bytes":${stateMem.mkString("[", ",", "]")},"state_rows_updated":${updated.mkString("[", ",", "]")},"state_rows_removed":${removed.mkString("[", ",", "]")},"bounded":$bounded,"batch_ms":$ms}"""
      }) finally {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt)); ()
      }
    }

    val streamingJson = gated("streaming", minSec = 120) {
      val pages = sys.env.getOrElse("SPARK_GRAFT_STREAM_PAGES", "512").toInt
      if (pages <= 0) "" else {
        // Each point fails soft ON ITS OWN (round-12 advisory): the
        // points run sequentially, and a throw from a later one must not
        // discard the already-measured earlier points from the artifact.
        // streamPoint writes its sumNum entry only on its success path,
        // so the compact summary line and the JSON block always agree —
        // a failed point contributes to neither, and lands in `skipped`.
        def tryPoint(label: String)(p: => String): Option[String] =
          try Some(p)
          catch { case e: Throwable =>
            System.err.println(s"[bench] streaming point $label failed: $e")
            skipped += s"streaming.$label"; None }
        val main = tryPoint("stream")(
          streamPoint("stream", pages, rowsPerPage = 2000, perTrigger = 8))
        val wide = tryPoint("wide")(streamPoint("wide", math.max(pages / 4, 8),
          rowsPerPage = 10000, perTrigger = 8))
        // Bulk point (round 12): the main/wide points are bounded by
        // FIXED per-micro-batch overhead, not per-row cost — measured on
        // a quiet box, batch duration is ~130 ms whether a batch carries
        // 16k rows (8×2000) or 80k (8×10000), i.e. marginal per-row cost
        // ≈ 0.13 µs. That makes their rows/s a trigger-latency metric
        // that moves with the host image (the r9→r10 "wide regression"
        // was exactly this — see PLANS.md). This point admits 64 pages ×
        // 10k rows = 640k rows per batch so per-row work dominates the
        // fixed overhead and the number approximates actual source →
        // noop row capacity.
        val bulk = tryPoint("bulk")(streamPoint("bulk", math.max(pages, 8),
          rowsPerPage = 10000, perTrigger = 64))
        val state = gated("streaming.state", minSec = 90) {
          statePoint(
            keys = sys.env.getOrElse("SPARK_GRAFT_STATE_KEYS", "150000").toInt,
            batches = sys.env.getOrElse("SPARK_GRAFT_STATE_BATCHES", "12").toInt)
        }
        val extras = Seq(
          wide.map(j => s""""wide":$j"""),
          bulk.map(j => s""""bulk":$j"""),
          if (state.isEmpty) None else Some(s""""state":$state""")).flatten
        // The main point's fields sit at the top of the "streaming"
        // object (the shape every prior round's artifact used); the
        // other points nest under their own keys. Any subset may be
        // present — whatever succeeded is emitted.
        if (main.isEmpty && extras.isEmpty) ""
        else if (extras.isEmpty) s""","streaming":${main.get}"""
        else if (main.isEmpty) s""","streaming":{${extras.mkString(",")}}"""
        else s""","streaming":${main.get.stripSuffix("}")},${extras.mkString(",")}}"""
      }
    }

    val copies = sys.env.getOrElse("SPARK_GRAFT_SCALE_COPIES", "10").toInt
    val fullCopies = sys.env.getOrElse("SPARK_GRAFT_SCALE_FULL", "5").toInt
    val scaleRuns = math.max(1, sys.env.getOrElse("SPARK_GRAFT_SCALE_RUNS", "2").toInt)
    val fullRuns = math.max(1, sys.env.getOrElse("SPARK_GRAFT_SCALE_FULL_RUNS", "1").toInt)

    // Constrained (spill) point — BEFORE the scale sweeps (round-11
    // verdict #1/#3: ordered dead last it never executed under the
    // driver's budget, so graceful spill behavior stayed asserted, not
    // measured; the 10× timings it now precedes are the least valuable
    // optional evidence since at-scale correctness is hash-gated
    // separately). It tears down the shared session, runs the
    // shuffleHeavy subset once each against the replica on a session
    // whose unified memory pool is capped, and reports per-query spill
    // bytes from a task-end listener; the normal session is rebuilt in
    // a finally so the scale sweeps always get a live session even if
    // this pass dies mid-way. The listener bus is async; a bounded
    // drain-wait after each query keeps the attribution per-query
    // without private Spark APIs.
    val constrainedJson = gated("constrained", minSec = 300) {
      val cCopies = sys.env.getOrElse("SPARK_GRAFT_CONSTRAINED_COPIES",
        copies.toString).toInt
      if (cCopies <= 0 || sys.env.get("SPARK_GRAFT_CONSTRAINED").contains("0")) {
        // Round-11 advisory: with the scale curve disabled (SCALE_COPIES
        // = 0) and no explicit CONSTRAINED_COPIES, a 1× fallback would
        // report zero spill that reads as "no pressure" rather than
        // "wrong scale" — skip and say so instead.
        System.err.println(s"[bench] constrained disabled (copies=$cCopies)")
        skipped += "constrained"; ""
      } else {
        val dir = replica(cCopies) // generate with the NORMAL session
        // Absolute cap, not a heap fraction: spark.memory.fraction is
        // relative to Runtime.maxMemory, so the same setting squeezes an
        // 8 GiB box and floats uselessly on a 128 GiB one (measured:
        // fraction 0.1 at 10x produced ZERO spill — the pool still beat
        // every working set). spark.testing.memory is the UnifiedMemory-
        // Manager's systemMemory override (apache/spark
        // UnifiedMemoryManager.getMaxMemory) — the unified pool becomes
        // (cap - 300 MB reserved) x memory.fraction regardless of heap,
        // so the pressure is real and reproducible on any box.
        // Harsher squeeze than rounds 11–12 (round-12 verdict #5: at the
        // old 512 MiB cap only 2 of 10 queries exceeded the pool — the
        // other eight proved nothing about degradation). The reserved-
        // memory floor is 300 MB by default, so the cap can't usefully
        // drop below ~456 MiB without ALSO lowering the floor:
        // spark.testing.reservedMemory is the UnifiedMemoryManager's
        // override for exactly this. Defaults 192 MiB cap / 64 MiB
        // reserved give a (192−64)×0.6 ≈ 77 MiB unified pool — ~0.6× the
        // old squeeze — which pushes 4 of the 10 working sets past the
        // pool (measured; identical count at a 2× harsher 58 MiB pool —
        // the rest collapse map-side and have nothing to spill) while
        // leaving broadcasts (dimension-sized, ≤ a few MB here) room to
        // materialize.
        val memBytes = sys.env.getOrElse("SPARK_GRAFT_CONSTRAINED_MEM_BYTES",
          (192L * 1024 * 1024).toString).toLong
        val reservedBytes = sys.env.getOrElse(
          "SPARK_GRAFT_CONSTRAINED_RESERVED_BYTES",
          (64L * 1024 * 1024).toString).toLong
        val parts = sys.env.getOrElse("SPARK_GRAFT_CONSTRAINED_PARTITIONS", "8").toInt
        spark.stop()
        try {
          val cs = GraftSession.builder(s"local[$cpus]", parts)
            .config("spark.testing.memory", memBytes.toString)
            .config("spark.testing.reservedMemory", reservedBytes.toString)
            .getOrCreate()
          // EVERYTHING after session creation lives inside the try whose
          // finally stops cs (round-12 advisory): a throw from
          // setLogLevel/addSparkListener used to leak the live squeezed
          // session, and the outer finally's getOrCreate() would then
          // return it AS the "normal" session (builder configs are
          // ignored for an active session) — silently running the scale
          // sweeps under the memory cap.
          try {
            cs.sparkContext.setLogLevel("WARN")
            val spillMem = new java.util.concurrent.atomic.AtomicLong
            val spillDisk = new java.util.concurrent.atomic.AtomicLong
            val tasksEnded = new java.util.concurrent.atomic.AtomicLong
            cs.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
              override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
                val m = e.taskMetrics
                if (m != null) {
                  spillMem.addAndGet(m.memoryBytesSpilled)
                  spillDisk.addAndGet(m.diskBytesSpilled)
                }
                tasksEnded.incrementAndGet(); ()
              }
            })
            val qmap = names.toMap
            val rows = shuffleHeavy.flatMap(n => qmap.get(n).map(n -> _)).map {
              case (name, fn) =>
                // squeezed-memory runs pay spill I/O on top of the
                // scaled estimate; ×2 keeps an admitted query from
                // blowing the budget the scale sweeps still need
                if (remainingSec < 2 * estSec(name, cCopies)) {
                  skipped += s"constrained:$name"
                  s""""$name":{"skipped":true}"""
                } else {
                  System.err.println(s"[bench] constrained(${cCopies}x) $name")
                  val m0 = spillMem.get(); val d0 = spillDisk.get()
                  val t0 = System.nanoTime()
                  val err = try {
                    fn(cs, dir).write.format("noop").mode("overwrite").save(); None
                  } catch { case e: Throwable =>
                    Some(s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").take(300)}")
                  }
                  val sec = (System.nanoTime() - t0) / 1e9
                  // drain-wait: task-end events are posted async; wait until
                  // the counter stops moving (max 2 s) before snapshotting
                  var last = -1L; var spins = 0
                  while (last != tasksEnded.get() && spins < 20) {
                    last = tasksEnded.get(); Thread.sleep(100); spins += 1
                  }
                  val sm = spillMem.get() - m0; val sd = spillDisk.get() - d0
                  err match {
                    case Some(msg) =>
                      constrainedErrors.incrementAndGet()
                      System.err.println(
                        s"[bench] WARNING constrained $name FAILED (not a spill): $msg")
                      s""""$name":{"sec":$sec,"spill_mem_bytes":$sm,"spill_disk_bytes":$sd,"err":"${escJson(msg)}"}"""
                    case None =>
                      s""""$name":{"sec":$sec,"spill_mem_bytes":$sm,"spill_disk_bytes":$sd}"""
                  }
                }
            }
            sumNum("constrained.spill_mem_bytes") = spillMem.get().toDouble
            sumNum("constrained.spill_disk_bytes") = spillDisk.get().toDouble
            sumNum("constrained.errors") = constrainedErrors.get().toDouble
            s""","constrained":{"copies":$cCopies,"memory_bytes":$memBytes,"reserved_bytes":$reservedBytes,"shuffle_partitions":$parts,"spill_mem_bytes":${spillMem.get()},"spill_disk_bytes":${spillDisk.get()},"queries":${rows.mkString("{", ",", "}")}}"""
          } finally cs.stop()
        } finally {
          // the scale sweeps (and the final spark.stop) need a live
          // normal session regardless of how this pass ended
          spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
          spark.sparkContext.setLogLevel("WARN")
        }
      }
    }

    // scale curve: headline subset at SCALE_COPIES (default 10x,
    // min-of-SCALE_RUNS), full catalog at SCALE_FULL (default 5x,
    // min-of-SCALE_FULL_RUNS = 1). fail-soft end to end: the curve is
    // extra evidence — a bad env value or replica-write problem must not
    // cost the round its primary numbers.
    //
    // 10× admission is VALUE-ORDERED, not catalog-ordered (round-11
    // verdict #6: when the budget fits only K of 47 headliners,
    // alphabetical admission always dropped the same tail — w_*, t_*,
    // mm_* never got 10× timings). The shuffle-heavy subset goes first
    // (its 100 TB claims ride on shuffle behavior, the thing a 10× point
    // actually tests), then the rest by DESCENDING main-pass median —
    // expensive plans are where scale growth shows; what falls off the
    // end is the cheap scan-shaped remainder.
    // Pass-level cost model for the LOOKAHEAD decision below (per-query
    // admission inside a pass keeps the deliberately conservative
    // estSec). Central estimate, calibrated jointly against the two
    // committed scaled passes: per run, max(2.5 s, 1×-min × copies × 0.4)
    // reproduces the full catalog's 10× min-sum within +12%
    // (SCALETIME10_FULL_r14: est 1582 vs 1407 s) and the 49-headliner
    // 10× pass within −14% (BENCHFULL r15: est 227 vs 263 s) — scale
    // growth is strongly sub-linear (the ×1.5-per-copy estSec would call
    // the full pass 3300 s and the lookahead would never rescue
    // anything), while the cheap scan-shaped tail is floor-dominated.
    // The scaled-full 600 s admission floor remains the safety margin.
    // Replica generation measured ~19 s/copy at sf0.1.
    def estPassSec(qnames: Seq[String], cps: Int, runsN: Int): Double = {
      val replicaSec = if (replicaDirs.contains(cps)) 0.0 else 20.0 * cps
      replicaSec + qnames.map { n =>
        val perRun = math.max(2.5, mainMed.getOrElse(n, 1.0) * cps * 0.4)
        val planned = if (runsN > 1 && estSec(n, cps) >= 5.0) runsN + 1 else runsN
        perRun * planned
      }.sum
    }
    val headJson =
      if (copies <= 0) ""
      else gated("scaled", minSec = 420) {
        val rank: Map[String, Int] = shuffleHeavy.zipWithIndex.toMap
        val ordered = names
          .filter { case (n, _) => headline.contains(n) }
          .sortBy { case (n, _) =>
            (rank.getOrElse(n, Int.MaxValue), -mainMed.getOrElse(n, 0.0)) }
        // Lookahead admission (round-15 verdict #6): under the driver's
        // 2520 s budget, running the headline pass at the full scaleRuns
        // left less than scaled-full's 600 s floor and the WHOLE full
        // pass was skipped — one fewer headline run is strictly less
        // evidence lost than 238 missing 5× timings. Estimate both
        // passes up front and drop headline runs (never below 1) only
        // when that rescues scaled-full's admission.
        val fullFloor =
          if (fullCopies <= 0) 0.0
          else math.max(600.0, estPassSec(names.map(_._1), fullCopies, fullRuns))
        val runsEff = lookaheadScaleRuns(scaleRuns, remainingSec,
          r => estPassSec(ordered.map(_._1), copies, r), fullFloor)
        if (runsEff < scaleRuns) {
          degradedRuns = true
          System.err.println(f"[bench] scaled lookahead: $runsEff of $scaleRuns " +
            f"runs (est ${estPassSec(ordered.map(_._1), copies, scaleRuns)}%.0f s " +
            f"+ scaled-full floor $fullFloor%.0f s > ${remainingSec}%.0f s left)")
        }
        scaledPass(copies, ordered, "scaled", runsEff, runsRequested = scaleRuns)
      }
    // scaled-full admission is value-ordered too (round-13 verdict #3:
    // the r13 driver run's 68 budget skips included the two most
    // expensive stream replays while the alphabetical tail ran — the r11
    // "skip the cheap tail" principle had been applied to `scaled` but
    // not here). DESCENDING main-pass median: expensive plans are where
    // scale growth shows, so a budget squeeze now sheds the cheap
    // scan-shaped remainder instead of whichever names sort last.
    val fullJson =
      if (fullCopies <= 0) ""
      else gated("scaled-full", minSec = 600) {
        scaledPass(fullCopies,
          names.sortBy { case (n, _) => -mainMed.getOrElse(n, 0.0) },
          "scaled-full", fullRuns)
      }
    val scaledJson =
      if (headJson.isEmpty && fullJson.isEmpty) ""
      else if (headJson.isEmpty) s""","scaled":{"full":$fullJson}"""
      else if (fullJson.isEmpty) s""","scaled":$headJson"""
      else s""","scaled":${headJson.stripSuffix("}")},"full":$fullJson}"""

    replicaDirs.values.foreach(d =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))

    val skippedJson = skipped.map("\"" + escJson(_) + "\"").mkString("[", ",", "]")
    val line =
      s"""{"metric":"total","value":$total,"value_min":$totalMin,"unit":"sec","queries":$qs,"runs":$runs,"raw":$raw,"load":$mainLoad,"sf":$sfNum,"cpus":$cpus,"budget_sec":$budgetSec,"elapsed_sec":$elapsedSec,"skipped":$skippedJson$streamingJson$scaledJson$constrainedJson}"""
    // Persist the FULL line as a file artifact too: the harness that
    // captures stdout keeps only a 2,000-char tail, which in round 8
    // silently dropped the entire main pass and the 10x headline block
    // from BENCH_r08. The committed BENCHFULL file is what makes rounds
    // comparable from artifacts alone. fail-soft: a read-only cwd must
    // not cost the stdout line.
    //
    // Clobber guard (round-10 incident): a NARROW run — SPARK_GRAFT_ONLY
    // set, or a run that timed zero queries — overwrote the committed
    // full-catalog artifact with a smoke line. Such runs now only write
    // when SPARK_GRAFT_BENCH_OUT names a destination explicitly; the
    // repo-default path is reserved for full-catalog passes. The write
    // itself is ATOMIC (temp + rename): a run killed mid-write leaves
    // the destination untouched — kill-tested in BenchArtifactSpec.
    //
    // Second guard (round-12 incident): a BUDGET-SQUEEZED full run — the
    // main pass complete but optional passes skipped — used to overwrite
    // the committed zero-skip record with a partial one, which the round
    // snapshot then committed over it (twice: rounds 10 and 12). A run
    // with a nonempty skip list now writes BENCHFULL_PARTIAL.json
    // instead; BENCHFULL.json only ever holds a zero-skip complete run.
    // An explicit SPARK_GRAFT_BENCH_OUT still overrides both guards.
    val benchOut = artifactDest(sys.env.get("SPARK_GRAFT_BENCH_OUT"),
      narrow = only.nonEmpty || results.isEmpty, skippedN = skipped.length,
      sf = sfNum, degraded = degradedRuns, cpus = cpus,
      constrainedErrors = constrainedErrors.get())
    artifactNotice(benchOut, skipped.length, degradedRuns,
      constrainedErrors.get())
      .foreach(System.err.println)
    benchOut.foreach { out =>
      try writeAtomic(out, line + "\n")
      catch { case e: Throwable =>
        System.err.println(s"[bench] BENCHFULL write skipped: $e") }
    }
    // Stop Spark BEFORE printing so shutdown logging cannot interleave
    // with (or follow) the result lines.
    spark.stop()
    println(line)
    // Compact summary as the FINAL stdout line (round-11 verdict #2):
    // the full line is tens of KB and the driver keeps only a ~2,000-char
    // stdout tail, so its `parsed` field has been null for 11 straight
    // rounds — the full line is always decapitated. This line is < ~1.5 KB
    // by construction (headline totals, streaming steady points, scaled
    // values, spill totals, skip count, the top-5 slowest queries, and
    // the path of the complete artifact), so it lands inside any tail
    // and parses. BENCHFULL.json remains the complete record.
    val top5 = results.sortBy(-_._2).take(5)
      .map { case (k, med, _, _) => s"\"" + k + "\":" + med }
      .mkString("{", ",", "}")
    val sumJson = sumNum
      .map { case (k, v) => s"\"" + k + "\":" + (if (v == v.floor && v.abs < 1e15) v.toLong.toString else v.toString) }
      .mkString("{", ",", "}")
    val artifactJson = benchOut.fold("null")("\"" + escJson(_) + "\"")
    println(s"""{"metric":"total","value":$total,"value_min":$totalMin,"unit":"sec","sf":$sfNum,"cpus":$cpus,"compact":true,"n_queries":${results.length},"runs":$runs,"budget_sec":$budgetSec,"elapsed_sec":$elapsedSec,"skipped_n":${skipped.length},"artifact":$artifactJson,"queries":$top5,"summary":$sumJson}""")
    System.out.flush()
  }

  /** Where the complete result line lands. An explicit
    * SPARK_GRAFT_BENCH_OUT always wins; a narrow run (SPARK_GRAFT_ONLY
    * set, or zero queries timed) writes nowhere (round-10 clobber); a
    * full run with skipped passes diverts to BENCHFULL_PARTIAL.json so
    * the committed zero-skip record survives round snapshots (round-12
    * clobber); only a zero-skip full run AT THE DRIVER'S SF (0.1) may
    * claim BENCHFULL.json — a complete run at any other scale factor
    * lands in BENCHFULL_sfN.json so a toy-SF builder pass can never
    * shadow the committed sf0.1 record (the remaining member of the
    * clobber family, preempted rather than survived). */
  /** The stderr notice that explains where (or why not) the complete
    * result line landed. Keyed on the SKIP COUNT, not the destination
    * name (round-15 advisory: substring-matching "BENCHFULL_PARTIAL"
    * meant an explicit SPARK_GRAFT_BENCH_OUT pointed at BENCHFULL.json
    * silently overwrote a complete record with a skip-bearing line,
    * while an explicit path that merely contained the partial marker
    * announced "complete record preserved" with zero skips). Any
    * skip-bearing write announces itself and names the REAL destination;
    * routing to the PARTIAL sibling additionally notes the committed
    * record survives, and a skip-bearing write landing anywhere ELSE a
    * BENCHFULL record lives gets an explicit overwrite warning. */
  private[graft] def artifactNotice(benchOut: Option[String],
                                    skippedN: Int,
                                    degraded: Boolean = false,
                                    constrainedErrors: Int = 0): Option[String] =
    benchOut match {
      case None =>
        Some("[bench] narrow run: BENCHFULL write skipped (set SPARK_GRAFT_BENCH_OUT to force)")
      case Some(out) if skippedN > 0 =>
        val suffix =
          if (out.contains("BENCHFULL_PARTIAL")) ", complete record preserved"
          else if (out.contains("BENCHFULL"))
            " — WARNING: skip-bearing line over a complete-record path"
          else ""
        Some(s"[bench] $skippedN passes skipped: writing $out$suffix")
      case Some(out) if constrainedErrors > 0 =>
        Some(s"[bench] WARNING: $constrainedErrors constrained-pass " +
          s"failures (hard errors, not spills): writing $out, " +
          "complete record preserved")
      case Some(out) if degraded =>
        Some(s"[bench] zero-skip but lookahead-degraded run: writing $out, " +
          "full-fidelity record preserved")
      case Some(out) if out.contains("BENCHFULL_PARTIAL") =>
        Some(s"[bench] zero-skip run writing to explicit partial path $out")
      case _ => None
    }

  /** How many headline-pass runs to actually request (round-15 verdict
    * #6). The scaled-full pass runs AFTER the headline pass in program
    * order, so under a squeezed budget the headline pass used to eat the
    * remaining seconds at full fidelity and scaled-full — 238 queries of
    * 5× evidence — was skipped whole (the r15 driver run: 495 s left vs
    * the 600 s floor). Dropping one headline run loses strictly less: a
    * min-of-1 headline point with its loadavg column (the same contract
    * the full-catalog pass already runs under) versus an entire missing
    * pass. Degrade only when it actually rescues scaled-full — if even
    * one run can't fit both passes, keep the requested fidelity and let
    * the existing gate skip scaled-full as before.
    *
    * @param estScaledAtRuns pass-level cost estimate for the headline
    *                        pass at a given run count (replica + runs)
    * @param fullFloorSec    what must remain for scaled-full to admit
    *                        (0 when no scaled-full pass is configured) */
  private[graft] def lookaheadScaleRuns(requested: Int,
                                        remainingSec: Double,
                                        estScaledAtRuns: Int => Double,
                                        fullFloorSec: Double): Int =
    if (fullFloorSec <= 0 ||
        estScaledAtRuns(requested) + fullFloorSec <= remainingSec) requested
    else (requested - 1 to 1 by -1)
      .find(r => estScaledAtRuns(r) + fullFloorSec <= remainingSec)
      .getOrElse(requested)

  private[graft] def artifactDest(explicit: Option[String], narrow: Boolean,
                                  skippedN: Int, sf: String = "0.1",
                                  degraded: Boolean = false,
                                  cpus: String = "32",
                                  constrainedErrors: Int = 0): Option[String] =
    explicit.orElse {
      // non-headline core counts get their own suffix (round-16 verdict
      // #3, the clobber family's core-count edition: the driver's 8-core
      // scaling run landed on the same path as the committed 32-core
      // record and shadowed it). 32 is the driver's main bench core
      // count — its record is THE round-over-round comparable; any other
      // count is a scaling point and must never overwrite it.
      val cs = if (cpus == "32") "" else s"_c$cpus"
      if (narrow) None
      // partials carry the SF suffix too (round-13 advisory: a toy-SF
      // partial used to overwrite an sf0.1 partial record — the same
      // shadowing the complete-run suffix already preempts). A
      // lookahead-DEGRADED run (headline runs reduced to rescue
      // scaled-full) is zero-skip but not full-fidelity: routing it to
      // the PARTIAL sibling preempts the remaining clobber variant —
      // without this, the first budget-squeezed driver run after the
      // lookahead landed would overwrite the committed quiet record
      // with a load-contaminated min-of-1 line (the r12 clobber family,
      // zero-skip edition). A run whose CONSTRAINED pass recorded hard
      // errors routes to the PARTIAL sibling too (round-16 verdict #2/#4:
      // two OOMs hid inside a zero-skip artifact with rc 0 — an error
      // inside the spill evidence must not claim the complete record).
      else if ((skippedN > 0 || degraded || constrainedErrors > 0) && sf == "0.1")
        Some(s"/root/repo/BENCHFULL_PARTIAL$cs.json")
      else if (skippedN > 0 || degraded || constrainedErrors > 0)
        Some(s"/root/repo/BENCHFULL_PARTIAL_sf$sf$cs.json")
      else if (sf == "0.1") Some(s"/root/repo/BENCHFULL$cs.json")
      else Some(s"/root/repo/BENCHFULL_sf$sf$cs.json")
    }

  /** Atomic artifact write: stage the full content in a `.tmp` sibling
    * (fsync'd, so the rename can never publish a hole-filled staging
    * file after a crash), then rename over the destination. A run killed
    * at ANY point leaves the destination either absent or holding a
    * previous COMPLETE line — never a partial (the round-10 clobber).
    * Falls back to a plain replace-move where the filesystem lacks
    * atomic rename; the `.tmp` sibling is removed in a finally so a
    * failed move can't leave stale staging files behind (round-11
    * advisory). */
  private[graft] def writeAtomic(out: String, content: String): Unit = {
    val dest = java.nio.file.Paths.get(out).toAbsolutePath
    val tmp = dest.resolveSibling(dest.getFileName.toString + ".tmp")
    try {
      val ch = java.nio.channels.FileChannel.open(tmp,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.TRUNCATE_EXISTING,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        ch.write(java.nio.ByteBuffer.wrap(
          content.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
        ch.force(true)
      } finally ch.close()
      try java.nio.file.Files.move(tmp, dest,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      catch { case _: java.nio.file.AtomicMoveNotSupportedException =>
        java.nio.file.Files.move(tmp, dest,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING) }
    } finally { java.nio.file.Files.deleteIfExists(tmp); () }
  }
}
