package graft

import org.apache.spark.sql.SparkSession

/** Central SparkSession builder so every entry point (Verify, Bench, tests)
  * runs with identical, scale-aware settings.
  *
  * Design notes (100 TB target, tested on local[32]):
  *  - shuffle partitions default 32 to match local cores; on a real cluster
  *    this is overridden (AQE coalesces anyway).
  *  - AQE on: runtime re-planning (skew-join split, partition coalescing)
  *    is the main lever that survives a 1000x scale-up unchanged.
  *  - ANSI off: the reference's semantics are null-on-error coercion
  *    (pandas `to_numeric(errors="coerce")`, /root/reference/backend/main.py:197);
  *    permissive mode reproduces that and matches DuckDB TRY_CAST oracles.
  *  - Session TZ pinned UTC for date/timestamp parity with the oracle.
  */
object GraftSession {
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession
      .builder()
      .master(master)
      .appName("graft")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      // legacy size(NULL) = -1 is KEPT deliberately: flipping it to the
      // modern null-propagating form makes size() nullable, which
      // measured a 6x regression on the shingle-set similarity path
      // (dd_ngram_jaccard 3.5 s -> 22 s at sf0.1 — nullable bounds knock
      // the when/sequence/transform chain off its optimized path).
      // Null-input hygiene is instead handled WHERE nulls can occur:
      // every query whose output derives from size() over nullable text
      // filters `text IS NOT NULL` explicitly (mirrored in its oracle),
      // and the scalar key functions (Text.normalizedKey) are
      // null-in-null-out — so no -1 ever reaches a result.
      .config("spark.sql.legacy.sizeOfNull", "true")
      .config("spark.sql.parquet.compression.codec", "snappy")
      // Some testdata generations wrote events.ts as TIMESTAMP(NANOS),
      // which Spark's vectorized reader rejects; this flag reads that
      // encoding as long nanos instead of crashing. Tables.events then
      // branches on the SCANNED dtype (long nanos vs native timestamp) —
      // the flag is harmless for the TIMESTAMP(MICROS) generation, which
      // arrives as TIMESTAMP_NTZ untouched.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")

  /** Run `body` with session conf `kv` set, then restore the key's
    * previous value, or unset it if it had none. Session-conf scope is
    * safe here: every harness (Bench, Verify, the sequential test JVM)
    * runs catalog queries one at a time on the shared session. */
  def withConf[T](s: SparkSession, kv: (String, String))(body: => T): T = {
    val (key, value) = kv
    val prev = s.conf.getOption(key)
    s.conf.set(key, value)
    try body
    finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None => s.conf.unset(key)
    }
  }

  /** Session for local tools and tests. */
  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val s = builder(s"local[$cores]", math.max(cores, 4)).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
