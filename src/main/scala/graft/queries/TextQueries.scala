package graft.queries

import graft.ops.Lineage._
import graft.functions.{Text, Vectors}
import graft.sources.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators over the `documents` table — the training-data
  * pipeline surface (language-ID, quality scoring, token counting,
  * fingerprinting). All per-row expression work at the scan: zero shuffle
  * except final presentation sorts.
  */
object TextQueries {

  /** Language marker profiles (heuristic scorer — the synthetic corpus
    * shares one vocabulary, so this demonstrates the scoring mechanics;
    * ties resolve in profile order). */
  private val profiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of"),
    "de" -> Seq("row", "column"),
    "fr" -> Seq("scan", "data"),
    "es" -> Seq("slow", "agg"),
    "zh" -> Seq("join", "small"))

  val qs: Seq[Q] = Seq(
    Q(
      "t_tfidf_topterms",
      """TF-IDF term ranking — the relevance-scoring pass an index or
        |keyword-extraction pipeline makes over the corpus: per document,
        |the top-3 terms by tf x idf where idf is the floor-log2 of
        |N/df computed EXACTLY as length(bin(N div df)) - 1 (bin() emits
        |no leading zeros in either engine, so no libm log ever runs and
        |the scores hash bit-identically; the quantized idf's frequent
        |ties break on term text). tf and df ride along so the evidence
        |shows the full statistic, not just the winner. Scale shape: the
        |(doc, term) tf aggregate, the term-partitioned df window, and
        |the doc-partitioned rank window are three key-bucketed
        |shuffles — vocabulary- and corpus-bucketable, never global; N
        |is a one-row broadcast.""".stripMargin,
      Some(
        """WITH d AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
          |n AS (SELECT COUNT(*) AS n_docs FROM d),
          |tok AS (SELECT doc_id,
          |               unnest(string_split(lower(trim(text)), ' ')) AS token
          |        FROM d),
          |tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
          |       FROM tok GROUP BY 1, 2),
          |wdf AS (SELECT doc_id, token, tf,
          |               CAST(COUNT(*) OVER (PARTITION BY token) AS BIGINT) AS df
          |        FROM tf),
          |sc AS (SELECT doc_id, token, tf, df,
          |              tf * (length(bin((SELECT n_docs FROM n) // df)) - 1) AS score
          |       FROM wdf),
          |rk AS (SELECT doc_id, token, tf, df, score,
          |              CAST(row_number() OVER (PARTITION BY doc_id
          |                     ORDER BY score DESC, token) AS BIGINT) AS rank
          |       FROM sc)
          |SELECT doc_id, rank, token, tf, df, CAST(score AS BIGINT) AS score
          |FROM rk
          |WHERE rank <= 3
          |ORDER BY doc_id, rank""".stripMargin),
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val d = Tables.documents(s, dir).filter(col("text").isNotNull)
        val nDocs = d.agg(count(lit(1)).as("n_docs"))
        val tf = d.select(col("doc_id"), explode(Text.tokens(col("text"))).as("token"))
          .groupBy("doc_id", "token")
          .agg(count(lit(1)).as("tf"))
        val wTok = Window.partitionBy("token")
        val wDoc = Window.partitionBy("doc_id").orderBy(col("score").desc, col("token"))
        tf.withColumn("df", count(lit(1)).over(wTok))
          .crossJoin(broadcast(nDocs))
          .withColumn("score", col("tf") * (length(expr("bin(n_docs div df)")) - 1))
          .withColumn("rank", row_number().over(wDoc).cast("long"))
          .filter(col("rank") <= 3)
          .select(col("doc_id"), col("rank"), col("token"), col("tf"),
            col("df"), col("score").cast("long").as("score"))
          .orderBy("doc_id", "rank")
      }),

    Q(
      "t_token_quality",
      """Token counting + quality scoring per document: token count,
        |distinct-token count, type-token ratio, average token length,
        |stopword ratio, and a quality ladder — the pre-training filter
        |stack. Ratios are single double divisions of exact ints (no float
        |accumulation), so the oracle compare is exact.""".stripMargin,
      Some(
        """SELECT doc_id,
          |       len(string_split(lower(trim(text)), ' ')) AS n_tokens,
          |       len(list_distinct(string_split(lower(trim(text)), ' '))) AS n_distinct,
          |       CAST(len(list_distinct(string_split(lower(trim(text)), ' '))) AS DOUBLE)
          |         / len(string_split(lower(trim(text)), ' ')) AS ttr,
          |       CAST(length(replace(text, ' ', '')) AS DOUBLE)
          |         / len(string_split(lower(trim(text)), ' ')) AS avg_token_len,
          |       CAST(len(list_filter(string_split(lower(trim(text)), ' '),
          |                            t -> t IN ('the', 'a', 'of', 'in'))) AS DOUBLE)
          |         / len(string_split(lower(trim(text)), ' ')) AS stopword_ratio,
          |       CASE WHEN len(string_split(lower(trim(text)), ' ')) BETWEEN 30 AND 80
          |                 AND CAST(len(list_distinct(string_split(lower(trim(text)), ' '))) AS DOUBLE)
          |                     / len(string_split(lower(trim(text)), ' ')) >= 0.3
          |            THEN 'good'
          |            WHEN len(string_split(lower(trim(text)), ' ')) >= 15 THEN 'fair'
          |            ELSE 'poor' END AS quality
          |FROM documents
          |WHERE text IS NOT NULL
          |ORDER BY doc_id""".stripMargin),
      (s, dir) => {
        val toks = Text.tokens(col("text"))
        val nTokens = size(toks)
        val nDistinct = size(array_distinct(toks))
        val ttr = nDistinct.cast("double") / nTokens
        Tables.documents(s, dir).filter(col("text").isNotNull).select(
          col("doc_id"),
          nTokens.as("n_tokens"),
          nDistinct.as("n_distinct"),
          ttr.as("ttr"),
          (length(regexp_replace(col("text"), " ", "")).cast("double") / nTokens).as("avg_token_len"),
          (Text.markerHits(col("text"), Seq("the", "a", "of", "in")).cast("double") / nTokens)
            .as("stopword_ratio"),
          when(nTokens.between(30, 80) && ttr >= 0.3, "good")
            .when(nTokens >= 15, "fair")
            .otherwise("poor").as("quality"))
          .orderBy("doc_id")
      }),

    Q(
      "t_quality_score",
      """Model-based quality scoring (the linear-classifier filtering step
        |of CCNet/GPT-3-style pipelines, with fixed interpretable weights
        |instead of learned ones): four row-local features — stopword
        |ratio, alphabetic-token ratio, capped average word length, capped
        |length — combine linearly and squash through the ALGEBRAIC
        |sigmoid x/(1+|x|). exp() is deliberately absent: libm exp differs
        |across engines in the last ulp, while +,×,÷,abs are
        |correctly-rounded IEEE everywhere, so this scorer is
        |hash-reproducible bit-for-bit. Every feature and the score round
        |to 6 dp before use. Zero shuffle: one scan, one output sort.""".stripMargin,
      Some(
        """WITH f AS (
          |  SELECT doc_id,
          |         len(string_split(lower(trim(text)), ' ')) AS n_tokens,
          |         round(CAST(len(list_filter(string_split(lower(trim(text)), ' '),
          |                              t -> t IN ('the', 'a', 'of', 'in'))) AS DOUBLE)
          |               / len(string_split(lower(trim(text)), ' ')), 6) AS stop_ratio,
          |         round(CAST(len(list_filter(string_split(lower(trim(text)), ' '),
          |                              t -> regexp_full_match(t, '[a-z]+'))) AS DOUBLE)
          |               / len(string_split(lower(trim(text)), ' ')), 6) AS alpha_ratio,
          |         round(LEAST(CAST(length(replace(text, ' ', '')) AS DOUBLE)
          |                     / len(string_split(lower(trim(text)), ' ')) / 10.0, 1.0), 6) AS wlen_r,
          |         round(LEAST(CAST(len(string_split(lower(trim(text)), ' ')) AS DOUBLE)
          |                     / 100.0, 1.0), 6) AS len_r
          |  FROM documents
          |  WHERE text IS NOT NULL),
          |sc AS (
          |  SELECT doc_id, n_tokens, stop_ratio, alpha_ratio,
          |         round(-2.0 + 2.0 * stop_ratio + 1.5 * alpha_ratio
          |               + 1.0 * wlen_r + 1.5 * len_r, 6) AS score
          |  FROM f)
          |SELECT doc_id, n_tokens, stop_ratio, alpha_ratio, score,
          |       round(0.5 * (1.0 + score / (1.0 + abs(score))), 6) AS prob,
          |       (round(0.5 * (1.0 + score / (1.0 + abs(score))), 6) >= 0.5) AS keep
          |FROM sc
          |ORDER BY doc_id""".stripMargin),
      (s, dir) => {
        val toks = Text.tokens(col("text"))
        val n = size(toks)
        val stopR = round(
          Text.markerHits(col("text"), Seq("the", "a", "of", "in")).cast("double") / n, 6)
        val alphaR = round(
          size(filter(toks, t => t.rlike("^[a-z]+$"))).cast("double") / n, 6)
        val wlenR = round(least(
          length(regexp_replace(col("text"), " ", "")).cast("double") / n / lit(10.0),
          lit(1.0)), 6)
        val lenR = round(least(n.cast("double") / lit(100.0), lit(1.0)), 6)
        val score = round(lit(-2.0) + lit(2.0) * stopR + lit(1.5) * alphaR
          + lit(1.0) * wlenR + lit(1.5) * lenR, 6)
        val prob = round(lit(0.5) * (lit(1.0) + score / (lit(1.0) + abs(score))), 6)
        Tables.documents(s, dir).filter(col("text").isNotNull).select(
          col("doc_id"),
          n.as("n_tokens"),
          stopR.as("stop_ratio"),
          alphaR.as("alpha_ratio"),
          score.as("score"),
          prob.as("prob"),
          (prob >= 0.5).as("keep"))
          .orderBy("doc_id")
      }),

    Q(
      "t_lm_fluency",
      """LM-based fluency scoring (the CCNet perplexity-filter shape): a
        |bigram model is trained ON THE CORPUS ITSELF — p(tok|prev) =
        |c(prev,tok)/c(prev) — and each document reports its bigram
        |count, mean and min transition probability, and a keep verdict.
        |Log-perplexity is deliberately replaced by the mean probability:
        |log()/exp() differ across engines in the last ulp. Probabilities
        |live as INTEGER micro-units (round-half-up of c_bt·10⁶/c_p,
        |computed as FLOOR((2a+b)/2b) on exactly-representable ints — a
        |round(x, 6) on a tie-able double diverges between Spark's
        |shortest-decimal HALF_UP and DuckDB's binary-value rounding), so
        |sums are exact in any partition order and the final /10⁶ is one
        |correctly-rounded IEEE division — bit-identical both engines.
        |
        |Scale shape: bigrams explode at the scan; the model table is
        |bigram-cardinality with map-side partial counts; context totals
        |derive from the bigram counts (no second corpus scan for the
        |denominator); scoring is one shuffle join on the bigram key. At
        |100 TB the model gets a rare-bigram floor before the join — same
        |plan, smaller build side.""".stripMargin,
      Some(
        """WITH t AS (
          |  SELECT doc_id, string_split(lower(trim(text)), ' ') AS toks
          |  FROM documents
          |  WHERE text IS NOT NULL
          |    AND len(string_split(lower(trim(text)), ' ')) >= 2),
          |bi AS (
          |  SELECT doc_id, toks[i+1] AS prev, toks[i+2] AS tok
          |  FROM t, LATERAL (SELECT unnest(range(len(toks) - 1)) AS i)),
          |cnt AS (SELECT prev, tok, COUNT(*) AS c_bt FROM bi GROUP BY prev, tok),
          |pc AS (SELECT prev, CAST(SUM(c_bt) AS BIGINT) AS c_p FROM cnt GROUP BY prev),
          |model AS (
          |  SELECT cnt.prev, cnt.tok,
          |         CAST(FLOOR(CAST(2000000 * c_bt + c_p AS DOUBLE)
          |                    / (2 * c_p)) AS BIGINT) AS p_micro
          |  FROM cnt JOIN pc ON cnt.prev = pc.prev),
          |scored AS (
          |  SELECT bi.doc_id,
          |         CAST(COUNT(*) AS BIGINT) AS n_bigrams,
          |         CAST(SUM(p_micro) AS BIGINT) AS s_micro,
          |         CAST(MIN(p_micro) AS BIGINT) AS min_micro
          |  FROM bi JOIN model ON bi.prev = model.prev AND bi.tok = model.tok
          |  GROUP BY bi.doc_id)
          |SELECT doc_id, n_bigrams,
          |       CAST(FLOOR(CAST(2 * s_micro + n_bigrams AS DOUBLE)
          |                  / (2 * n_bigrams)) AS BIGINT) / 1000000.0 AS mean_p,
          |       min_micro / 1000000.0 AS min_p,
          |       (CAST(FLOOR(CAST(2 * s_micro + n_bigrams AS DOUBLE)
          |                   / (2 * n_bigrams)) AS BIGINT) >= 10000) AS keep
          |FROM scored
          |ORDER BY doc_id""".stripMargin),
      (s, dir) => {
        val t = Tables.documents(s, dir)
          .withColumn("toks", Text.tokens(col("text")))
          .filter(col("text").isNotNull && size(col("toks")) >= 2)
          .select(col("doc_id"), col("toks"))
        val bi = t.select(col("doc_id"),
            explode(transform(sequence(lit(0), size(col("toks")) - 2), i =>
              struct(element_at(col("toks"), i + 1).as("prev"),
                element_at(col("toks"), i + 2).as("tok")))).as("b"))
          .select(col("doc_id"), col("b.prev").as("prev"), col("b.tok").as("tok"))
        val cnt = bi.groupBy("prev", "tok").agg(count(lit(1)).as("c_bt"))
        // context totals fold out of the bigram counts — the corpus is
        // never rescanned for the denominator
        val pc = cnt.groupBy("prev").agg(sum("c_bt").as("c_p"))
        val model = cnt.join(pc, Seq("prev"))
          .select(col("prev"), col("tok"),
            floor((lit(2000000L) * col("c_bt") + col("c_p"))
              / (lit(2) * col("c_p"))).cast("long").as("p_micro"))
        val meanMicro = floor((lit(2) * col("s_micro") + col("n_bigrams"))
          / (lit(2) * col("n_bigrams"))).cast("long")
        bi.join(model, Seq("prev", "tok"))
          .groupBy("doc_id")
          .agg(
            count(lit(1)).as("n_bigrams"),
            sum("p_micro").as("s_micro"),
            min("p_micro").as("min_micro"))
          .select(
            col("doc_id"), col("n_bigrams"),
            (meanMicro / lit(1000000.0)).as("mean_p"),
            (col("min_micro") / lit(1000000.0)).as("min_p"),
            (meanMicro >= 10000).as("keep"))
          .orderBy("doc_id")
      }),

    Q(
      "t_perplexity_buckets",
      """CCNet's head/middle/tail corpus split on the t_lm_fluency score,
        |in the shape that survives 100 TB: NOT a global ntile (a
        |single-partition window over the corpus) but the two-pass
        |cutoff pattern — aggregate the score HISTOGRAM (bounded by
        |distinct micro-values, not docs), find the value cutoffs whose
        |cumulative count first reaches ceil(n/3) and ceil(2n/3) via a
        |window over that value-sized frame, broadcast the one-row cutoff
        |pair, and assign buckets row-locally. Ties share a value, so the
        |split is value-based exactly like CCNet's perplexity thresholds
        |(head can exceed n/3 when scores tie — deterministic on both
        |engines). All arithmetic is the integer micro-unit discipline of
        |t_lm_fluency.""".stripMargin,
      Some(
        """WITH t AS (
          |  SELECT doc_id, string_split(lower(trim(text)), ' ') AS toks
          |  FROM documents
          |  WHERE text IS NOT NULL
          |    AND len(string_split(lower(trim(text)), ' ')) >= 2),
          |bi AS (
          |  SELECT doc_id, toks[i+1] AS prev, toks[i+2] AS tok
          |  FROM t, LATERAL (SELECT unnest(range(len(toks) - 1)) AS i)),
          |cnt AS (SELECT prev, tok, COUNT(*) AS c_bt FROM bi GROUP BY prev, tok),
          |pc AS (SELECT prev, CAST(SUM(c_bt) AS BIGINT) AS c_p FROM cnt GROUP BY prev),
          |model AS (
          |  SELECT cnt.prev, cnt.tok,
          |         CAST(FLOOR(CAST(2000000 * c_bt + c_p AS DOUBLE)
          |                    / (2 * c_p)) AS BIGINT) AS p_micro
          |  FROM cnt JOIN pc ON cnt.prev = pc.prev),
          |scored AS (
          |  SELECT bi.doc_id,
          |         CAST(FLOOR(CAST(2 * SUM(p_micro) + COUNT(*) AS DOUBLE)
          |                    / (2 * COUNT(*))) AS BIGINT) AS mean_micro
          |  FROM bi JOIN model ON bi.prev = model.prev AND bi.tok = model.tok
          |  GROUP BY bi.doc_id),
          |hist AS (SELECT mean_micro, COUNT(*) AS c FROM scored GROUP BY mean_micro),
          |cum AS (
          |  SELECT mean_micro,
          |         SUM(c) OVER (ORDER BY mean_micro DESC
          |                      ROWS UNBOUNDED PRECEDING) AS cum,
          |         SUM(c) OVER () AS total
          |  FROM hist),
          |cuts AS (
          |  SELECT MAX(CASE WHEN cum >= (total + 2) // 3 THEN mean_micro END) AS c1,
          |         MAX(CASE WHEN cum >= (2 * total + 2) // 3 THEN mean_micro END) AS c2
          |  FROM cum)
          |SELECT doc_id, mean_micro / 1000000.0 AS mean_p,
          |       CASE WHEN mean_micro >= c1 THEN 'head'
          |            WHEN mean_micro >= c2 THEN 'middle'
          |            ELSE 'tail' END AS bucket
          |FROM scored, cuts
          |ORDER BY doc_id""".stripMargin),
      (s, dir) => {
        val t = Tables.documents(s, dir)
          .withColumn("toks", Text.tokens(col("text")))
          .filter(col("text").isNotNull && size(col("toks")) >= 2)
          .select(col("doc_id"), col("toks"))
        val bi = t.select(col("doc_id"),
            explode(transform(sequence(lit(0), size(col("toks")) - 2), i =>
              struct(element_at(col("toks"), i + 1).as("prev"),
                element_at(col("toks"), i + 2).as("tok")))).as("b"))
          .select(col("doc_id"), col("b.prev").as("prev"), col("b.tok").as("tok"))
        val cnt = bi.groupBy("prev", "tok").agg(count(lit(1)).as("c_bt"))
        val pc = cnt.groupBy("prev").agg(sum("c_bt").as("c_p"))
        val model = cnt.join(pc, Seq("prev"))
          .select(col("prev"), col("tok"),
            floor((lit(2000000L) * col("c_bt") + col("c_p"))
              / (lit(2) * col("c_p"))).cast("long").as("p_micro"))
        // materialize the DOC-SIZED score table once: both the cutoff
        // branch and the bucket-assignment branch read it, and without
        // the cut each branch re-ran the whole tokenize → bigram-explode
        // → model-join → per-doc-agg pipeline (measured: the two halves
        // of this query were stage-for-stage mirrors). Cutting scored
        // (doc_id, mean_micro — two longs per doc) subsumes the previous
        // one-row cutoff cut.
        val scored = bi.join(model, Seq("prev", "tok"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_bigrams"), sum("p_micro").as("s_micro"))
          .select(col("doc_id"),
            floor((lit(2) * col("s_micro") + col("n_bigrams"))
              / (lit(2) * col("n_bigrams"))).cast("long").as("mean_micro"))
          .cutLineage(true)
        // cutoff pass: histogram over distinct micro-values (value-sized,
        // never doc-sized), cumulative window over that frame, collapsed
        // to ONE (c1, c2) row — broadcast below so assignment is row-local
        val wCum = Window.orderBy(col("mean_micro").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wAll = Window.orderBy(col("mean_micro").desc)
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        val cuts = scored.groupBy("mean_micro").agg(count(lit(1)).as("c"))
          .withColumn("cum", sum("c").over(wCum))
          .withColumn("total", sum("c").over(wAll))
          .agg(
            max(when(col("cum") >= expr("(total + 2) div 3"),
              col("mean_micro"))).as("c1"),
            max(when(col("cum") >= expr("(2 * total + 2) div 3"),
              col("mean_micro"))).as("c2"))
        scored.crossJoin(broadcast(cuts))
          .select(col("doc_id"),
            (col("mean_micro") / lit(1000000.0)).as("mean_p"),
            when(col("mean_micro") >= col("c1"), lit("head"))
              .when(col("mean_micro") >= col("c2"), lit("middle"))
              .otherwise(lit("tail")).as("bucket"))
          .orderBy("doc_id")
      }),

    Q(
      "t_langid_markers",
      """Language-ID by marker-profile scoring: count marker hits per
        |profile, predict the argmax (ties resolve in profile order en, de,
        |fr, es, zh) — the n-gram-heuristic langid shape, as one scan-side
        |expression ladder.""".stripMargin,
      Some {
        val scoreSql = profiles.map { case (l, ws) =>
          s"len(list_filter(string_split(lower(trim(text)), ' '), t -> t IN (${ws.map(w => s"'$w'").mkString(",")}))) AS s_$l"
        }.mkString(",\n       ")
        val maxExpr = s"greatest(${profiles.map(p => s"s_${p._1}").mkString(", ")})"
        val ladder = profiles.map { case (l, _) => s"WHEN s_$l = $maxExpr THEN '$l'" }
          .mkString("CASE ", " ", " END")
        s"""WITH scored AS (
           |  SELECT doc_id, lang,
           |       $scoreSql
           |  FROM documents WHERE text IS NOT NULL)
           |SELECT doc_id, lang AS labeled_lang,
           |       ${profiles.map(p => s"s_${p._1}").mkString(", ")},
           |       $ladder AS predicted_lang
           |FROM scored
           |ORDER BY doc_id""".stripMargin
      },
      (s, dir) => {
        val scored = Tables.documents(s, dir).filter(col("text").isNotNull).select(
          Seq(col("doc_id"), col("lang").as("labeled_lang")) ++
            profiles.map { case (l, ws) => Text.markerHits(col("text"), ws).as(s"s_$l") }: _*)
        val maxScore = greatest(profiles.map(p => col(s"s_${p._1}")): _*)
        val ladder = profiles.tail.foldLeft(
          when(col(s"s_${profiles.head._1}") === maxScore, profiles.head._1)) {
          case (acc, (l, _)) => acc.when(col(s"s_$l") === maxScore, l)
        }
        scored
          .select((scored.columns.map(col).toSeq :+ ladder.as("predicted_lang")): _*)
          .orderBy("doc_id")
      }),

    Q(
      "t_bpe_tokens",
      """BPE-ish regex tokenization alongside whitespace tokens: runs of
        |letters, runs of digits, and single punctuation marks each count
        |as a token (the pre-tokenizer shape BPE vocabularies train over).
        |Reports both counts, their ratio, and an estimated
        |tokens-per-100-chars rate per source — the budgeting statistic a
        |training-data pipeline tracks. Scan-side regexp, one tiny
        |aggregate.""".stripMargin,
      Some(
        """SELECT source,
          |       COUNT(*) AS n_docs,
          |       CAST(SUM(len(string_split(lower(trim(text)), ' '))) AS BIGINT) AS ws_tokens,
          |       CAST(SUM(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS BIGINT) AS bpe_tokens,
          |       CAST(SUM(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS DOUBLE)
          |         / SUM(length(text)) * 100 AS tokens_per_100_chars
          |FROM documents
          |WHERE text IS NOT NULL
          |GROUP BY source
          |ORDER BY source""".stripMargin),
      (s, dir) => {
        val bpe = size(regexp_extract_all(lower(col("text")),
          lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))
        Tables.documents(s, dir)
          .filter(col("text").isNotNull)
          .groupBy("source")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(size(Text.tokens(col("text")))).as("ws_tokens"),
            sum(bpe).as("bpe_tokens"),
            (sum(bpe).cast("double") / sum(length(col("text"))) * 100)
              .as("tokens_per_100_chars"))
          .orderBy("source")
      }),

    Q(
      "t_fingerprints",
      """Document fingerprinting: byte-identity md5, a winnowing-style
        |rolling fingerprint (min md5 over 5-word windows — stable under
        |edits outside the minimizing window), and a 256-way shard bucket
        |from the fingerprint prefix (the partitioning key a 100 TB dedup
        |would shuffle on).""".stripMargin,
      Some(
        """SELECT doc_id,
          |       md5(text) AS fp,
          |       list_min(list_transform(
          |         list_transform(range(len(string_split(lower(trim(text)), ' ')) - 4),
          |           i -> concat_ws(' ',
          |                  string_split(lower(trim(text)), ' ')[i+1],
          |                  string_split(lower(trim(text)), ' ')[i+2],
          |                  string_split(lower(trim(text)), ' ')[i+3],
          |                  string_split(lower(trim(text)), ' ')[i+4],
          |                  string_split(lower(trim(text)), ' ')[i+5])),
          |         s -> md5(s))) AS winnow_fp,
          |       substr(md5(text), 1, 2) AS shard_bucket
          |FROM documents
          |ORDER BY doc_id""".stripMargin),
      (s, dir) =>
        Tables.documents(s, dir)
          .withColumn("toks", Text.tokens(col("text")))
          .select(
            col("doc_id"),
            Text.fingerprint(col("text")).as("fp"),
            Text.winnowOfTokens(col("toks"), 5).as("winnow_fp"),
            substring(Text.fingerprint(col("text")), 1, 2).as("shard_bucket"))
          .orderBy("doc_id")),

    Q(
      "t_repetition_quality",
      """Repetition-based quality filter (the Gopher/MassiveText rule
        |family): per document — distinct-token ratio, duplicate-trigram
        |fraction, and top-bigram fraction (share of bigram slots taken by
        |the single most frequent bigram), with a keep/drop flag over all
        |three. The oracle computes the top bigram the textbook way
        |(explode + GROUP BY + MAX); the engine gets the identical number
        |ROW-LOCALLY — sort the bigram array and fold the longest equal
        |run — so at 100 TB this runs entirely at the scan with zero
        |shuffle, while the explode form shuffles every bigram slot in
        |the corpus. Same semantics, better plan.""".stripMargin,
      Some(
        """WITH t AS (
          |  SELECT doc_id, string_split(lower(trim(text)), ' ') AS toks
          |  FROM documents WHERE text IS NOT NULL),
          |base AS (
          |  SELECT doc_id, len(toks) AS n_toks,
          |         len(list_distinct(toks)) AS n_uniq,
          |         list_transform(range(len(toks)-1),
          |           i -> toks[i+1] || ' ' || toks[i+2]) AS bgs,
          |         list_transform(range(len(toks)-2),
          |           i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]) AS tgs
          |  FROM t),
          |bgc AS (
          |  SELECT doc_id, MAX(c) AS top_c FROM (
          |    SELECT doc_id, bg, COUNT(*) AS c
          |    FROM (SELECT doc_id, unnest(bgs) AS bg FROM base) GROUP BY 1, 2)
          |  GROUP BY 1)
          |SELECT b.doc_id, b.n_toks,
          |       round(CAST(b.n_uniq AS DOUBLE) / b.n_toks, 6) AS uniq_token_ratio,
          |       round(1.0 - CAST(len(list_distinct(tgs)) AS DOUBLE)
          |               / NULLIF(len(tgs), 0), 6) AS dup_trigram_frac,
          |       round(CAST(g.top_c AS DOUBLE) / NULLIF(len(bgs), 0), 6) AS top_bigram_frac,
          |       (round(CAST(b.n_uniq AS DOUBLE) / b.n_toks, 6) >= 0.4
          |        AND round(1.0 - CAST(len(list_distinct(tgs)) AS DOUBLE)
          |                    / NULLIF(len(tgs), 0), 6) <= 0.02
          |        AND round(CAST(g.top_c AS DOUBLE) / NULLIF(len(bgs), 0), 6) <= 0.06)
          |         AS keep
          |FROM base b LEFT JOIN bgc g USING (doc_id)
          |ORDER BY doc_id""".stripMargin),
      (s, dir) => {
        // longest equal run in the SORTED bigram array == the explode/
        // groupBy/max count, computed without leaving the row
        val zero = struct(lit("").as("prev"), lit(0).as("run"), lit(0).as("best"))
        val topC = aggregate(array_sort(col("bgs")), zero,
          (acc, x) => {
            val run = when(x === acc.getField("prev"), acc.getField("run") + 1)
              .otherwise(lit(1))
            struct(x.as("prev"), run.as("run"),
              greatest(acc.getField("best"), run).as("best"))
          },
          acc => acc.getField("best"))
        val uniqRatio =
          round(col("n_uniq").cast("double") / col("n_toks"), 6)
        val dupTri = round(lit(1.0) - size(array_distinct(col("tgs"))).cast("double") /
          when(size(col("tgs")) > 0, size(col("tgs"))), 6)
        val topBg = round(topC.cast("double") /
          when(size(col("bgs")) > 0, size(col("bgs"))), 6)
        Tables.documents(s, dir)
          // null text would -1-poison the size()-derived ratios under the
          // session's legacy sizeOfNull (kept for perf — see GraftSession);
          // both engines drop such docs explicitly
          .filter(col("text").isNotNull)
          .withColumn("toks", Text.tokens(col("text")))
          .withColumn("bgs", Text.shinglesOfTokens(col("toks"), 2))
          .withColumn("tgs", Text.shinglesOfTokens(col("toks"), 3))
          .select(
            col("doc_id"),
            size(col("toks")).as("n_toks"),
            size(array_distinct(col("toks"))).as("n_uniq"),
            col("bgs"), col("tgs"))
          .select(
            col("doc_id"), col("n_toks"),
            uniqRatio.as("uniq_token_ratio"),
            dupTri.as("dup_trigram_frac"),
            topBg.as("top_bigram_frac"),
            (uniqRatio >= 0.4 && dupTri <= 0.02 && topBg <= 0.06).as("keep"))
          .orderBy("doc_id")
      }),

    Q(
      "t_vocab_topk",
      """Vocabulary building: global token frequencies with rank and
        |cumulative coverage share — the heavy-hitter pass a tokenizer
        |training run makes over the corpus. The token explode feeds a
        |partial->final hash aggregate (shuffle carries vocab
        |cardinality, not token occurrences); the rank/cumulative window
        |runs AFTER aggregation over vocab-sized data (fits one
        |partition at any corpus size — vocabularies are bounded).
        |Ties break by token text for determinism.""".stripMargin,
      Some(
        """WITH tok AS (SELECT unnest(string_split(lower(trim(text)), ' ')) AS token
          |             FROM documents),
          |cnt AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS n FROM tok GROUP BY 1)
          |SELECT token, n,
          |       CAST(row_number() OVER (ORDER BY n DESC, token) AS BIGINT) AS rank,
          |       round(CAST(SUM(n) OVER (ORDER BY n DESC, token
          |                               ROWS UNBOUNDED PRECEDING) AS DOUBLE)
          |             / (SELECT SUM(n) FROM cnt), 6) AS cum_share
          |FROM cnt
          |ORDER BY rank""".stripMargin),
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val cnt = Tables.documents(s, dir)
          .select(explode(Text.tokens(col("text"))).as("token"))
          .groupBy("token")
          .agg(count(lit(1)).as("n"))
        // total corpus tokens as a FULL-FRAME sum over the same window
        // sort — one scan, one agg, one window; a separate agg+crossJoin
        // would scan and explode the corpus twice
        val w = Window.orderBy(col("n").desc, col("token"))
        val cum = sum("n").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        val tot = sum("n").over(
          w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        cnt.select(
          col("token"), col("n"),
          row_number().over(w).cast("long").as("rank"),
          round(cum.cast("double") / tot, 6).as("cum_share"))
          .orderBy("rank")
      }),

    Q(
      "t_boilerplate_lines",
      """Boilerplate-line removal (the CCNet/RefinedWeb scrub): documents
        |are split into lines (10-token chunks here — the corpus has no
        |newlines — plus closed-form injected header/footer lines standing
        |in for the shared boilerplate real crawls carry), a corpus-wide
        |frequency pass finds lines present in >= 5% of documents, and
        |each document drops exactly those lines. Scale shape: the
        |frequency agg is line-cardinality with map-side partials; the
        |boilerplate SET is aggregated to one tiny array row and
        |broadcast, so the removal itself is row-local — the corpus is
        |never shuffled to be cleaned. Output: per-doc line counts and
        |the cleaned text, hash-compared.""".stripMargin,
      Some(
        """WITH d AS (
          |  SELECT doc_id, string_split(lower(trim(text)), ' ') AS ws
          |  FROM documents WHERE text IS NOT NULL),
          |lined AS (
          |  SELECT doc_id,
          |         (CASE WHEN doc_id % 3 <> 0
          |               THEN ['copyright acme corp all rights reserved']
          |               ELSE [] END)
          |         || list_transform(range(CAST(ceil(len(ws) / 10.0) AS INT)),
          |              i -> array_to_string(ws[i*10+1 : i*10+10], ' '))
          |         || (CASE WHEN doc_id % 5 = 0
          |                  THEN ['subscribe to our newsletter today']
          |                  ELSE [] END) AS ls
          |  FROM d),
          |freq AS (
          |  SELECT l AS line, COUNT(*) AS n
          |  FROM (SELECT DISTINCT doc_id, unnest(ls) AS l FROM lined)
          |  GROUP BY 1),
          |boiler AS (
          |  SELECT COALESCE(list_sort(list(line)), []) AS barr
          |  FROM freq WHERE n >= 0.05 * (SELECT COUNT(*) FROM d))
          |SELECT doc_id,
          |       CAST(len(ls) AS BIGINT) AS n_lines,
          |       CAST(len(ls) - len(list_filter(ls, x -> NOT list_contains(barr, x)))
          |            AS BIGINT) AS n_removed,
          |       array_to_string(list_filter(ls, x -> NOT list_contains(barr, x)),
          |                       chr(10)) AS cleaned
          |FROM lined, boiler
          |ORDER BY doc_id""".stripMargin),
      (s, dir) => {
        val header = "copyright acme corp all rights reserved"
        val footer = "subscribe to our newsletter today"
        val emptyArr = array().cast("array<string>")
        val lined = Tables.documents(s, dir)
          .filter(col("text").isNotNull)
          .withColumn("ws", Text.tokens(col("text")))
          .withColumn("ls", concat(
            when(pmod(col("doc_id"), lit(3)) =!= 0, array(lit(header))).otherwise(emptyArr),
            transform(
              sequence(lit(0), ceil(size(col("ws")) / 10.0).cast("int") - 1),
              i => concat_ws(" ", slice(col("ws"), i * 10 + 1, lit(10)))),
            when(pmod(col("doc_id"), lit(5)) === 0, array(lit(footer))).otherwise(emptyArr)))
          .select(col("doc_id"), col("ls"))
        // corpus-wide line frequencies (per-doc distinct), then the
        // boilerplate SET as ONE sorted-array row — broadcast below so
        // the removal is row-local and the corpus never shuffles
        val freq = lined
          .select(col("doc_id"), explode(array_distinct(col("ls"))).as("line"))
          .groupBy("line").agg(count(lit(1)).as("n"))
        val nDocs = lined.select(count(lit(1)).as("total"))
        val boiler = freq.crossJoin(broadcast(nDocs))
          .filter(col("n") >= lit(0.05) * col("total"))
          .agg(sort_array(collect_list(col("line"))).as("barr"))
        // keep is materialized ONCE into a named column: higher-order
        // functions get no common-subexpression elimination (Text.scala
        // shingle comment), so inlining it twice would run the
        // O(lines x |barr|) filter twice per row
        lined.crossJoin(broadcast(boiler))
          .withColumn("keep", filter(col("ls"), x => !array_contains(col("barr"), x)))
          .select(
            col("doc_id"),
            size(col("ls")).cast("long").as("n_lines"),
            (size(col("ls")) - size(col("keep"))).cast("long").as("n_removed"),
            concat_ws("\n", col("keep")).as("cleaned"))
          .orderBy("doc_id")
      }),

    Q(
      "t_pii_scrub",
      """PII detection + redaction — the compliance scrub stage of a
        |training-data pipeline: per-document counts of emails, phone
        |numbers, and IPv4 addresses, plus the redacted text with each
        |occurrence replaced by its [EMAIL]/[PHONE]/[IP] tag. The synthetic
        |corpus is digit-free, so (same pattern as mm_decode_stats) both
        |sides first augment each document with PII built as a closed-form
        |function of doc_id; the detection/redaction regexes then run for
        |real, and the oracle proves the counts and the full redacted
        |string byte-for-byte. Regexes use the Java/RE2 common subset so
        |Spark and DuckDB compile them identically. Scan-side row-local
        |work: zero shuffle at any corpus size except the output-contract
        |sort.""".stripMargin,
      Some(
        """WITH aug AS (
          |  SELECT doc_id,
          |         text || ' contact u' || CAST(doc_id AS VARCHAR)
          |              || '@mail.example.com or call +1 555 '
          |              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
          |              || ' node 10.' || CAST(doc_id % 256 AS VARCHAR)
          |              || '.0.' || CAST(doc_id % 250 AS VARCHAR) || ' end' AS t
          |  FROM documents WHERE text IS NOT NULL)
          |SELECT doc_id,
          |       CAST(len(regexp_extract_all(t,
          |         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
          |       CAST(len(regexp_extract_all(t,
          |         '\+1 [0-9]{3} [0-9]{4}')) AS BIGINT) AS n_phone,
          |       CAST(len(regexp_extract_all(t,
          |         '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS BIGINT) AS n_ip,
          |       regexp_replace(regexp_replace(regexp_replace(t,
          |         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
          |         '\+1 [0-9]{3} [0-9]{4}', '[PHONE]', 'g'),
          |         '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '[IP]', 'g') AS redacted
          |FROM aug
          |ORDER BY doc_id""".stripMargin),
      (s, dir) => {
        val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
        val phoneRe = "\\+1 [0-9]{3} [0-9]{4}"
        val ipRe = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
        // email is redacted first so the phone/ip passes never see its
        // digits; the trailing literal guards the last pattern's edge
        Tables.documents(s, dir)
          .filter(col("text").isNotNull)
          .withColumn("t", concat(
            col("text"), lit(" contact u"), col("doc_id").cast("string"),
            lit("@mail.example.com or call +1 555 "),
            lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
            lit(" node 10."), pmod(col("doc_id"), lit(256)).cast("string"),
            lit(".0."), pmod(col("doc_id"), lit(250)).cast("string"), lit(" end")))
          .select(
            col("doc_id"),
            regexp_count(col("t"), lit(emailRe)).cast("long").as("n_email"),
            regexp_count(col("t"), lit(phoneRe)).cast("long").as("n_phone"),
            regexp_count(col("t"), lit(ipRe)).cast("long").as("n_ip"),
            regexp_replace(regexp_replace(regexp_replace(col("t"),
              lit(emailRe), lit("[EMAIL]")),
              lit(phoneRe), lit("[PHONE]")),
              lit(ipRe), lit("[IP]")).as("redacted"))
          .orderBy("doc_id")
      }),

    Q(
      "t_keyword_search",
      """Keyword search over an inverted index: build postings (token ->
        |(doc, tf, doclen)) for the probe terms, weight by a LOG-FREE
        |rational tf-idf (score = tf * 10^12 * (N - df + 1) div
        |(doclen * N), pure bigint — libm log diverges across engines in
        |the last ulp, so the idf factor is the rational surrogate
        |(N - df + 1), monotone in rarity), and return the top-5 documents
        |per term. Scale shape: the probe-term filter lands directly on
        |the exploded token stream (postings for non-probe terms are
        |never aggregated); df rides a count window over the SAME token
        |partitioning the tf aggregate just created (no second shuffle,
        |no join); the per-term top-5 uses the native bounded-heap
        |aggregate, so the final shuffle carries 5 rows per term —
        |row_number would shuffle every posting. Doc-count N is a one-row
        |broadcast.""".stripMargin,
      Some(
        """WITH d AS (
          |  SELECT doc_id, string_split(lower(trim(text)), ' ') AS toks
          |  FROM documents),
          |nn AS (SELECT COUNT(*) AS n FROM d),
          |post AS (
          |  SELECT doc_id, len(toks) AS doclen, unnest(toks) AS token FROM d),
          |tf AS (
          |  SELECT token, doc_id, doclen, CAST(COUNT(*) AS BIGINT) AS tf
          |  FROM post
          |  WHERE token IN ('spark', 'merge', 'stream', 'vector', 'window')
          |  GROUP BY 1, 2, 3),
          |sc AS (
          |  SELECT token, doc_id, tf,
          |         tf * 1000000000000 *
          |           (nn.n - CAST(COUNT(*) OVER (PARTITION BY token) AS BIGINT) + 1)
          |           // (doclen * nn.n) AS score_micro
          |  FROM tf, nn)
          |SELECT token, rank, doc_id, score_micro FROM (
          |  SELECT token, doc_id, score_micro,
          |         CAST(row_number() OVER (PARTITION BY token
          |           ORDER BY score_micro DESC, doc_id) AS BIGINT) AS rank
          |  FROM sc) WHERE rank <= 5
          |ORDER BY token, rank""".stripMargin),
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val probes = Seq("spark", "merge", "stream", "vector", "window")
        val d = Tables.documents(s, dir)
          .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
        val nn = d.agg(count(lit(1)).as("n"))
        val tf = d
          .select(col("doc_id"), size(col("toks")).cast("long").as("doclen"),
            explode(col("toks")).as("token"))
          .filter(col("token").isin(probes: _*))
          .groupBy("token", "doc_id", "doclen")
          .agg(count(lit(1)).as("tf"))
        val sc = tf
          .withColumn("df", count(lit(1)).over(Window.partitionBy("token")))
          .crossJoin(broadcast(nn))
          .withColumn("score_micro",
            expr("tf * 1000000000000 * (n - df + 1) div (doclen * n)"))
        // pack (score, doc) through the bounded-heap aggregate: score
        // DESC, id ASC ties — identical to the oracle's row_number order
        sc.groupBy("token")
          .agg(Vectors.topKByScore(
            col("score_micro").cast("double"), col("doc_id"), 5).as("top"))
          .select(col("token"), posexplode(col("top")))
          .select(col("token"), (col("pos") + 1).cast("long").as("rank"),
            col("col.id").as("doc_id"),
            col("col.score").cast("long").as("score_micro"))
          .orderBy("token", "rank")
      }),

    Q(
      "t_bpe_train_merges",
      """BPE tokenizer TRAINING (Sennrich et al. 2016), 3 merge rounds:
        |count adjacent symbol pairs, merge the most frequent pair
        |corpus-wide, repeat. The industrial-scale structure: training
        |runs on the WORD-FREQUENCY table (the corpus streams once into
        |word counts; every merge round then works on vocab-sized data —
        |exactly how production BPE trainers stay tractable at 100 TB).
        |Each round = pair fan-out (guarded: words already collapsed to
        |one symbol emit none) -> weighted pair counts -> global best by
        |(count DESC, pair ASC) as a one-row sort-limit -> broadcast ->
        |row-local greedy left-to-right remerge fold (a merged symbol is
        |strictly longer than either side, so the fold cannot re-trigger
        |on its own output within a round). Both engines fold words
        |left-to-right with identical tie-breaks, so the final
        |segmentations match byte-for-byte. Output: each word's
        |segmentation after 3 merges.""".stripMargin,
      Some(
        s"""WITH $bpeOracleCtes
           |SELECT word, n, array_to_string(syms, ' ') AS seg,
           |       CAST(len(syms) AS BIGINT) AS n_syms
           |FROM s3 ORDER BY word""".stripMargin),
      (s, dir) =>
        bpeSegmentation(s, dir)
          .select(col("word"), col("n"),
            concat_ws(" ", col("syms")).as("seg"),
            size(col("syms")).cast("long").as("n_syms"))
          .orderBy("word")),

    Q(
      "t_bpe_apply",
      """BPE tokenizer APPLICATION — the encode side of
        |t_bpe_train_merges, the way a corpus is actually tokenized at
        |scale: the trained per-word segmentation (vocab-sized) becomes a
        |BROADCAST lookup table, and each document's token stream joins
        |it row-locally — the corpus never shuffles to be encoded. Output
        |per document: word count, subword count after the 3 trained
        |merges, and fertility (subwords per word) in integer ppm — the
        |metric tokenizer evaluations report. The training CTE chain is
        |shared verbatim with t_bpe_train_merges, so the applied
        |segmentation is the proven one.""".stripMargin,
      Some(
        s"""WITH $bpeOracleCtes,
           |seg AS (SELECT word, CAST(len(syms) AS BIGINT) AS n_syms FROM s3),
           |dw AS (
           |  SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS word
           |  FROM documents)
           |SELECT dw.doc_id,
           |       CAST(COUNT(*) AS BIGINT) AS n_words,
           |       CAST(SUM(seg.n_syms) AS BIGINT) AS n_subwords,
           |       CAST(SUM(seg.n_syms) AS BIGINT) * 1000000 // COUNT(*)
           |         AS fertility_ppm
           |FROM dw JOIN seg ON dw.word = seg.word
           |GROUP BY dw.doc_id
           |ORDER BY dw.doc_id""".stripMargin),
      (s, dir) => {
        val seg = bpeSegmentation(s, dir)
          .select(col("word"), size(col("syms")).cast("long").as("n_syms"))
        Tables.documents(s, dir)
          .select(col("doc_id"), explode(Text.tokens(col("text"))).as("word"))
          .join(broadcast(seg), "word")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_words"), sum(col("n_syms")).as("n_subwords"))
          .withColumn("fertility_ppm",
            expr("n_subwords * 1000000 div n_words"))
          .orderBy("doc_id")
      }),

    Q(
      "t_dup_span_removal",
      """Duplicated-span REMOVAL — the step after dd_substring_spans'
        |detection (Lee et al. 2022 cut the repeated substring out of the
        |corpus, not just count it): every 8-token window whose hash
        |appears in >= 2 distinct documents marks its [start, start+8)
        |token interval; intervals MERGE per document (running-max-end
        |window — overlapping windows coalesce into maximal spans) and
        |the output is each document's cleaning manifest: token count,
        |merged span count, covered tokens, surviving tokens, and removed
        |ppm. Scale shape: duplicate-hash doc-frequency runs on the
        |(hash, doc) pair frame (map-side position dedup), the join back
        |carries ONLY duplicated hashes (collision-sized, bucketable by
        |hash), and the merge windows partition by doc_id — nothing
        |global, nothing corpus × corpus.""".stripMargin,
      Some(
        """WITH t AS (
          |  SELECT doc_id, string_split(lower(trim(text)), ' ') AS toks
          |  FROM documents
          |  WHERE text IS NOT NULL
          |    AND len(string_split(lower(trim(text)), ' ')) >= 8),
          |w AS (
          |  SELECT doc_id, CAST(i AS BIGINT) AS start,
          |         md5(concat_ws(' ', toks[i+1], toks[i+2], toks[i+3],
          |                            toks[i+4], toks[i+5], toks[i+6],
          |                            toks[i+7], toks[i+8])) AS h
          |  FROM t, LATERAL (SELECT unnest(range(len(toks) - 7)) AS i)),
          |d AS (
          |  SELECT h FROM (SELECT h, COUNT(DISTINCT doc_id) AS nd FROM w GROUP BY h)
          |  WHERE nd >= 2),
          |dw AS (SELECT w.doc_id, w.start FROM w JOIN d ON w.h = d.h),
          |m AS (
          |  SELECT doc_id, start,
          |         MAX(start + 8) OVER (PARTITION BY doc_id ORDER BY start
          |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
          |  FROM dw),
          |g AS (
          |  SELECT doc_id, start,
          |         CAST(SUM(CASE WHEN pmax IS NULL OR start >= pmax THEN 1 ELSE 0 END)
          |              OVER (PARTITION BY doc_id ORDER BY start
          |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |           AS BIGINT) AS grp
          |  FROM m),
          |sp AS (
          |  SELECT doc_id, grp, MIN(start) AS s0, MAX(start) + 8 AS e0
          |  FROM g GROUP BY 1, 2),
          |cov AS (
          |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
          |         CAST(SUM(e0 - s0) AS BIGINT) AS covered_tokens
          |  FROM sp GROUP BY 1),
          |n AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens FROM t)
          |SELECT n.doc_id, n.n_tokens,
          |       COALESCE(cov.n_spans, 0) AS n_spans,
          |       COALESCE(cov.covered_tokens, 0) AS covered_tokens,
          |       n.n_tokens - COALESCE(cov.covered_tokens, 0) AS clean_tokens,
          |       COALESCE(cov.covered_tokens, 0) * 1000000 // n.n_tokens
          |         AS removed_ppm
          |FROM n LEFT JOIN cov ON n.doc_id = cov.doc_id
          |ORDER BY n.doc_id""".stripMargin),
      (s, dir) => {
        // toks arrays feed both the window fan-out and the per-doc token
        // count: materialize once (tokenize is the expensive half); the
        // cut inherits the spread scan's partitioning (Tables.documents)
        val t = Tables.documents(s, dir)
          .withColumn("toks", Text.tokens(col("text")))
          .filter(col("text").isNotNull && size(col("toks")) >= 8)
          .select(col("doc_id"), col("toks"))
          .cutLineage()
        val w = t
          .select(col("doc_id"),
            posexplode(transform(Text.shinglesOfTokens(col("toks"), 8),
              sh => md5(sh))))
          .select(col("doc_id"), col("pos").cast("bigint").as("start"),
            col("col").as("h"))
        // duplicated-hash set from the (hash, doc) pair frame — map-side
        // partials collapse positions, and only nd >= 2 hashes join back
        val d = w.groupBy("h", "doc_id").agg(count(lit(1)).as("c"))
          .groupBy("h").agg(count(lit(1)).as("nd"))
          .filter(col("nd") >= 2).select("h")
        val byDoc = Window.partitionBy("doc_id").orderBy("start")
        val dw = w.join(d, "h")
          .withColumn("pmax", max(col("start") + 8)
            .over(byDoc.rowsBetween(Window.unboundedPreceding, -1)))
          .withColumn("grp",
            sum(when(col("pmax").isNull || col("start") >= col("pmax"), 1L)
              .otherwise(0L))
              .over(byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        val cov = dw.groupBy("doc_id", "grp")
          .agg(min("start").as("s0"), (max(col("start")) + 8).as("e0"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_spans"),
            sum(col("e0") - col("s0")).as("covered_tokens"))
        t.select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"))
          .join(cov, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_tokens"),
            coalesce(col("n_spans"), lit(0L)).as("n_spans"),
            coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
            (col("n_tokens") - coalesce(col("covered_tokens"), lit(0L)))
              .as("clean_tokens"),
            expr("coalesce(covered_tokens, 0L) * 1000000 div n_tokens")
              .as("removed_ppm"))
          .orderBy("doc_id")
      }),

    Q(
      "t_phrase_positions",
      """Positional phrase matching — the adjacency query a bag-of-words
        |index (t_keyword_search) cannot answer: count occurrences of
        |exact two-word phrases ("hash join", "table scan", "fast
        |merge") where order and adjacency matter. Engine shape: the
        |token array materializes ONCE per document into a named column
        |(HOF results get no CSE — the skill-file rule), the 3-row
        |phrase table broadcasts, and the position walk is a single
        |row-local lambda per (doc, phrase) — filter over the position
        |range testing toks[i]/toks[i+1] — so the corpus is scanned
        |once with ZERO shuffle before the per-phrase rollup
        |(phrase-cardinality-sized). Per phrase: documents hit, total
        |occurrences, densest document (max count, min doc id on ties).
        |The argmax deliberately AVOIDS a phrase-partitioned window
        |over the hit rows — 3 phrase partitions would funnel every hit
        |row through 3 tasks at corpus scale — and instead collapses to
        |the (phrase, count) VALUE-DOMAIN frame in one map-side-
        |combinable aggregate (counts are small integers, so the frame
        |is tiny at any corpus size) and windows over THAT. The
        |positional self-join formulation would shuffle the full token
        |stream twice; the row-local fold is the 100 TB shape.""".stripMargin,
      Some(
        """WITH ph AS (
          |  SELECT * FROM (VALUES ('hash', 'join'), ('table', 'scan'),
          |                        ('fast', 'merge')) AS t(w1, w2)),
          |d AS (
          |  SELECT doc_id, string_split(lower(trim(text)), ' ') AS toks
          |  FROM documents WHERE text IS NOT NULL),
          |hits AS (
          |  SELECT ph.w1 || ' ' || ph.w2 AS phrase, d.doc_id,
          |         CAST(len(list_filter(range(1, len(d.toks)),
          |           i -> d.toks[i] = ph.w1 AND d.toks[i + 1] = ph.w2))
          |           AS BIGINT) AS cnt
          |  FROM d CROSS JOIN ph),
          |h AS (SELECT * FROM hits WHERE cnt > 0),
          |mx AS (SELECT h.*, MAX(cnt) OVER (PARTITION BY phrase) AS m
          |       FROM h)
          |SELECT phrase,
          |       CAST(COUNT(*) AS BIGINT) AS n_docs,
          |       CAST(SUM(cnt) AS BIGINT) AS occurrences,
          |       CAST(MAX(cnt) AS BIGINT) AS max_in_doc,
          |       CAST(MIN(CASE WHEN cnt = m THEN doc_id END) AS BIGINT)
          |         AS top_doc
          |FROM mx GROUP BY phrase ORDER BY phrase""".stripMargin),
      (s, dir) => {
        val ph = s.createDataFrame(Seq(
          ("hash", "join"), ("table", "scan"), ("fast", "merge")))
          .toDF("w1", "w2")
        val d = Tables.documents(s, dir)
          .filter(col("text").isNotNull)
          .select(col("doc_id"),
            split(lower(trim(col("text"))), " ").as("toks"))
        val hits = d.crossJoin(broadcast(ph))
          .select(concat_ws(" ", col("w1"), col("w2")).as("phrase"),
            col("doc_id"),
            // sequence(1, n) flips DESCENDING when n < 1 (a 1-token doc),
            // so the range runs to size(toks) and the i < size guard
            // excludes the last position instead
            expr("""cast(size(filter(sequence(1, size(toks)),
                   |i -> i < size(toks) AND element_at(toks, i) = w1
                   |  AND element_at(toks, i + 1) = w2)) as bigint)"""
              .stripMargin).as("cnt"))
          .filter(col("cnt") > 0)
        // collapse to the (phrase, cnt) value domain first: ONE pass over
        // the corpus, map-side combinable; the argmax window then runs
        // over the tiny collapsed frame, never the per-doc hit stream
        val g = hits.groupBy("phrase", "cnt")
          .agg(count(lit(1)).as("n"), min("doc_id").as("doc_min"))
        g.withColumn("m", max("cnt").over(Window.partitionBy("phrase")))
          .groupBy("phrase")
          .agg(sum("n").as("n_docs"),
            sum(col("cnt") * col("n")).as("occurrences"),
            max("cnt").as("max_in_doc"),
            min(when(col("cnt") === col("m"), col("doc_min"))).as("top_doc"))
          .select(col("phrase"), col("n_docs").cast("long").as("n_docs"),
            col("occurrences").cast("long").as("occurrences"),
            col("max_in_doc"), col("top_doc").cast("long").as("top_doc"))
          .orderBy("phrase")
      }))

  /** The shared BPE-training oracle CTE chain: word frequencies ->
    * char-split s0 -> three (pairs, best, merge) rounds -> s3(word, n,
    * syms). Used verbatim by both t_bpe_train_merges and t_bpe_apply. */
  private lazy val bpeOracleCtes: String = {
    val mergeT = (s: String, b: String) =>
      s"""SELECT word, n,
         |  list_reduce(list_transform(syms, s -> [s]), (acc, s1) ->
         |    CASE WHEN len(acc) > 0 AND acc[-1] = $b.x AND s1[1] = $b.y
         |         THEN list_append(acc[1:len(acc)-1], $b.x || $b.y)
         |         ELSE list_append(acc, s1[1]) END) AS syms
         |FROM $s, $b""".stripMargin
    val pairsT = (s: String) =>
      s"""SELECT syms[CAST(i AS INTEGER)] AS x, syms[CAST(i+1 AS INTEGER)] AS y,
         |       CAST(SUM(n) AS BIGINT) AS cnt
         |FROM $s, LATERAL (SELECT unnest(range(1, len(syms))) AS i)
         |GROUP BY 1, 2""".stripMargin
    val bestT = (p: String) =>
      s"SELECT x, y FROM $p ORDER BY cnt DESC, x, y LIMIT 1"
    s"""wf AS (
       |  SELECT token AS word, CAST(COUNT(*) AS BIGINT) AS n
       |  FROM (SELECT unnest(string_split(lower(trim(text)), ' ')) AS token
       |        FROM documents)
       |  GROUP BY 1),
       |s0 AS (SELECT word, n, string_split(word, '') AS syms FROM wf),
       |p1 AS (${pairsT("s0")}),
       |b1 AS (${bestT("p1")}),
       |s1 AS (${mergeT("s0", "b1")}),
       |p2 AS (${pairsT("s1")}),
       |b2 AS (${bestT("p2")}),
       |s2 AS (${mergeT("s1", "b2")}),
       |p3 AS (${pairsT("s2")}),
       |b3 AS (${bestT("p3")}),
       |s3 AS (${mergeT("s2", "b3")})""".stripMargin
  }

  /** The shared Spark-side BPE training loop: word frequencies, 3 rounds
    * of (pair count -> one-row sort-limit best -> broadcast -> row-local
    * greedy remerge fold); returns (word, n, syms). */
  private def bpeSegmentation(s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    val wf = Tables.documents(s, dir)
      .select(explode(Text.tokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
    // Un-cut, round r's pair count re-derived rounds 1..r-1's merge folds
    // — and t_bpe_apply's final segmentation re-ran all three — over the
    // vocabulary, serially in the one AQE-coalesced partition (measured
    // ~1 s of the query at sf0.1). The LAST round stays un-cut so the
    // final plan keeps the sort-limit + broadcast best-pair shape
    // PlanShapeSpec pins (the cut rounds run the identical shape inside
    // their materialization jobs). The seed state is cut too: round 1
    // reads it twice (best-pair subtree + merge subtree), and un-cut both
    // re-ran the corpus word-count map.
    val seed = wf.withColumn("syms", split(col("word"), "")).cutLineage()
    iterate(seed, 3, last = LastRound.Uncut) { (st, _) =>
      val pairs = st
        .select(col("n"), expr(
          """CASE WHEN size(syms) >= 2
            |THEN transform(sequence(1, size(syms) - 1), i ->
            |       named_struct('x', element_at(syms, i),
            |                    'y', element_at(syms, i + 1)))
            |ELSE CAST(array() AS ARRAY<STRUCT<x: STRING, y: STRING>>)
            |END""".stripMargin).as("ps"))
        .select(col("n"), explode(col("ps")).as("p"))
        .groupBy(col("p.x").as("x"), col("p.y").as("y"))
        .agg(sum(col("n")).as("cnt"))
      val best = pairs.orderBy(col("cnt").desc, col("x"), col("y"))
        .limit(1).select(col("x").as("bx"), col("y").as("by"))
      st.crossJoin(broadcast(best))
        .withColumn("syms", expr(
          """aggregate(syms, CAST(array() AS ARRAY<STRING>), (acc, s) ->
            |  IF(size(acc) > 0 AND element_at(acc, -1) = bx AND s = by,
            |     concat(slice(acc, 1, size(acc) - 1), array(concat(bx, by))),
            |     concat(acc, array(s))))""".stripMargin))
        .drop("bx", "by")
    }.frame
  }
}
