package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reference formulations of operators whose production form was
  * rewritten. Each is the plan the rewrite replaced, kept only as an
  * oracle: OpsSpec pins the production operator against it. */
object OracleForms {

  /** Per-occurrence form of [[TextAnalysis.unigramNll]]: one row per
    * token occurrence, plain avg per doc. Oracle for the weighted
    * kernel form (exact n_tokens, nll equal at the 6dp contract). */
  def unigramNllOccurrenceForm(df0: DataFrame, idCol: String,
      textCol: String, broadcastMinCount: Long = 1L,
      maxBroadcastVocab: Long = 8000000L): DataFrame = {
    val df = Par.ensure(df0)
    val tok = df.select(col(idCol), explode(Dedup.tokens(col(textCol))).as("__t"))
    val counts = Caches.track(tok.groupBy("__t").agg(count(lit(1)).as("__c")))
    val stats = counts.agg(sum(col("__c")).as("__total"),
      count(when(col("__c") > broadcastMinCount, lit(1))).as("__nkept")).head
    val total = stats.getLong(0)
    val common = counts.filter(col("__c") > broadcastMinCount)
    val joinTable = if (stats.getLong(1) <= maxBroadcastVocab)
      broadcast(common) else common
    tok.join(joinTable, Seq("__t"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        avg(-log(coalesce(col("__c"), lit(broadcastMinCount)).cast("double") /
          lit(total.toDouble))).as("nll"))
  }

  /** Back-join form of [[TextAnalysis.bigramNll]]: an inner explode
    * drops under-two-token docs entirely, and a back-join against the
    * id column recovers them as (0, 0.0) rows. Oracle for the fused
    * outer-explode form, which saves this third corpus pass and the
    * doc-keyed join. */
  def bigramNllBackJoin(df0: DataFrame, idCol: String, textCol: String,
      broadcastMinCount: Long = 1L,
      maxBroadcastVocab: Long = 8000000L): DataFrame = {
    val df = Par.ensureBy(df0, col(idCol))
    val bg = df.select(col(idCol),
        explode(TextExprs.bigrams(col(textCol))).as("__p"))
      .select(col(idCol), col("__p.a").as("__a"), col("__p.b").as("__b"))
    val pairCounts = Caches.track(bg.groupBy(col("__a"), col("__b"))
      .agg(count(lit(1)).as("__cab")))
    def floored(counts0: DataFrame, key: String): DataFrame = {
      val counts = counts0.filter(col(s"__c$key") > broadcastMinCount)
      if (counts.count() <= maxBroadcastVocab) broadcast(counts) else counts
    }
    val cb = floored(pairCounts.select(col("__b"), col("__cab").as("__c__b")), "__b")
    val ca = floored(pairCounts.groupBy(col("__a"))
      .agg(sum(col("__cab")).as("__c__a")), "__a")
    val nllTerm = -log(
      coalesce(col("__c__b"), lit(broadcastMinCount)).cast("double") /
        coalesce(col("__c__a"), lit(broadcastMinCount)).cast("double"))
    val scored = bg
      .join(cb, Seq("__b"), "left")
      .join(ca, Seq("__a"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), avg(nllTerm).as("bigram_nll"))
    df.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .na.fill(0L, Seq("n_bigrams"))
      .na.fill(0.0, Seq("bigram_nll"))
  }

  /** Explode + distinct + window form of the span merge in
    * [[Dedup.substringSpansCompute]]: every covered token position is
    * materialized and islands are found with a row_number window.
    * Bit-equality oracle for the interval-merge kernel. */
  def substringSpansWindowForm(df: DataFrame, textCol: String,
      idCol: String, windowTokens: Int, minDocs: Int): DataFrame = {
    val W = windowTokens
    val wins = Par.ensure(df.select(col(idCol).as("__id"),
        TextExprs.windowHashes(col(textCol), W).as("__hs")))
      .select(col("__id"), posexplode(col("__hs")))
      .withColumnRenamed("pos", "__p").withColumnRenamed("col", "__h")
    val flagged = wins.groupBy("__h")
      .agg(countDistinct(col("__id")).as("__df"))
      .filter(col("__df") >= minDocs)
      .select("__h")
    val covered = wins.join(flagged, Seq("__h"))
      .select(col("__id"),
        explode(sequence(col("__p"), col("__p") + lit(W - 1))).as("__t"))
      .distinct()
    // islands: consecutive covered positions share (t - row_number)
    val byDoc = Window.partitionBy("__id").orderBy("__t")
    covered.withColumn("__g", col("__t") - row_number().over(byDoc))
      .groupBy(col("__id"), col("__g"))
      .agg(min("__t").cast("long").as("span_start"),
        max("__t").cast("long").as("span_end"),
        count(lit(1)).as("span_tokens"))
      .select(col("__id").as(idCol), col("span_start"), col("span_end"),
        col("span_tokens"))
  }

  /** Plain-window form of [[TextAnalysis.stratifiedSample]]: rank every
    * row of a stratum. Bit-equality oracle for the threshold-cut path. */
  def stratifiedSampleWindow(df: DataFrame, stratumCol: String,
      idCol: String, k: Int): DataFrame = {
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(Corpus.mixKey(col(idCol)), col(idCol))
    df.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k)
      .drop("__rk")
  }

  /** Plain-window form of [[Corpus.mixtureSample]]: exact, but funnels
    * each source through one reducer sort. Bit-equality oracle for the
    * threshold-cut path. */
  def mixtureSampleWindow(df: DataFrame, sourceCol: String,
      idCol: String, parts: Map[String, Int]): DataFrame = {
    require(parts.nonEmpty && parts.values.forall(_ > 0),
      "mixture parts must be positive integers")
    val quotas = Corpus.mixtureQuotas(df, sourceCol, parts)
      .select(col(sourceCol), col("__quota"))
    val w = Window.partitionBy(col(sourceCol))
      .orderBy(Corpus.mixKey(col(idCol)), col(idCol))
    df.join(broadcast(quotas), sourceCol)
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= col("__quota"))
      .drop("__rk", "__quota")
  }
}
