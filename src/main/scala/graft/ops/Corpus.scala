package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-organization operators for training-data pipelines (SURVEY
  * §2.11): mixture resampling to a target source distribution and
  * deterministic shard layout. Both are RNG-free — selection and
  * placement derive from a fixed integer mix of the document id, so a
  * re-run (or a different engine) reproduces the exact same corpus. */
object Corpus {

  private[graft] val MixMod = 4294967296L // 2^32

  /** Knuth multiplicative mix of an integer id onto [0, 2^32): the
    * deterministic stand-in for a uniform random draw, shared by every
    * sampling/placement op in the engine ([[mixtureSample]],
    * [[TextAnalysis.stratifiedSample]], [[shardAssign]],
    * [[packWindows]]) so they all agree on what "a random-but-
    * reproducible order" means.
    *
    * Semantics: ((id mod 2^32) * 2654435761 + 1013904223) mod 2^32,
    * with the multiply split into 16-bit halves so no intermediate
    * exceeds 2^48. The naive `id * 2654435761` overflows Long for ids
    * above ~3.47e9 — where Spark (non-ANSI) wraps silently but an ANSI
    * engine errors — exactly the id range a 100-TB corpus reaches. The
    * decomposition is plain integer arithmetic reproducible bit-for-bit
    * in any engine over the FULL long range, and equals the naive
    * formula wherever that doesn't overflow. */
  private[graft] def mixKey(idCol: Column): Column = {
    val id32 = pmod(idCol.cast("long"), lit(MixMod))
    val hi = shiftright(id32, 16) // < 2^16; id32 >= 0 so the shift is safe
    val lo = id32.bitwiseAND(lit(65535L))
    pmod(
      pmod(hi * lit(2654435761L), lit(65536L)) * lit(65536L) +
        lo * lit(2654435761L) + lit(1013904223L),
      lit(MixMod))
  }

  /** Exact "smallest-`__quota` rows per group under [[mixKey]]" with a
    * map-only threshold pre-cut — the 100-TB shape of per-group
    * sampling, shared by [[mixtureSample]] and
    * [[TextAnalysis.stratifiedSample]].
    *
    * The reference semantics is a per-group rank window, but ranking a
    * dominant group (web is ~90% of any real mix) funnels that group's
    * every row through ONE reducer's sort. Since mixKey is uniform on
    * [0, 2^32), the quota-th smallest key in a group of n rows
    * concentrates around quota/n * 2^32; a threshold `slack` times that
    * captures the quota with overwhelming probability, and the pre-cut
    * is a MAP-ONLY filter — the rank window then sorts only
    * ~slack x quota candidates per group instead of the whole group.
    *
    * Exactness is verified, not assumed: per-group candidate counts (a
    * metadata-sized aggregate, one row per group) are checked against
    * min(quota, n); any group whose threshold missed — adversarial id
    * structure can defeat any fixed cut — re-runs as the plain exact
    * window over just that group. The output is therefore BIT-IDENTICAL
    * to the pure window formulation (pinned in OpsSpec, including a
    * forced-fallback case at slack ~ 0).
    *
    * Driver-side state is one row per group: per-group quotas only make
    * sense when groups are few (sources, languages, strata).
    *
    * `quotas`: one row per group with (groupCol, __quota: long,
    * __n: long rows in the group). Rows of `df` whose group is absent
    * from `quotas` are dropped. `groupCap` bounds the driver-side
    * threshold table (see below). */
  private[graft] def takeSmallestByMixKey(df: DataFrame, groupCol: String,
      idCol: String, quotas: DataFrame, slack: Double = 4.0,
      groupCap: Int = 1000000): DataFrame = {
    val thrPlan = quotas.select(col(groupCol), col("__quota").cast("long").as("__quota"),
      col("__n").cast("long").as("__n"))
      .withColumn("__thr",
        when(col("__quota") >= col("__n"), lit(MixMod))
          .otherwise(least(lit(MixMod),
            ceil(col("__quota").cast("double") * lit(MixMod.toDouble) *
              lit(slack) / col("__n")) + lit(65536L))))
      .select(col(groupCol), col("__quota"), col("__n"), col("__thr"))
    // r19 (guide §1.2 "remove unnecessary passes"): the thresholds are
    // one row per group by contract, but as a lazy PLAN every reference
    // re-derived the group counts from the corpus — the candidate join's
    // broadcast build and the deficiency check each re-scanned the input
    // (x10_source_mix's before-plan scanned the documents table 5x).
    // Materialize the thresholds ONCE to the driver and reuse them as a
    // local relation: group-count-bounded driver state, same rows, and
    // the corpus is scanned once for counts + once for candidates.
    // Over `groupCap` groups (degenerate group cardinality), fall back
    // to the lazy plan.
    val thrDf = {
      val local = thrPlan.limit(groupCap + 1).collect()
      if (local.length > groupCap) thrPlan
      else df.sparkSession.createDataFrame(
        java.util.Arrays.asList(local: _*), thrPlan.schema)
    }
    val keyed = df.withColumn("__mk", mixKey(col(idCol)))
      .join(broadcast(thrDf), groupCol)
    // persist the candidate slice (slack x quota rows per group — the
    // SMALL side, never the corpus) so the verification count below and
    // the final rank window see the SAME materialization: without it the
    // upstream pipeline recomputes between the two passes, and the
    // bit-exactness argument would silently assume a deterministic
    // input. Tracked in Caches so a shared-session
    // harness releases it after the query (per-query sessions just drop it).
    val cand = Caches.track(keyed.filter(col("__mk") < col("__thr")))
    // verification pass — one surviving row per GROUP, never data-sized.
    // A group is deficient when the cut kept fewer than min(quota, n)
    // rows; impossible when __thr = 2^32 (every row passes), so only
    // genuinely-cut groups can land here. LEFT join so a group with
    // ZERO candidates (absent from the groupBy) is still caught.
    val candCounts = cand.groupBy(col(groupCol)).agg(count(lit(1)).as("__c"))
    val deficient: Seq[Any] = thrDf
      .join(candCounts, Seq(groupCol), "left")
      .filter(coalesce(col("__c"), lit(0L)) < least(col("__quota"), col("__n")))
      .select(col(groupCol)).collect().map(_.get(0)).toSeq
    val base =
      if (deficient.isEmpty) cand
      else cand.filter(!col(groupCol).isin(deficient: _*))
        .unionByName(keyed.filter(col(groupCol).isin(deficient: _*)))
    val w = Window.partitionBy(col(groupCol)).orderBy(col("__mk"), col(idCol))
    base.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= col("__quota"))
      .drop("__mk", "__thr", "__quota", "__n", "__rk")
  }

  /** Per-source quotas for [[mixtureSample]]: (sourceCol, __quota, __n).
    * LEFT join from `parts`: a source listed in `parts` but ABSENT from
    * the data has n = 0 and constrains the budget to B = 0 — the
    * documented "scarcest source sets the budget" contract — instead of
    * being silently dropped by an inner join. */
  private[graft] def mixtureQuotas(df: DataFrame, sourceCol: String,
      parts: Map[String, Int]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // r19 (guide §1.2): the budget B = min_s floor(n_s / part_s) used to
    // be a crossJoin(broadcast(agg)) SUBPLAN, so every evaluation of the
    // quotas re-scanned the corpus twice (counts + budget). The counts
    // are |parts| rows by construction — collect them once and do the
    // all-integer budget arithmetic on the driver; the corpus is scanned
    // exactly once here.
    val keys = parts.keys.toSeq
    val counted = df.filter(col(sourceCol).isin(keys: _*))
      .groupBy(col(sourceCol)).agg(count(lit(1)).as("__n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = keys.map(s => s -> counted.getOrElse(s, 0L)).toMap
    val b = keys.map(s => n(s) / parts(s)).min
    keys.map(s => (s, parts(s) * b, n(s)))
      .toDF(sourceCol, "__quota", "__n")
  }

  /** Deterministic mixture resampling: downsample so the per-source row
    * counts sit in the exact integer ratio `parts` (e.g. web:3, books:1),
    * keeping as much data as the scarcest source allows. With
    * B = min_s floor(n_s / parts_s), source s keeps exactly parts_s * B
    * rows — all-integer arithmetic, so the quota is bit-reproducible in
    * any engine. Within a source the kept rows are the quota smallest
    * under [[mixKey]] (ties by id): a uniform, RNG-free draw.
    *
    * Sources absent from `parts` are dropped (weight zero); sources in
    * `parts` but absent from the data set B = 0 (empty result).
    *
    * Scale shape: counts are map-side combined to one row per source,
    * quotas broadcast, and the selection runs through
    * [[takeSmallestByMixKey]]'s threshold cut — a dominant source is
    * pre-filtered map-only to ~slack x quota candidate rows before its
    * exact rank window, so no reducer ever sorts a whole source. */
  def mixtureSample(df: DataFrame, sourceCol: String, idCol: String,
      parts: Map[String, Int], slack: Double = 4.0): DataFrame = {
    require(parts.nonEmpty && parts.values.forall(_ > 0),
      "mixture parts must be positive integers")
    takeSmallestByMixKey(df, sourceCol, idCol,
      mixtureQuotas(df, sourceCol, parts), slack)
  }

  /** Concat-and-chop sequence packing — the training-example assembly
    * step of an LLM data pipeline (the public GPT recipe): order each
    * shard's documents deterministically (by [[mixKey]], the same
    * pseudo-random permutation [[shardAssign]] uses), conceptually
    * concatenate their token streams, and chop into fixed
    * `windowTokens`-sized training windows. Documents cross window
    * boundaries (that is the point — zero padding waste); the output is
    * one row per (window, document segment): which slice of which doc
    * lands at which offset of which training example.
    *
    * The whole computation is a per-shard prefix sum (one window
    * function over doc TOKEN COUNTS, not tokens) plus a per-doc explode
    * into the 1 + n/W windows it spans — output volume is
    * n_docs + total_tokens/W rows, linear, and no shuffle ever carries
    * text. Exactly reproducible across engines: ordering is the integer
    * mix, arithmetic is integer token counts. */
  def packWindows(df: DataFrame, idCol: String, textCol: String,
      windowTokens: Int, nShards: Int): DataFrame = {
    require(windowTokens > 0 && nShards > 0,
      "windowTokens and nShards must be positive")
    val W = windowTokens.toLong
    val keyed = df
      .select(col(idCol), Dedup.tokens(col(textCol)).as("__toks"))
      .select(col(idCol), size(col("__toks")).cast("long").as("__n"))
      .filter(col("__n") > 0)
      .withColumn("__key", mixKey(col(idCol)))
      .withColumn("shard", pmod(col("__key"), lit(nShards.toLong)))
    val w = Window.partitionBy(col("shard")).orderBy(col("__key"), col(idCol))
    // token-stream span of each doc inside its shard's concatenation
    val spans = keyed
      .withColumn("__end", sum(col("__n")).over(w))
      .withColumn("__start", col("__end") - col("__n"))
    // totals fit doubles exactly far beyond any real corpus (2^53 tokens);
    // floor-div via double stays integer-exact
    def fdiv(c: Column): Column = floor(c / lit(W.toDouble)).cast("long")
    spans
      .select(col("shard"), col(idCol), col("__start"), col("__end"),
        explode(sequence(fdiv(col("__start")), fdiv(col("__end") - 1)))
          .as("win"))
      .withColumn("__s", greatest(col("__start"), col("win") * W))
      .withColumn("__e", least(col("__end"), (col("win") + 1) * W))
      .select(col("shard"), col("win"), col(idCol),
        (col("__s") - col("win") * W).as("win_offset"),
        (col("__e") - col("__s")).as("n_tokens"))
  }

  /** Deterministic training-shard layout: every row gets a (shard, pos)
    * placement — shard = mixKey(id) % nShards, pos = dense rank of the
    * key within the shard — which is the file/offset assignment a
    * sharded training-data writer needs, reproducible across runs and
    * engines (no RNG, no partition-order dependence). The key acts as a
    * global pseudo-random permutation, so each shard is an unbiased
    * sample of the corpus and reading shards in pos order visits the
    * corpus in shuffled order — exactly what a training loader wants.
    *
    * One shuffle (by shard) + an in-shard sort. At 100 TB size nShards
    * to the target file count (thousands), which also bounds the
    * per-shard sort; the demo uses a small count to keep the result
    * inspectable. */
  def shardAssign(df: DataFrame, idCol: String, nShards: Int): DataFrame = {
    require(nShards > 0, "nShards must be positive")
    val keyed = df.select(col(idCol), mixKey(col(idCol)).as("__key"))
      .withColumn("shard", pmod(col("__key"), lit(nShards.toLong)))
    val w = Window.partitionBy(col("shard")).orderBy(col("__key"), col(idCol))
    keyed.withColumn("pos", row_number().over(w).cast("long"))
      .select(col("shard"), col("pos"), col(idCol))
  }
}
