package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.concurrent.duration.Duration

/** Deduplication operators for large-scale training-data pipelines
  * (SURVEY §2.11 north-star). All shapes are shuffle-lean:
  *  - exact dedup shuffles a 64-bit hash, never the document text;
  *  - minhash/LSH shuffles (doc_id, band_hash) pairs only;
  *  - candidate verification joins shingle sets for candidate pairs only,
  *    never all-pairs (the all-pairs join is the thing that cannot exist
  *    at 100 TB).
  * Everything is built from codegen'd functions (xxhash64, explode,
  * groupBy) — no Scala UDF in a hot path. */
object Dedup {

  /** Exact dedup: one representative row (min id) per distinct text.
    * Shuffle key is xxhash64(text): map-side combine + 8-byte keys.
    * Collision risk at 64-bit is ~n^2/2^65 — negligible below ~10^9 docs;
    * use `exactByContent` to re-verify if that matters. */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(xxhash64(col(textCol)).as("text_hash"))
      .agg(min(idCol).as("keep_id"), count(lit(1)).as("copies"))

  /** Rows that survive exact dedup (the pipeline-facing shape): a
    * min-id-per-hash window. The exchange is NOT a full-row shuffle in
    * practice — Catalyst prunes the window's input to the columns the
    * consumer actually uses, so an ids-only consumer (d6) shuffles
    * 16-byte rows here already.
    *
    * A broadcast-anti-join formulation (decide losers on a (hash, id)
    * projection, anti-join them back, never shuffle the corpus) was
    * measured in round 18 and lost at every call site at sf1 warm (d6
    * 0.78 vs 0.58 s, pipe_corpus 3.89 vs 1.64 s, pipe_corpus_full 6.25
    * vs 4.69 s): it scans the input twice, and in the pipelines the
    * input is a filtered projection whose quality gate (a regex
    * tokenize) re-runs on the second scan, costing more than the pruned
    * one-pass shuffle saves. */
  def exactSurvivors(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(xxhash64(col(textCol))).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Tokenize + lowercase: the canonical normalization for shingling.
    * IMPORTANT: materialize this into its own column before building
    * n-grams from it — higher-order functions evaluate interpreted, and
    * an inlined split() re-runs the regex once per sequence element
    * (quadratic per row; found via jstack at sf0.1). */
  def tokens(textCol: Column): Column =
    filter(split(lower(textCol), "\\W+"), t => length(t) > 0)

  /** N-gram shingles from an ALREADY-MATERIALIZED tokens column. */
  def shinglesOf(toks: Column, n: Int): Column =
    array_distinct(
      filter(
        transform(sequence(lit(0), greatest(size(toks) - n, lit(0))),
          i => array_join(slice(toks, i + lit(1), lit(n)), " ")),
        s => length(s) > 0))

  /** Word n-gram shingles straight from text — fine for one-shot use,
    * but prefer tokens->shinglesOf when toks is referenced repeatedly. */
  def shingles(textCol: Column, n: Int): Column = shinglesOf(tokens(textCol), n)

  private def ensureParallelism(df: DataFrame): DataFrame = Par.ensure(df)

  /** [[TextExprs.noPushdown]]: keeps inferred filters from re-running a
    * kernel beneath its projection (r19: sf0.1 1.46x, sf1 3.30 -> 2.89 s). */
  private def barrier(c: Column): Column = TextExprs.noPushdown(c)

  /** (doc_id, signature[k]) minhash signatures, computed entirely
    * per-row by a codegen Expression (TextExprs.minhash): MAP-ONLY — no
    * explode, no shuffle, no interpreted HOF. Hash i of a shingle is
    * xxhash64(shingle, seed=i), identical to the agg formulation
    * min(xxhash64(shingle, lit(i))) it replaces (pinned by OpsSpec). */
  def minhashSignatures(df: DataFrame, textCol: String, idCol: String,
      k: Int = 64, shingleN: Int = 3): DataFrame =
    // noPushdown barrier (guide §4.4, r19): the isNotNull filter below
    // otherwise pushes beneath the projection and re-runs the ENTIRE
    // k-hash minhash kernel a second time per row inside the scan
    // filter (seen in the r19 d2 before-plan: minhash_signature in the
    // scan Condition AND the Project)
    ensureParallelism(df)
      .select(col(idCol), barrier(
        TextExprs.minhash(col(textCol), shingleN, k)).as("signature"))
      .where(col("signature").isNotNull) // docs with no shingles drop, as before

  /** LSH banding: emit (doc_id, band, band_hash); docs sharing a
    * (band, band_hash) cell are near-dup candidates. */
  def lshBuckets(signatures: DataFrame, idCol: String,
      bands: Int = 16, rowsPerBand: Int = 4): DataFrame =
    signatures.select(col(idCol),
      posexplode(
        transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(array_join(
            transform(slice(col("signature"), lit(b * rowsPerBand + 1), lit(rowsPerBand)),
              h => h.cast("string")), ",")))).as(Seq("band", "band_hash")))

  /** Candidate pairs from shared LSH cells (a < b). `maxBucket` caps
    * degenerate buckets — a bucket of m docs yields m^2/2 pairs, so a few
    * mega-buckets can dominate the join at scale; capped buckets are
    * dropped (their members are caught by other bands). */
  def lshCandidatePairs(buckets: DataFrame, idCol: String,
      maxBucket: Int = 1000): DataFrame = {
    val sized = buckets
      .withColumn("__n", count(lit(1)).over(Window.partitionBy("band", "band_hash")))
      .filter(col("__n") <= maxBucket)
      .drop("__n")
    val l = sized.select(col("band"), col("band_hash"), col(idCol).as("a"))
    val r = sized.select(col("band"), col("band_hash"), col(idCol).as("b"))
    l.join(r, Seq("band", "band_hash"))
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()
  }

  /** Exact n-gram Jaccard for given pairs: join each side's shingle SET
    * (one array row per side), |intersection| = size(array_intersect),
    * |union| = |A|+|B|-|I|. Cost is O(|A|+|B|) per pair — the previous
    * posting-explode formulation joined on the pair id alone and filtered
    * sa===sb afterwards, which materialized |A|×|B| rows per candidate
    * pair (found at 10× scale: 130× runtime on 10× docs). */
  def jaccardVerify(df: DataFrame, textCol: String, idCol: String,
      pairs: DataFrame, shingleN: Int = 3): DataFrame = {
    val sh = ensureParallelism(
      df.select(col(idCol).as("__id"), TextExprs.shingles(col(textCol), shingleN).as("__sh")))
    val inter = size(array_intersect(col("__sa"), col("__sb")))
    pairs
      .join(sh.select(col("__id").as("a"), col("__sh").as("__sa")), "a")
      .join(sh.select(col("__id").as("b"), col("__sh").as("__sb")), "b")
      .select(col("a"), col("b"),
        (inter / (size(col("__sa")) + size(col("__sb")) - inter)).as("jaccard"))
  }

  /** Near-dup pairs: minhash -> LSH -> exact-Jaccard gate. */
  def nearDupPairs(df: DataFrame, textCol: String, idCol: String,
      threshold: Double = 0.7, k: Int = 64, shingleN: Int = 3,
      bands: Int = 16): DataFrame = {
    val sig = minhashSignatures(df, textCol, idCol, k, shingleN)
    val cands = lshCandidatePairs(lshBuckets(sig, idCol, bands, k / bands), idCol)
    jaccardVerify(df, textCol, idCol, cands, shingleN)
      .filter(col("jaccard") >= threshold)
  }

  /** Exact n-gram Jaccard near-dup pairs within a blocking key — the
    * oracle-able verification baseline for the approximate paths (d3's
    * minhash-LSH plays the role e2/e3 play against e1's brute force).
    *
    * Shape is an inverted-index similarity join, NOT blocked all-pairs:
    * explode (block, shingle) postings, self-join on the posting key, and
    * count matches per (id_a, id_b) — |intersection| directly, |union| =
    * |A|+|B|-|I|. Only pairs sharing >=1 shingle ever materialize, and a
    * pair sharing no shingle cannot pass any threshold > 0, so the output
    * equals the all-pairs formulation exactly. Threshold compares as
    * integer cross-multiplication (n_common * den >= n_union * num): no
    * floating point anywhere, so results are hash-stable across engines.
    *
    * Skew safety at 100 TB: the posting join is PPJoin-prefix-filtered
    * (Xiao et al., WWW'08). Shingles get a canonical total order (global
    * frequency ascending, ties by value); a set of size n only posts its
    * (n − ⌈t·n⌉ + 1) RAREST shingles. Any pair at or above threshold t
    * must share a prefix shingle under this order, so candidate recall
    * is exact, while a block-common shingle (the m² degeneracy) lands at
    * the END of every order and never joins unless a document is so
    * small the threshold genuinely needs it. Candidates are then
    * verified with an exact set intersection — only candidate pairs ever
    * carry full shingle arrays. */
  def jaccardExactPairs(df: DataFrame, textCol: String, idCol: String,
      blockCol: String, shingleN: Int = 3,
      thresholdNum: Int = 4, thresholdDen: Int = 5,
      cacheKey: Option[String] = None,
      persistPath: Option[String] = None): DataFrame =
    // the verified pair graph is a SNAPSHOT artifact: computed once per
    // (table snapshot, params) and reused by every consumer (clusters,
    // survivor choice) — pass the owning table's uuid+snapshot as the
    // key and a sidecar location, exactly like e3's centroid sidecar
    Sidecar.dataFrame(df.sparkSession,
      cacheKey.map(k => s"$k:n$shingleN:t$thresholdNum/$thresholdDen"),
      persistPath) {
      val sh = trackedShingleSets(df, textCol, idCol, blockCol, shingleN)
      val cands = jaccardCandidates(sh, thresholdNum, thresholdDen)
      verifyJaccardPairs(cands, sh, thresholdNum, thresholdDen)
    }

  /** Exact verification stage of [[jaccardExactPairs]], split out so the
    * block-equality recheck is testable with an ENGINEERED candidate set
    * (OpsSpec plants a cross-block pair with identical shingle sets —
    * the candidate a folded-hash collision would smuggle in — and pins
    * that it is rejected here). Re-checks BLOCK equality (candidates are
    * keyed by the block-folded hash, so a 2^-64 cross-block collision
    * could smuggle in a cross-block candidate) — one tiny string next to
    * the full shingle arrays this join already carries. */
  private[graft] def verifyJaccardPairs(cands: DataFrame, sh: DataFrame,
      thresholdNum: Int, thresholdDen: Int): DataFrame = {
    val sets = sh.select(col("__id"), col("__sh"), col("__blk"))
    cands
      .join(sets.select(col("__id").as("id_a"), col("__sh").as("__sa"),
        col("__blk").as("__blka")), "id_a")
      .join(sets.select(col("__id").as("id_b"), col("__sh").as("__sb"),
        col("__blk").as("__blkb")), "id_b")
      .filter(col("__blka") === col("__blkb"))
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("__sa"), col("__sb"))).cast("long").as("n_common"),
        (size(col("__sa")) + size(col("__sb"))).cast("long").as("__tot"))
      .select(col("id_a"), col("id_b"), col("n_common"),
        (col("__tot") - col("n_common")).as("n_union"))
      .filter(col("n_common") * thresholdDen >= col("n_union") * thresholdNum)
  }

  /** Near-SUBSET duplicates: directed pairs where containment
    * C(A,B) = |A∩B| / |A| >= t — doc A is (nearly) contained in doc B,
    * the excerpt/quote duplicate that symmetric jaccard misses (a short
    * doc inside a long one has low jaccard but containment ~1).
    *
    * Asymmetric PPJoin: only the CONTAINED side prefix-filters (its
    * prefix is |A| - ⌈t·|A|⌉ + 1 rarest shingles, same global frequency
    * order as [[jaccardCandidates]]); the container side posts every
    * shingle — containment puts no upper bound on |B|, so no length or
    * B-side prefix filter is sound. Skew stays bounded because the
    * A-side prefix picks globally RARE shingles: a hot shingle almost
    * never lands in any prefix, so per-shingle candidate volume is
    * prefix-occupancy × frequency with prefix-occupancy ≈ 0 for hot
    * keys. Verification is exact (array_intersect on the shingle sets).
    * Length filter |B| >= t·|A| is sound and applied. */
  /** Spill bound (fourth-decade contract): the posting join is the
    * engine's heaviest shuffle — at sf100 a single-pass join needs
    * ~60 GB of shuffle/spill disk. `postingPasses` > 1 partitions the
    * JOIN KEY SPACE into that many hash ranges and joins them
    * SEQUENTIALLY: the ranked postings are written once to scratch
    * parquet partitioned by bucket, each pass joins one bucket (shuffle
    * ~1/passes of the whole), candidate pairs accumulate in scratch, and
    * an explicit GC between passes lets the ContextCleaner drop the
    * previous pass's shuffle files. Because the join key determines the
    * bucket, the union of per-bucket joins is EXACTLY the single-pass
    * join's row set — the result is bit-equal (spec-pinned), only the
    * disk high-water changes: O(total/passes) shuffle + the compressed
    * posting scratch, the shape a 100 TB cluster needs (constant spill,
    * more passes). `postingPasses = 0` sizes itself from corpus text
    * volume (~500M postings per pass, the proven sf30 single-pass
    * level); 1 forces the classic single join. `scratchDir` must be a
    * shared filesystem on a multi-node cluster (defaults to
    * SPARK_GRAFT_SCRATCH or java.io.tmpdir — fine for local mode). */
  def containmentPairs(df: DataFrame, textCol: String, idCol: String,
      blockCol: String, shingleN: Int = 3,
      thresholdNum: Int = 4, thresholdDen: Int = 5,
      postingPasses: Int = 0, scratchDir: Option[String] = None): DataFrame = {
    val sh = trackedShingleSets(df, textCol, idCol, blockCol, shingleN)
    // SPILL DIET: the posting join is the engine's heaviest shuffle (the
    // container side posts EVERY shingle), so posting rows carry the
    // minimum bytes that keep the filters sound — the block is FOLDED
    // into the 64-bit shingle hash (same-block joins become a single
    // 8-byte key; a cross-block hash collision can only add a false
    // CANDIDATE, which exact verification rejects), and counts/ranks
    // travel as 4-byte ints (a doc would need 2^31 shingles to overflow
    // — a >2 GB text value, above Spark's single-value limit). Measured
    // at sf30 this shuffle spilled ~25 GB with the block string + long
    // counts aboard.
    // per-(block,shingle) frequency order — prefix-filter recall is
    // exact under ANY total order because the container side posts all:
    // a pair with overlap >= alpha cannot hide every shared shingle in
    // the (alpha-1)-sized suffix the prefix cut drops
    val ranked = rankedPostings(sh, "containment shingle-frequency table")
    // contained side: prefix n - ceil(t*n) + 1; container side: all.
    // positional filter: needed overlap alpha = ceil(t*na); a match at
    // (pa, pb) caps achievable overlap at 1 + min(na-pa, nb-pb).
    // Comparisons widen to long POST-join — wide math costs nothing in
    // the shuffle rows.
    def candsOf(r: DataFrame): DataFrame = {
      // NO shared posting exchange here, unlike jaccardCandidates: the
      // contained side's prefix filter is pushed BELOW an explicit
      // repartition by the optimizer (checked in the r19 plan dumps), so
      // the two sides can never canonicalize to one reusable exchange —
      // an asymmetric-filter self-join keeps the planner's
      // ENSURE_REQUIREMENTS exchanges and with them AQE's skew-split
      // freedom on the container side
      val a = r.filter(col("__rank") <=
        col("__n") - expr(
          s"(cast(__n as bigint) * $thresholdNum + $thresholdDen - 1) div $thresholdDen") + 1)
        .select(col("__s"), col("__id").as("id_a"),
          col("__n").as("__na"), col("__rank").as("__pa"))
      val b = r.select(col("__s"), col("__id").as("id_b"),
        col("__n").as("__nb"), col("__rank").as("__pb"))
      val alpha = expr(
        s"(cast(__na as bigint) * $thresholdNum + $thresholdDen - 1) div $thresholdDen")
      a.join(b, Seq("__s"))
        .filter(col("id_a") =!= col("id_b"))
        .filter(col("__nb").cast("long") * thresholdDen >=
          col("__na").cast("long") * thresholdNum)
        .filter(lit(1L) + least(col("__na") - col("__pa"),
          col("__nb") - col("__pb")).cast("long") >= alpha)
        .select("id_a", "id_b")
    }
    val spark = df.sparkSession
    val passes =
      if (postingPasses > 0) postingPasses
      else {
        // auto-size from corpus text volume: shingle count ~ whitespace
        // token count ~ bytes/6; ~500M postings per pass is the spill
        // level the sf30 single-pass join has repeatedly proven. One
        // column-pruned scan — trivial next to the join it sizes.
        val bytes = Option(df.agg(sum(length(col(textCol)))).head.get(0))
          .map(_.asInstanceOf[Long]).getOrElse(0L)
        val est = bytes / 6
        math.min(64L, math.max(1L, (est + 599999999L) / 600000000L)).toInt
      }
    val cands =
      if (passes <= 1) candsOf(ranked).distinct()
      else {
        val scratchRoot = scratchDir
          .orElse(sys.env.get("SPARK_GRAFT_SCRATCH"))
          .getOrElse(System.getProperty("java.io.tmpdir"))
        val scratch = new java.io.File(scratchRoot,
          s"graft-d9-${java.util.UUID.randomUUID()}")
        val postingsDir = new java.io.File(scratch, "postings").toString
        val candsDir = new java.io.File(scratch, "cands").toString
        // materialize ranked postings ONCE, partitioned by join-key
        // bucket — each pass reads only its bucket directory (zstd
        // parquet: ~20 B/posting vs ~32 B in shuffle)
        ranked.withColumn("__bk", pmod(col("__s"), lit(passes)))
          .write.option("compression", "zstd")
          .partitionBy("__bk").parquet(postingsDir)
        (0 until passes).foreach { k =>
          candsOf(spark.read.parquet(postingsDir).filter(col("__bk") === k)
              .drop("__bk"))
            .write.option("compression", "zstd")
            .mode("append").parquet(candsDir)
          // drop the pass's shuffle files before the next pass starts —
          // the disk bound IS the point of the sequential schedule
          System.gc()
        }
        // the posting scratch (the big half) is consumed — free it now;
        // the small candidate parquet must outlive this call (the
        // returned plan reads it lazily), so it dies with the JVM
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(new java.io.File(postingsDir))
        Runtime.getRuntime.addShutdownHook(new Thread(() => rm(scratch)))
        spark.read.parquet(candsDir).distinct()
      }
    verifyContainmentPairs(cands, sh, thresholdNum, thresholdDen)
  }

  /** Exact verification stage of [[containmentPairs]], split out so the
    * block-equality recheck is testable with an ENGINEERED candidate set
    * (see [[verifyJaccardPairs]]). Re-checks BLOCK equality (the
    * candidate key is the folded hash, so a 2^-64 cross-block collision
    * could smuggle in a cross-block candidate) — one tiny string next to
    * the full shingle arrays this join already carries. */
  private[graft] def verifyContainmentPairs(cands: DataFrame, sh: DataFrame,
      thresholdNum: Int, thresholdDen: Int): DataFrame = {
    val sets = sh.select(col("__id"), col("__sh"), col("__blk"))
    cands
      .join(sets.select(col("__id").as("id_a"), col("__sh").as("__sa"),
        col("__blk").as("__blka")), "id_a")
      .join(sets.select(col("__id").as("id_b"), col("__sh").as("__sb"),
        col("__blk").as("__blkb")), "id_b")
      .filter(col("__blka") === col("__blkb"))
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("__sa"), col("__sb"))).cast("long").as("__common"),
        size(col("__sa")).cast("long").as("__na"))
      .filter(col("__common") * thresholdDen >= col("__na") * thresholdNum)
      .select(col("id_a"), col("id_b"),
        round(col("__common").cast("double") / col("__na"), 6).as("containment"))
  }

  /** Exact SUBSTRING-level dedup (the deduplicate-text-datasets class of
    * op): doc-level dedup (d1) and near-dup (d3/d7/d9) drop whole
    * documents, but training pipelines also strip repeated SPANS across
    * documents — boilerplate, license headers, navigation chrome.
    * Returns the maximal duplicated spans per document: every token
    * position covered by a fixed-width `windowTokens`-token window that
    * occurs in >= `minDocs` DISTINCT documents, merged into maximal
    * runs (gaps-and-islands).
    *
    * Distributed shape — NEVER a driver suffix array:
    *  1. map-only windowing: per doc, all W-token windows hashed to
    *     64 bits (tokens materialized first — HOFs re-evaluate inlined
    *     regex splits per element);
    *  2. document frequency per window hash: one groupBy on 8-byte keys
    *     (count DISTINCT doc), shuffle bounded by total token count;
    *  3. flagged hashes join back to postings (boilerplate is rare, so
    *     the flagged side is small — AQE broadcasts it);
    *  4. covered positions explode W per hit, distinct, then islands via
    *     a PER-DOCUMENT window (bounded by doc length, never data-sized).
    *
    * Hash-space recall bound, same argument as d2/d9: a 64-bit collision
    * can only merge two distinct windows and OVER-flag — at n windows
    * the probability is ~n²/2^65, negligible below ~10^9 windows per
    * corpus; the spans themselves are exact once a window is flagged. */
  def substringSpans(df: DataFrame, textCol: String, idCol: String,
      windowTokens: Int = 8, minDocs: Int = 2,
      cacheKey: Option[String] = None,
      persistPath: Option[String] = None): DataFrame =
    // the flagged-span table is a SNAPSHOT artifact like d7's pair graph
    // (see jaccardExactPairs): d13's cleaning pass consumes it without
    // re-deriving the postings
    Sidecar.dataFrame(df.sparkSession,
      cacheKey.map(k => s"$k:w$windowTokens:m$minDocs"), persistPath) {
      substringSpansCompute(df, textCol, idCol, windowTokens, minDocs)
    }

  private[graft] def substringSpansCompute(df: DataFrame, textCol: String,
      idCol: String, windowTokens: Int, minDocs: Int): DataFrame = {
    require(windowTokens >= 1 && minDocs >= 2,
      s"need windowTokens >= 1 and minDocs >= 2, got $windowTokens/$minDocs")
    val W = windowTokens
    // (doc, window position, window hash) postings — the window kernel
    // (TextExprs.windowHashes) computes every window's 64-bit hash in
    // ONE compiled pass over a single joined token buffer (no per-window
    // string allocation, no interpreted HOF); array index = position
    // ensureBy(__id): the hit-collection aggregate below groups by __id,
    // so the parallelism guard's exchange doubles as the aggregation's
    // when it fires (guide §2.4 shared exchanges)
    // noPushdown barrier (guide §4.4, r19): posexplode's inferred
    // size>0/isnotnull filters otherwise push beneath the projection and
    // re-run the window-hash kernel up to twice more per row inside the
    // scan filter (seen in the r18 d12 plan dumps; sf1 warm A/B without
    // the barrier: d12 4.62 -> 2.11 s).
    // The two `wins` consumers (the flagged aggregate and the hits join)
    // still plan as separate subtrees — they prune different columns, so
    // no exchange reuse — and the double scan is DELIBERATE (r18 ADVICE
    // asked to persist or annotate): Caches.track of the per-doc hash
    // frame was built and measured in r19 and LOST (sf1 warm min-of-3:
    // 3.73 s persisted vs 2.11 s recomputed — serializing the long
    // arrays into storage and reading them back twice costs more than
    // one extra compiled kernel pass over the corpus).
    val wins = Par.ensureBy(df.select(col(idCol).as("__id"),
        barrier(TextExprs.windowHashes(col(textCol), W)).as("__hs")), col("__id"))
      .select(col("__id"), posexplode(col("__hs")))
      .withColumnRenamed("pos", "__p").withColumnRenamed("col", "__h")
    val flagged = wins.groupBy("__h")
      .agg(countDistinct(col("__id")).as("__df"))
      .filter(col("__df") >= minDocs)
      .select("__h")
    // per-doc interval merge (the r18 rewrite): each flagged hit at
    // position p covers tokens [p, p+W-1]; collecting the HIT positions
    // per doc and merging the W-wide intervals in one compiled pass
    // (TextExprs.mergeSpans) yields exactly the islands the previous
    // explode(sequence W) + distinct + row_number-window formulation
    // produced — the union of overlapping/adjacent intervals IS the set
    // of maximal consecutive covered runs, and a run's token count is
    // its length. Shuffle diet: the one exchange carries hit positions
    // (1/W of the exploded covered-position volume) and the
    // corpus-wide distinct + per-doc window sort are gone entirely
    // (plan: 4 Exchanges -> 2 on the span path; bit-equality with the
    // window formulation pinned in OpsSpec).
    val hits = wins.join(flagged, Seq("__h"))
    hits.groupBy(col("__id"))
      .agg(collect_list(col("__p")).as("__ps"))
      .select(col("__id"),
        explode(TextExprs.mergeSpans(col("__ps"), W)).as("__sp"))
      .select(col("__id").as(idCol),
        col("__sp.span_start").as("span_start"),
        col("__sp.span_end").as("span_end"),
        col("__sp.span_tokens").as("span_tokens"))
  }

  /** The REMOVAL side of [[substringSpans]]: the corpus with every
    * flagged span stripped from the token stream (cleaning operates on
    * the normalized tokens — output text is kept tokens joined by one
    * space, the same normalization every downstream token-level op
    * uses). Docs without flagged spans pass through token-joined.
    *
    * Scale shape: the span table is tiny (boilerplate is rare), so it
    * aggregates per doc and joins BACK to the corpus — the cleaning
    * itself is MAP-ONLY (an indexed-lambda filter per row); the corpus
    * text is never shuffled. */
  def substringClean(df: DataFrame, textCol: String, idCol: String,
      windowTokens: Int = 8, minDocs: Int = 2,
      cacheKey: Option[String] = None,
      persistPath: Option[String] = None): DataFrame = {
    val spans = substringSpans(df, textCol, idCol, windowTokens, minDocs,
      cacheKey, persistPath)
    // flagged docs are usually a small corpus fraction, but the span map
    // still scales with the corpus — same broadcast guard as the
    // frequency tables (a shuffle join keeps cleaning correct past it).
    // Rows here carry collect_list span ARRAYS, so the guard charges per
    // span (+1 for the row itself), not per row — a row count alone
    // would let a few million fat rows smuggle an 8 GiB+ broadcast past
    // the cap
    val spansPerDoc = broadcastIfUnder(spans.groupBy(col(idCol))
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("__spans")),
      MaxBroadcastRows, "substring-clean span map",
      weight = Some(size(col("__spans")).cast("long") + lit(1L)))
    val base = Par.ensure(df.select(col(idCol), tokens(col(textCol)).as("__w")))
    base.join(spansPerDoc, Seq(idCol), "left")
      .select(col(idCol),
        // two-arg lambda: token index i (0-based) survives unless inside
        // any flagged span; O(tokens x spans-per-doc) per row, spans few
        when(col("__spans").isNull, col("__w")).otherwise(
          filter(col("__w"), (t, i) => !exists(col("__spans"),
            sp => i >= sp.getField("span_start") &&
              i <= sp.getField("span_end")))).as("__kept"),
        size(col("__w")).cast("long").as("__n"))
      .select(col(idCol),
        array_join(col("__kept"), " ").as("clean_text"),
        size(col("__kept")).cast("long").as("n_kept"),
        (col("__n") - size(col("__kept"))).cast("long").as("n_dropped"))
  }

  /** Connected components of an undirected pair graph — the pipeline
    * step AFTER pair generation: near-duplicate PAIRS become near-dup
    * CLUSTERS, each with one canonical survivor (the minimum id).
    *
    * Min-label propagation: every vertex repeatedly adopts the smallest
    * label among itself and its neighbors; the component minimum spreads
    * one hop per round, so rounds = component diameter. Near-dup
    * clusters are shallow (a handful of mutually-similar docs), so this
    * converges in a few join+groupBy rounds — each round one shuffle of
    * the edge list, nothing graph-shaped on the driver. At 100 TB the
    * edge list is orders of magnitude smaller than the corpus (only
    * near-dup pairs), so the loop runs on the small derived table.
    *
    * Returns (id, cluster_rep): one row per vertex that appears in any
    * pair; `id == cluster_rep` marks the survivor. */
  /** Telemetry of the most recent [[clustersFromPairs]] run in this JVM:
    * rounds to convergence and the changed-label count after each round.
    * Rounds = component diameter + 1; a trajectory creeping toward
    * `maxRounds` exposes a pathological (chain-shaped) pair graph BEFORE
    * the convergence guard trips. Pinned on a chain graph in OpsSpec. */
  object ClusterStats {
    @volatile var rounds: Int = 0
    @volatile var changedPerRound: Seq[Long] = Nil
  }

  /** `observeWait` bounds the wait for each round's observed changed
    * count; a non-positive wait skips the metric, so every round pays
    * the separate count job (the pre-fusion shape, which specs compare
    * job counts against). */
  def clustersFromPairs(pairs: DataFrame, aCol: String, bCol: String,
      maxRounds: Int = 50,
      observeWait: Duration = Duration(10, "s")): DataFrame = {
    // MEMORY_AND_DISK, not MEMORY_ONLY: at sf10+ the edge list outgrows
    // storage memory, and a dropped partition recomputes the full
    // upstream pair join once per label-propagation ROUND (measured:
    // d11 22.7 -> 30.7 s isolated at sf10 under MEMORY_ONLY)
    val edges = Caches.track(
      pairs.select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))
        .union(pairs.select(col(bCol).cast("long").as("u"), col(aCol).cast("long").as("v")))
        .distinct())
    // localCheckpoint each round, not persist: an iterative self-join
    // otherwise DOUBLES the logical plan every round, and Catalyst
    // analysis cost goes exponential in the round count — a diameter-10
    // chain took minutes in plan analysis alone before computing
    // anything. Checkpointing truncates the lineage so every round
    // analyzes a constant-size plan.
    var labels = edges.select(col("u").as("id")).distinct()
      .withColumn("rep", col("id"))
      .localCheckpoint(true)
    var changed = 1L
    var round = 0
    val trajectory = Seq.newBuilder[Long]
    while (changed > 0 && round < maxRounds) {
      val neighborMin = edges.join(labels, edges("v") === labels("id"))
        .groupBy(edges("u").as("nid")).agg(min("rep").as("nrep"))
      // FUSED action per round (r18 verdict item 3, guide §1.2 "don't
      // compute things you throw away" — here: a second job per round):
      // the changed-label count rides the checkpoint materialization as
      // an observed metric instead of a separate count() job over the
      // cached blocks. Retry-deterministic where it matters: a
      // duplicated successful task can only ADD non-negative per-task
      // counts, and adding to zero keeps zero, so the loop's only
      // decision (changed == 0) is unaffected by any double-count; the
      // trajectory telemetry could in principle inflate under retries,
      // the termination cannot.
      val obs = org.apache.spark.sql.Observation(
        s"graft-lp-$round-${java.util.UUID.randomUUID()}")
      val next = labels.join(neighborMin, labels("id") === neighborMin("nid"), "left")
        .select(labels("id"),
          least(labels("rep"), coalesce(col("nrep"), labels("rep"))).as("rep"),
          labels("rep").as("__old"))
        .observe(obs, count(when(col("rep") =!= col("__old"), lit(1))).as("changed"))
        .localCheckpoint(true)
      // the listener delivering observed metrics is asynchronous; poll
      // briefly, then fall back to the pre-fusion count job (correctness
      // never depends on the metric arriving)
      val observed =
        if (observeWait <= Duration.Zero) None
        else scala.util.Try(
          scala.concurrent.Await.result(obs.future, observeWait)).toOption
      changed = observed.map(_.getAs[Long]("changed")).getOrElse {
        System.err.println("[graft] clustersFromPairs: no observed metric " +
          s"within $observeWait — falling back to a count job")
        next.filter(col("rep") =!= col("__old")).count()
      }
      trajectory += changed
      labels = next.select("id", "rep")
      round += 1
    }
    ClusterStats.rounds = round
    ClusterStats.changedPerRound = trajectory.result()
    System.err.println(s"[graft] clustersFromPairs: converged in $round " +
      s"rounds (maxRounds=$maxRounds), changed/round = " +
      ClusterStats.changedPerRound.mkString(","))
    require(changed == 0,
      s"component labels did not converge in $maxRounds rounds — " +
        "pathological pair graph (diameter > maxRounds)?")
    edges.unpersist()
    labels
  }

  /** Near-dup clusters over the EXACT jaccard pair graph (d7's PPJoin
    * pairs as edges): (doc_id, cluster_rep, is_survivor) for every doc
    * in at least one qualifying pair. The dedup decision a real corpus
    * pipeline executes — drop every row where is_survivor = false. */
  def jaccardClusters(df: DataFrame, textCol: String, idCol: String,
      blockCol: String, shingleN: Int = 3,
      thresholdNum: Int = 4, thresholdDen: Int = 5,
      cacheKey: Option[String] = None,
      persistPath: Option[String] = None): DataFrame = {
    val pairs = jaccardExactPairs(df, textCol, idCol, blockCol,
      shingleN, thresholdNum, thresholdDen, cacheKey, persistPath)
    clustersFromPairs(pairs, "id_a", "id_b")
      .select(col("id").as("doc_id"), col("rep").as("cluster_rep"),
        (col("id") === col("rep")).as("is_survivor"))
  }

  /** Quality-aware survivor selection over the near-dup cluster graph:
    * within each [[jaccardClusters]] cluster keep the document with the
    * LARGEST `rankCol` value (ties broken by smallest id) — the policy
    * real dedup pipelines run, where the canonical copy should be the
    * longest / highest-quality one, not whichever has the smallest id.
    *
    * The argmax is a plain aggregate — `max(struct(rank, -id))` per
    * cluster — then a broadcast-sized join back (one row per CLUSTER,
    * clusters are near-dup groups, orders of magnitude fewer than
    * docs). No window over data-sized partitions anywhere. */
  def clusterSurvivorsByRank(df: DataFrame, textCol: String, idCol: String,
      blockCol: String, rankCol: String, shingleN: Int = 3,
      thresholdNum: Int = 4, thresholdDen: Int = 5,
      cacheKey: Option[String] = None,
      persistPath: Option[String] = None): DataFrame = {
    val clusters = jaccardClusters(df, textCol, idCol, blockCol,
      shingleN, thresholdNum, thresholdDen, cacheKey, persistPath)
      .select(col("doc_id"), col("cluster_rep"))
    val ranked = clusters.join(
      df.select(col(idCol).cast("long").as("doc_id"),
        // double, NOT long: fractional quality scores (classifier
        // probabilities, NLL in [0,1)) must not truncate to 0 — that
        // would degenerate survivor choice to min-id.
        col(rankCol).cast("double").as("__rank")), Seq("doc_id"))
    val best = ranked.groupBy(col("cluster_rep"))
      .agg(max(struct(col("__rank").as("r"), (-col("doc_id")).as("nid")))
        .as("__best"))
    ranked.join(best, Seq("cluster_rep"))
      .select(col("doc_id"), col("cluster_rep"),
        (col("__rank") === col("__best.r") &&
          col("doc_id") === -col("__best.nid")).as("is_survivor"))
  }

  /** (__blk, __id, __sh) distinct-shingle sets — the shared input of
    * candidate generation and verification.
    *
    * Shingling via the compiled kernel (TextExprs.shingles: one static
    * call inside whole-stage codegen) instead of interpreted HOFs. The
    * kernel emits one TRUNCATED shingle for docs under n tokens where
    * this operator's contract says "no shingles"; such a doc always
    * yields exactly one shingle of fewer than n words, so the filter
    * below excludes precisely those docs (tokens never contain spaces). */
  private[graft] def shingleSets(df: DataFrame, textCol: String, idCol: String,
      blockCol: String, shingleN: Int): DataFrame =
    // round-robin, NOT ensureBy(__id): sharing the guard's exchange with
    // the posting-rank window was tried in r18 and measured SLOWER for
    // d7 at sf1 warm (14.1 vs 11.8 s) — the fat shingle-array rows hash
    // less evenly than round-robin spreads them, and the posting-level
    // re-shuffle it saves is the cheap 20-byte kind (the keyed variant
    // DID win for the thin-row call sites: d12/x8/x13/x15 use ensureBy)
    //
    // noPushdown barrier (guide §4.4, r19): the size filter below
    // otherwise pushes beneath this projection into the scan filter and
    // re-evaluates the shingle kernel once per disjunct per row (seen
    // 3× in the r19 before-plans) — the barrier pins one kernel
    // evaluation in the Project, with the filter reading the column
    Par.ensure(df.select(col(blockCol).as("__blk"), col(idCol).as("__id"),
        barrier(TextExprs.shingles(col(textCol), shingleN)).as("__sh")))
      .filter(size(col("__sh")) > 1 ||
        (size(col("__sh")) === 1 &&
          size(split(element_at(col("__sh"), 1), " ")) === lit(shingleN)))

  /** [[shingleSets]], persisted through [[Caches]] when the corpus is
    * modest: d7/d9 consume the shingle frame from SEVERAL Spark jobs
    * (the frequency-table job, the candidate join, exact verification),
    * and only same-job consumers can share the parallelism guard's
    * exchange — without a persist the scan + shingle kernel re-run once
    * per job (measured: ~3 s of d7's 10 s at sf1). Gated by the scan's
    * METADATA size estimate (no extra job): past the cap the operator
    * keeps the recompute shape proven at sf30/sf100, where a
    * MEMORY_AND_DISK copy of every shingle array is exactly the disk
    * pressure the multi-pass posting join exists to avoid. */
  private[graft] def trackedShingleSets(df: DataFrame, textCol: String,
      idCol: String, blockCol: String, shingleN: Int): DataFrame = {
    val sh = shingleSets(df, textCol, idCol, blockCol, shingleN)
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (est <= BigInt(MaxShinglePersistBytes))
      Caches.track(sh)
    else {
      System.err.println(s"[dedup] shingle sets: input estimate $est B over " +
        s"persist cap $MaxShinglePersistBytes — recompute-per-job shape")
      sh
    }
  }

  /** Input-size cap for [[trackedShingleSets]]: 16 GiB of scan estimate
    * keeps the persisted shingle frame within the spill budget the
    * posting join already needs; past it, recompute (the sf30-proven
    * shape). */
  private[graft] val MaxShinglePersistBytes: Long = 16L << 30

  /** Ranked hashed postings — (__id, __n, __s, __rank) with one row per
    * (document, distinct shingle) — the shared candidate-stage input of
    * d7/d9. Rank is the shingle's 1-based position in its document under
    * the canonical total order (global frequency asc, ties by hash asc).
    * Only REPEATED shingles matter for the order (freq-1 shingles tie
    * and break by hash regardless), so the frequency table stores f > 1
    * entries with miss => 1.
    *
    * Three-way strategy (guide §1.2 step 1, §2.4):
    *  1. frequency table fits `rankCap` entries (default
    *     [[MaxRankMapRows]]; the common regime — repeated shingles are
    *     a small fraction of postings): collect it
    *     to the driver once, broadcast it as a sorted-array map, and
    *     rank WITHIN the row (TextExprs.rankPostings + posexplode) — the
    *     full-posting Exchange(__id) + Sort + row_number Window AND the
    *     per-posting frequency join disappear; the candidate stage
    *     becomes map-only up to the self-join.
    *  2. over that but under [[MaxBroadcastRows]]: the r17/r18 form —
    *     broadcast frequency join + per-doc rank window.
    *  3. over both: plain shuffle join + window (Spark refuses 8 GiB+
    *     broadcasts outright).
    * The fallbacks keep 100 TB safe: the in-row path never holds more
    * than cap×16 B on the driver, and past the cap the plan is exactly
    * the shape that survived the sf30/sf100 sweeps. Multiset equality of
    * the in-row and window forms is pinned in OpsSpec (ties carry equal
    * hash values, so even tie-order differences cannot change the
    * emitted multiset). */
  private[graft] def rankedPostings(sh: DataFrame, what: String,
      rankCap: Long = MaxRankMapRows): DataFrame = {
    val postings = sh.select(col("__blk"), col("__id"),
      size(col("__sh")).as("__n"), // int
      explode(col("__sh")).as("__s0"))
      .withColumn("__s", xxhash64(col("__blk"), col("__s0"))).drop("__s0", "__blk")
    def freqAgg = postings.groupBy("__s")
      .agg(count(lit(1)).as("__f")).filter(col("__f") > 1)
    // ONE bounded driver collect decides the strategy AND fetches the
    // table (limit cap+1, no separate count job — same discipline as the
    // vocabulary broadcast gate): cap×16 B of arrays, default 128 MB
    val collected: Option[Array[org.apache.spark.sql.Row]] = {
      val cap = math.max(0L, math.min(rankCap, (Int.MaxValue - 2).toLong)).toInt
      val rows = freqAgg.limit(cap + 1).collect()
      if (rows.length <= cap) Some(rows)
      else {
        System.err.println(s"[dedup] $what: over in-row rank cap " +
          s"$cap — window-rank fallback")
        None
      }
    }
    collected match {
      case Some(rows) =>
        val pairs = rows.map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
        val bc = sh.sparkSession.sparkContext.broadcast(
          new PostingFreq(pairs.map(_._1), pairs.map(_._2)))
        // column order matches the window form (__s first): the d9
        // multi-pass scratch parquet and the parity spec's except() both
        // see one schema regardless of strategy
        sh.select(col("__id"), size(col("__sh")).as("__n"),
            posexplode(TextExprs.rankPostings(xxhash64(col("__blk")), col("__sh"), bc))
              .as(Seq("__r0", "__s")))
          .select(col("__s"), col("__id"), col("__n"),
            (col("__r0") + lit(1)).as("__rank"))
      case None =>
        val fj = broadcastIfUnder(freqAgg, MaxBroadcastRows, what)
        postings.join(fj, Seq("__s"), "left")
          .withColumn("__f", coalesce(col("__f"), lit(1L)))
          .withColumn("__rank", row_number().over(
            Window.partitionBy("__id").orderBy(col("__f"), col("__s"))))
          .drop("__f")
    }
  }

  /** Entry cap for the in-row rank map (count of REPEATED shingles, not
    * postings): 8M × 16 B = 128 MB of driver arrays / broadcast payload.
    * Past it, [[rankedPostings]] falls back to the window form. */
  private[graft] val MaxRankMapRows: Long = 8000000L

  /** PPJoin candidate pairs: distinct (id_a, id_b) that could reach the
    * threshold — every qualifying pair is present (exact recall), and
    * posting-list skew is bounded because only each set's rarest
    * (n − ⌈t·n⌉ + 1) shingles enter the join. */
  private[graft] def jaccardCandidates(sh: DataFrame,
      thresholdNum: Int, thresholdDen: Int): DataFrame = {
    // candidate generation runs in 64-bit hash space: the frequency agg
    // and the self-join shuffle 8-byte keys instead of ~30-byte shingle
    // strings. Recall bound: a qualifying pair can only be missed if two
    // of its SHARED shingles collide under xxhash64 (merging two shared
    // elements lowers hash-jaccard: (i-1)/(u-1) < i/u), i.e. a specific
    // 2^-64-scale collision inside one document's shingle set —
    // negligible, but not exactly zero. Collisions that merge non-shared
    // elements only RAISE hash-jaccard, which adds candidates; the exact
    // array_intersect verification removes any such false positive, so
    // precision is exact.
    // posting diet (same as containmentPairs): the block is FOLDED into
    // the 64-bit shingle hash (one 8-byte key everywhere; a cross-block
    // collision only ADDS a candidate, which verification rejects via
    // its block-equality check) and counts travel as 4-byte ints
    val ranked = rankedPostings(sh, "jaccard shingle-frequency table")
    // prefix length n - ceil(t*n) + 1 in exact integer arithmetic
    // ONE shared exchange for the self-join (guide §2.4 "two operations
    // keyed the same way can share one exchange"): both sides of a
    // PPJoin self-join are the SAME prefix-filtered postings, so an
    // explicit hash repartition on the join key makes the second side a
    // ReusedExchange — before, each side shipped its own copy of the
    // prefix postings through an independent Exchange(__s)
    val prefix = ranked.filter(col("__rank") <=
      col("__n") - expr(
        s"(cast(__n as bigint) * $thresholdNum + $thresholdDen - 1) div $thresholdDen") + 1)
      .repartition(col("__s"))
    val a = prefix.select(col("__s"), col("__id").as("id_a"),
      col("__n").as("__na"), col("__rank").as("__pa"))
    val b = prefix.select(col("__s"), col("__id").as("id_b"),
      col("__n").as("__nb"), col("__rank").as("__pb"))
    // PPJoin companion filters (both exactness-preserving):
    //  - length: jaccard >= t forces t*|A| <= |B| <= |A|/t
    //  - positional: a pair needs overlap alpha = ceil(t/(1+t)*(na+nb));
    //    matching at prefix positions (pa, pb) caps the achievable
    //    overlap at 1 + min(na-pa, nb-pb). The pair's FIRST common
    //    prefix shingle gives the tightest bound and survives whenever
    //    the pair truly qualifies, so filtering every match row is safe.
    // Measured at sf1: candidate rows 14.9M -> the filters exist because
    // short template-heavy docs otherwise flood the verify stage.
    // Comparisons widen to long POST-join — wide math costs nothing in
    // the shuffle rows.
    val alpha = expr(
      s"($thresholdNum * (cast(__na as bigint) + __nb) + $thresholdNum + $thresholdDen - 1) " +
        s"div ($thresholdNum + $thresholdDen)")
    a.join(b, Seq("__s"))
      .filter(col("id_a") < col("id_b"))
      .filter(col("__nb").cast("long") * thresholdDen >=
          col("__na").cast("long") * thresholdNum &&
        col("__na").cast("long") * thresholdDen >=
          col("__nb").cast("long") * thresholdNum)
      .filter(lit(1L) + least(col("__na") - col("__pa"),
        col("__nb") - col("__pb")).cast("long") >= alpha)
      .select("id_a", "id_b").distinct()
  }

  /** 64-bit SimHash: per-token hash votes on each bit; the sign of the
    * vote sum sets the bit. MAP-ONLY via the codegen kernel
    * (TextExprs.simhash): the whole vote tally runs within the row — the
    * previous explode + 64-conditional-sums groupBy shuffled every
    * token's hash and burned 64 CASE evaluations per token (the r18
    * rewrite; bit-equality with that agg formulation pinned in OpsSpec).
    * Token-less docs yield null and are filtered, matching the agg
    * formulation's empty group. */
  def simhash(df: DataFrame, textCol: String, idCol: String): DataFrame =
    // the token-less filter tests the LOWERCASED text, not the kernel
    // result: tokenization lowercases FIRST, and a few code points map
    // into ASCII \w only under lowercasing (U+212A KELVIN SIGN -> 'k',
    // U+0130 -> 'i' + combining dot — the r18 ADVICE catch), so testing
    // the raw text would drop docs the agg oracle scores. A doc
    // tokenizes to nothing iff lower(text) has no \w char, so this
    // filter matches the kernel's null set exactly; filtering on
    // isNotNull(simhash) instead would be pushed below the projection
    // and evaluate the kernel TWICE per row (guide §4.4 duplicate-eval)
    ensureParallelism(df)
      .where(lower(col(textCol)).rlike("\\w"))
      .select(col(idCol), TextExprs.simhash(col(textCol)).as("simhash"))

  /** The explode + groupBy reference formulation of [[simhash]] — kept
    * as the bit-equality oracle for the kernel (pinned in OpsSpec). */
  private[graft] def simhashAgg(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val toks = ensureParallelism(
      df.select(col(idCol), tokens(col(textCol)).as("__toks")))
      .select(col(idCol), explode(col("__toks")).as("tok"))
      .withColumn("h", xxhash64(col("tok")))
    val bitSums = (0 until 64).map { b =>
      sum(when(col("h").bitwiseAND(lit(1L << b)) =!= 0L, 1).otherwise(-1)).as(s"b$b")
    }
    toks.groupBy(col(idCol))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col(idCol),
        (0 until 64).map(b => when(col(s"b$b") > 0, lit(1L << b)).otherwise(0L))
          .reduce((x, y) => x.bitwiseOR(y)).as("simhash"))
  }

  /** Hamming distance between simhash values (for near-dup by simhash). */
  def hammingDist(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Embedding near-dup: pairs with cosine >= threshold among LSH-bucketed
    * candidates (random-hyperplane signatures; see Similarity.planes).
    *
    * nPlanes <= 0 (the scale default) sizes the signature from the corpus:
    * planes = log2(count/64), so expected bucket occupancy stays ~64 and
    * the candidate join stays ~64·n pairs — FIXED planes make bucket
    * occupancy grow linearly with the corpus and the join quadratically
    * (measured: 22× runtime on 10× vectors at 10x bench scale). The
    * recall trade of a single-table LSH at higher planes is inherent;
    * raise `threshold`-adjacent recall with multiple tables (e2's
    * multi-probe path) when it matters. */
  /** Broadcast-else-shuffle guard for corpus-DERIVED join tables (the
    * repeated-shingle frequency map, the flagged-span map): these scale
    * with the corpus, and Spark hard-refuses any broadcast over 8 GiB —
    * d7 at 10x the sf10 corpus died with "Cannot broadcast the table
    * that is larger than 8.0 GiB". The table is persisted through
    * [[Caches]] so the sizing count and the downstream join pay its
    * compute once; over `maxRows` it joins as a plain (AQE-planned)
    * shuffle side instead. Same discipline as TextAnalysis's floored
    * vocabulary tables. */
  /** `weight` prices each row in FIXED-WIDTH-ROW units: the cap is
    * calibrated for ~16-byte (long, long) rows, so a table whose rows
    * carry variable-length payloads (the span map's collect_list arrays)
    * must charge per ELEMENT, not per row — a row count is a byte proxy
    * only when rows are fixed-width, and an 8 GiB+ broadcast could
    * otherwise pass the row-count guard and hard-fail at extreme scale. */
  private[graft] def broadcastIfUnder(df: DataFrame, maxRows: Long,
      what: String, weight: Option[Column] = None): DataFrame = {
    val cached = Caches.track(df)
    val n = weight match {
      case Some(w) =>
        cached.agg(sum(w).cast("long")).collect()(0) match {
          case r if r.isNullAt(0) => 0L
          case r => r.getLong(0)
        }
      case None => cached.count()
    }
    if (n <= maxRows) broadcast(cached)
    else {
      System.err.println(
        s"[dedup] $what: weighted size $n over broadcast cap $maxRows — shuffle join")
      cached
    }
  }

  /** Row cap for [[broadcastIfUnder]]: ~16-byte (long, int) rows build a
    * HashedRelation well under Spark's 8 GiB broadcast ceiling at this
    * count, and a few hundred MB on the wire is still a sane executor
    * fan-out on a large cluster. */
  private[graft] val MaxBroadcastRows: Long = 60000000L

  /** Corpus-sized signature width: smallest planes with expected bucket
    * occupancy <= 64, floored at 4 (buckets = 2^planes, occupancy = n/2^planes).
    * Candidate-join volume is then bounded by ~64·n at any corpus size. */
  private[graft] def autoPlanes(n: Long): Int =
    math.max(4, math.ceil(
      math.log(math.max(1.0, n / 64.0)) / math.log(2)).toInt)

  def embeddingNearDups(emb0: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nPlanes: Int = 0): DataFrame = {
    val emb = Par.ensure(emb0)
    val planes = if (nPlanes > 0) nPlanes else autoPlanes(emb.count())
    val sig = emb.withColumn("__sig", Similarity.signature(col(vecCol), planes))
    val l = sig.select(col("__sig"), col(idCol).as("a"), col(vecCol).as("va"))
    val r = sig.select(col("__sig"), col(idCol).as("b"), col(vecCol).as("vb"))
    l.join(r, "__sig").filter(col("a") < col("b"))
      .withColumn("cosine", Similarity.cosine(col("va"), col("vb")))
      .filter(col("cosine") >= threshold)
      .select("a", "b", "cosine")
  }
}
