package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.ops._

/** North-star ops: dedup, similarity, text analysis, multimodal, events. */
class OpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()
  private val sfDir = "/root/testdata/sf0.001"
  import scala.jdk.CollectionConverters._

  private def docs = spark.read.parquet(s"$sfDir/documents.parquet")

  test("autoPlanes bounds expected LSH bucket occupancy at ~64 for any corpus") {
    // floor: tiny corpora still spread across 2^4 buckets
    assert(Dedup.autoPlanes(0) == 4)
    assert(Dedup.autoPlanes(1000) == 4)
    // occupancy n/2^planes stays in (32, 64] once past the floor, so the
    // candidate self-join is bounded by ~64*n rows at ANY corpus size —
    // a fixed plane count is quadratic in n instead
    for (n <- Seq(10000L, 200000L, 10000000L, 1000000000L, 100000000000L)) {
      val p = Dedup.autoPlanes(n)
      val occ = n.toDouble / (1L << p)
      assert(occ <= 64.0, s"n=$n planes=$p occupancy=$occ")
      assert(occ > 32.0, s"n=$n planes=$p occupancy=$occ (oversharded)")
      assert(p < 63, s"n=$n planes=$p must fit a long signature")
    }
    // monotone: more corpus never means fewer planes
    assert(Dedup.autoPlanes(200000) >= Dedup.autoPlanes(20000))
  }

  test("exact dedup finds duplicates when present") {
    val withDups = docs.unionByName(
      docs.limit(5).withColumn("doc_id", col("doc_id") + 100000))
    val deduped = Dedup.exact(withDups, "text", "doc_id")
    assert(deduped.count() == docs.count()) // 5 dup texts collapse
    assert(deduped.filter("copies = 2").count() == 5)
    // representative = min id (the original)
    assert(deduped.filter("copies = 2").filter("keep_id >= 100000").count() == 0)
    val survivors = Dedup.exactSurvivors(withDups, "text", "doc_id")
    assert(survivors.count() == docs.count())
  }

  test("repetition-stats kernel equals the agg formulation (incl. edge docs)") {
    import spark.implicits._
    val edge = Seq((900L, ""), (901L, "one"), (902L, "two words"),
      (903L, "a a a a"), (904L, "x y x y x y")).toDF("doc_id", "text")
    val sample = docs.limit(40).select(col("doc_id"), col("text")).unionByName(edge)
    // the pre-kernel agg formulation, verbatim
    val base = sample
      .select(col("doc_id"), Dedup.tokens(col("text")).as("__toks"))
      .withColumn("n_tokens", size(col("__toks")).cast("long"))
      .withColumn("dup_token_ratio",
        when(col("n_tokens") > 0,
          lit(1.0) - size(array_distinct(col("__toks"))).cast("double") /
            col("n_tokens")).otherwise(lit(0.0)))
    val top = base.filter(col("n_tokens") >= 2)
      .select(col("doc_id"), explode(zip_with(
        slice(col("__toks"), lit(1), (col("n_tokens") - 1).cast("int")),
        slice(col("__toks"), lit(2), (col("n_tokens") - 1).cast("int")),
        (a, b) => concat_ws(" ", a, b))).as("__bg"))
      .groupBy(col("doc_id"), col("__bg")).agg(count(lit(1)).as("__c"))
      .groupBy(col("doc_id"))
      .agg((max(col("__c")).cast("double") / sum(col("__c"))).as("top_bigram_frac"))
    val agg = base.drop("__toks").join(top, Seq("doc_id"), "left")
      .na.fill(0.0, Seq("top_bigram_frac"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    val ker = graft.ops.TextAnalysis.repetitionMetrics(sample, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(agg == ker, (agg.toSet diff ker.toSet).toString)
  }

  test("codegen window-hash kernel is bit-exact with the HOF formulation") {
    val W = 8
    val sample = docs.limit(50).select(col("doc_id"), col("text"))
    val hof = sample.select(col("doc_id"), Dedup.tokens(col("text")).as("__w"))
      .filter(size(col("__w")) >= W)
      .select(col("doc_id"), expr(
        s"transform(sequence(0, size(__w) - $W), " +
          s"i -> xxhash64(concat_ws(' ', slice(__w, i + 1, $W))))").as("h"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val ker = sample.select(col("doc_id"),
        graft.ops.TextExprs.windowHashes(col("text"), W).as("h"))
      .filter(size(col("h")) > 0)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(hof.nonEmpty && hof == ker)
    // short docs yield an EMPTY array (the HOF's size guard), and the
    // generated Java compiles with codegen fallback disabled
    import spark.implicits._
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val short = Seq((1L, "only three tokens"), (2L, "")).toDF("doc_id", "text")
        .select(graft.ops.TextExprs.windowHashes(col("text"), W).as("h"))
        .collect()
      assert(short.forall(_.getSeq[Long](0).isEmpty))
    } finally spark.conf.set("spark.sql.codegen.fallback", "true")
  }

  test("substring dedup flags an injected boilerplate span, exactly") {
    import spark.implicits._
    // three docs with UNIQUE bodies, two of them carrying the same
    // 10-token license header at a known offset; windows are 8 tokens,
    // so the header is the ONLY cross-doc repeat
    val license = (1 to 10).map(i => s"license$i").mkString(" ")
    def body(tag: String) = (1 to 30).map(i => s"$tag$i").mkString(" ")
    val df = Seq(
      (1L, s"$license ${body("alpha")}"),        // header at tokens 0..9
      (2L, s"${body("beta")} $license"),         // header at tokens 30..39
      (3L, body("gamma"))                        // clean
    ).toDF("doc_id", "text")
    val spans = Dedup.substringSpans(df, "text", "doc_id",
      windowTokens = 8, minDocs = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // the flagged region is exactly the tokens covered by shared
    // 8-windows: all 10 header tokens in both carriers, nothing else
    assert(spans == Set((1L, 0L, 9L, 10L), (2L, 30L, 39L, 10L)), spans.toString)

    // a repeat WITHIN one document does not flag (distinct-doc counting)
    val selfRep = Seq((9L, s"$license $license")).toDF("doc_id", "text")
    assert(Dedup.substringSpans(df.unionByName(selfRep).filter("doc_id = 9"),
      "text", "doc_id", 8, 2).count() == 0)

    // two adjacent shared spans in one doc merge into one maximal island
    val both = Seq(
      (21L, s"$license ${body("delta")}"),
      (22L, s"${body("eps")} $license"),
      (23L, s"$license $license ${body("zeta")}")).toDF("doc_id", "text")
    val merged = Dedup.substringSpans(both, "text", "doc_id", 8, 2)
      .filter("doc_id = 23").collect()
    assert(merged.length == 1 && merged.head.getLong(1) == 0 &&
      merged.head.getLong(2) == 19, merged.mkString(","))

    // the removal side: carriers lose exactly the header, clean doc
    // passes through token-joined and untouched
    val cleaned = Dedup.substringClean(df, "text", "doc_id", 8, 2).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(cleaned(1L) == ((body("alpha"), 30L, 10L)), cleaned(1L).toString)
    assert(cleaned(2L) == ((body("beta"), 30L, 10L)))
    assert(cleaned(3L) == ((body("gamma"), 30L, 0L)))
  }

  test("near-identical docs land in the same LSH bucket and verify high") {
    import spark.implicits._
    // doc B = doc A with one word changed -> jaccard close to 1
    val base = docs.limit(3).select("doc_id", "text").as[(Long, String)].collect()
    val variants = base.map { case (id, t) =>
      (id + 5000, t.replaceFirst("\\w+", "zzz")) }
    val df = (base ++ variants).toSeq.toDF("doc_id", "text")
    val pairs = Dedup.nearDupPairs(df, "text", "doc_id",
      threshold = 0.5, k = 32, bands = 16).collect()
    // each original should pair with its variant
    val found = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    base.foreach { case (id, _) =>
      assert(found.contains((id, id + 5000)), s"missing pair for $id: ${found.mkString(",")}")
    }
  }

  test("exact Jaccard pairs: hand-computed counts, blocking, short docs") {
    import spark.implicits._
    val df = Seq(
      // en block: a/b share 3 of 4+4 trigrams -> J = 3/5 (>= 1/2, < 4/5)
      (1L, "en", "the quick brown fox jumps over"),
      (2L, "en", "the quick brown fox jumps far"),
      // identical pair -> J = 1
      (3L, "en", "pack my box with five dozen jugs"),
      (4L, "en", "pack my box with five dozen jugs"),
      // same text as 1 but different block -> must NOT pair with 1
      (5L, "fr", "the quick brown fox jumps over"),
      // under 3 tokens: no shingles, never appears
      (6L, "en", "two words")
    ).toDF("doc_id", "lang", "text")
    val half = Dedup.jaccardExactPairs(df, "text", "doc_id", "lang",
      thresholdNum = 1, thresholdDen = 2).collect()
    val got = half.map(r => ((r.getLong(0), r.getLong(1)),
      (r.getLong(2), r.getLong(3)))).toMap
    assert(got.keySet == Set((1L, 2L), (3L, 4L)))
    assert(got((1L, 2L)) == ((3L, 5L)))   // trigram sets overlap 3, union 5
    assert(got((3L, 4L)) == ((5L, 5L)))   // 7 tokens -> 5 trigrams, identical
    val strict = Dedup.jaccardExactPairs(df, "text", "doc_id", "lang",
      thresholdNum = 4, thresholdDen = 5).collect()
    assert(strict.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((3L, 4L)))
  }

  test("clustersFromPairs: min-label propagation finds exact components") {
    import spark.implicits._
    // chain 1-2-3-4 (diameter 3: takes several rounds), pair 10-11,
    // triangle 20-21-22, and an isolated pair touching a chain member
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("id_a", "id_b")
    val got = Dedup.clustersFromPairs(pairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("clustersFromPairs telemetry pins rounds = diameter + 1 on a chain") {
    import spark.implicits._
    // chain 1-2-...-10: the min label walks one hop per round (9 hops),
    // plus one final no-change round to detect convergence
    val pairs = (1L until 10L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.clustersFromPairs(pairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (1L to 10L).map(_ -> 1L).toMap)
    assert(Dedup.ClusterStats.rounds == 10)
    assert(Dedup.ClusterStats.changedPerRound.size == 10)
    assert(Dedup.ClusterStats.changedPerRound.last == 0L)
  }

  test("label propagation: observe-fused changed-count saves a job per round") {
    import spark.implicits._
    // r19 fusion: the changed-label count rides the checkpoint job as an
    // observed metric instead of a separate count() job per round. An
    // ABSOLUTE job budget is untestable here — AQE materializes each
    // exchange as its own Spark job, so one logical action fans out into
    // several jobs — so assert DIFFERENTIALLY: the same loop with a zero
    // observed-metric wait (every round takes the count-job fallback)
    // must pay at least ~one extra job per round.
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    def jobsFor(body: => Unit): Int = {
      spark.sparkContext.addSparkListener(listener)
      try {
        jobs.set(0)
        body
        // the listener bus is async: poll until the count is stable 1s
        var last = -1
        var stable = 0
        while (stable < 10) {
          Thread.sleep(100)
          val c = jobs.get
          if (c == last) stable += 1 else { stable = 0; last = c }
        }
        jobs.get
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    val pairs = (1L until 10L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val fused = jobsFor(Dedup.clustersFromPairs(pairs, "id_a", "id_b").collect())
    val rounds = Dedup.ClusterStats.rounds
    assert(rounds == 10) // chain of diameter 9 -> 10 rounds
    val unfused = jobsFor(Dedup.clustersFromPairs(pairs, "id_a", "id_b",
      observeWait = scala.concurrent.duration.Duration.Zero).collect())
    assert(Dedup.ClusterStats.rounds == rounds)
    // identical plans either way except the per-round count() job; allow
    // slack of 2 for scheduler/AQE job-count jitter between the runs
    assert(unfused - fused >= rounds - 2,
      s"fused=$fused unfused=$unfused rounds=$rounds — observe fusion " +
        "is not saving the per-round count job?")
  }

  test("mixKey: overflow-safe over the full long id range, bit-equal to the naive form where it fits") {
    import spark.implicits._
    // ids beyond ~3.47e9 overflow the naive id*2654435761 in int64 —
    // the decomposed mix must still equal the exact BigInt semantics
    val ids = Seq(0L, 1L, 65535L, 65536L, 123456789L, 3470000000L,
      4294967295L, 4294967296L, 87654321098L, Long.MaxValue)
    val got = ids.toDF("id")
      .select(col("id"), Corpus.mixKey(col("id")).as("k"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    ids.foreach { id =>
      val exact = ((BigInt(id).mod(BigInt(2).pow(32)) * BigInt(2654435761L) +
        BigInt(1013904223L)).mod(BigInt(2).pow(32))).toLong
      assert(got(id) == exact, s"id=$id")
      if (id < 3400000000L) // naive form doesn't overflow here
        assert(got(id) == (id * 2654435761L + 1013904223L) % 4294967296L)
    }
  }

  test("threshold-cut sampling is bit-equal to the window formulation") {
    import spark.implicits._
    // skewed mix: one dominant source (the 100-TB shape the cut exists
    // for) + two small ones
    val rows = (0L until 900L).map(i => (i, "web")) ++
      (900L until 950L).map(i => (i, "books")) ++
      (950L until 1000L).map(i => (i, "code"))
    val df = rows.toDF("doc_id", "source")
    val parts = Map("web" -> 5, "books" -> 1, "code" -> 1)
    def keys(d: org.apache.spark.sql.DataFrame) =
      d.select("doc_id", "source").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
    val window = keys(OracleForms.mixtureSampleWindow(df, "source", "doc_id", parts))
    val cut = keys(Corpus.mixtureSample(df, "source", "doc_id", parts))
    assert(cut == window)
    // forced-fallback: a slack so small every group goes deficient —
    // the exact-window fallback must still produce the identical set
    val cutTiny = keys(Corpus.mixtureSample(df, "source", "doc_id", parts,
      slack = 1e-9))
    assert(cutTiny == window)
    // stratified: same equality on the real fixture
    val strataW = OracleForms.stratifiedSampleWindow(docs, "lang", "doc_id", 7)
      .select("lang", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val strataC = TextAnalysis.stratifiedSample(docs, "lang", "doc_id", 7)
      .select("lang", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(strataC == strataW && strataC.nonEmpty)
    val strataTiny = TextAnalysis.stratifiedSample(docs, "lang", "doc_id", 7,
      slack = 1e-9)
      .select("lang", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(strataTiny == strataW)
    // r19: the threshold table is a driver-materialized local relation
    // (one corpus scan instead of re-deriving counts behind every
    // broadcast build) up to `groupCap` groups, the lazy plan past it.
    // Run both ops at the real boundary — cap = group count keeps the
    // driver table, cap = group count - 1 takes the plan form — and pin
    // identical selections on each side.
    val mixQuotas = Corpus.mixtureQuotas(df, "source", parts)
    val strataQuotas = docs.groupBy(col("lang")).agg(count(lit(1)).as("__n"))
      .withColumn("__quota", lit(7L))
    val nStrata = strataQuotas.count().toInt
    assert(nStrata > 1)
    for (cap <- Seq(parts.size, parts.size - 1))
      assert(keys(Corpus.takeSmallestByMixKey(df, "source", "doc_id",
        mixQuotas, groupCap = cap)) == window, s"mixture groupCap=$cap")
    for (cap <- Seq(nStrata, nStrata - 1)) {
      val strata = Corpus.takeSmallestByMixKey(docs, "lang", "doc_id",
          strataQuotas, groupCap = cap)
        .select("lang", "doc_id").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      assert(strata == strataW, s"stratified groupCap=$cap")
    }
  }

  test("mixtureSample: a source listed in parts but absent from the data zeroes the budget") {
    import spark.implicits._
    val df = (0L until 50L).map(i => (i, if (i < 40) "web" else "books"))
      .toDF("doc_id", "source")
    // "news" has zero rows -> B = min(..., 0) = 0 -> empty result (the
    // scarcest source sets the budget; r8 ADVICE item)
    val kept = Corpus.mixtureSample(df, "source", "doc_id",
      Map("web" -> 3, "books" -> 1, "news" -> 2))
    assert(kept.count() == 0)
    val keptW = OracleForms.mixtureSampleWindow(df, "source", "doc_id",
      Map("web" -> 3, "books" -> 1, "news" -> 2))
    assert(keptW.count() == 0)
  }

  test("jaccardClusters marks one survivor per near-dup component") {
    val out = Dedup.jaccardClusters(docs.select("doc_id", "lang", "text"),
      "text", "doc_id", "lang").collect()
    assert(out.nonEmpty)
    val byRep = out.groupBy(_.getLong(1))
    byRep.foreach { case (rep, members) =>
      assert(members.count(_.getBoolean(2)) == 1, s"cluster $rep needs exactly one survivor")
      assert(members.map(_.getLong(0)).min == rep, s"survivor must be the min id")
    }
    // clusters must cover exactly the docs appearing in qualifying pairs
    val pairDocs = Dedup.jaccardExactPairs(docs.select("doc_id", "lang", "text"),
      "text", "doc_id", "lang")
      .select(org.apache.spark.sql.functions.col("id_a").as("d"))
      .union(Dedup.jaccardExactPairs(docs.select("doc_id", "lang", "text"),
        "text", "doc_id", "lang").select(org.apache.spark.sql.functions.col("id_b").as("d")))
      .distinct().collect().map(_.getLong(0)).toSet
    assert(out.map(_.getLong(0)).toSet == pairDocs)
  }

  test("prefix filter bounds a degenerate block-common shingle") {
    import spark.implicits._
    // 500 docs that all share the same opening trigram but are otherwise
    // unique: raw posting self-join on the shared shingle alone would be
    // 500*499/2 ≈ 125k rows; the PPJoin prefix must exclude it (it is the
    // most frequent shingle, so it never lands in any doc's rare prefix)
    val df = (0 until 500).map { i =>
      (i.toLong, "xx", s"aaa bbb ccc u${i}a u${i}b u${i}c u${i}d u${i}e u${i}f u${i}g")
    }.toDF("doc_id", "lang", "text")
    val sh = Dedup.shingleSets(df, "text", "doc_id", "lang", 3)
    val cands = Dedup.jaccardCandidates(sh, 4, 5).count()
    assert(cands < 2000, s"posting skew not bounded: $cands candidate pairs")
    // and no pair actually qualifies at 4/5
    assert(Dedup.jaccardExactPairs(df, "text", "doc_id", "lang").count() == 0)
  }

  test("posting-diet recall contract: engineered cross-block candidate " +
      "is rejected by verification on both d7 and d9 paths") {
    import spark.implicits._
    // The posting diet folds the block into a 64-bit shingle hash, so a
    // 2^-64 hash collision could (in principle) smuggle a CROSS-BLOCK
    // pair into the candidate set. xxhash64 collisions can't be forced
    // in a test, so plant the exact candidate such a collision would
    // produce — two docs in DIFFERENT blocks with IDENTICAL text, i.e.
    // shingle sets that pass the intersection check perfectly — and pin
    // that verification's block-equality recheck rejects it while the
    // same-block control pair (same texts, same block) passes.
    val shared = "the quick brown fox jumps over the lazy dog tonight"
    val df = Seq(
      (1L, "en", shared), // cross-block pair (1,2): identical text,
      (2L, "fr", shared), //   different block — MUST be rejected
      (3L, "en", shared), // same-block control (1,3): MUST pass
      (4L, "fr", shared)  // same-block control (2,4): MUST pass
    ).toDF("doc_id", "lang", "text")
    val sh = Dedup.shingleSets(df, "text", "doc_id", "lang", 3)
    // forced candidate set: every unordered pair, including cross-block
    val cands = Seq((1L, 2L), (1L, 3L), (2L, 4L), (1L, 4L), (2L, 3L), (3L, 4L))
      .toDF("id_a", "id_b")
    val d7 = Dedup.verifyJaccardPairs(cands, sh, 4, 5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(d7 == Set((1L, 3L), (2L, 4L)),
      s"d7 verification must keep exactly the same-block pairs: $d7")
    val d9 = Dedup.verifyContainmentPairs(cands, sh, 4, 5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(d9 == Set((1L, 3L), (2L, 4L)),
      s"d9 verification must keep exactly the same-block pairs: $d9")
  }

  test("PPJoin path equals brute-force all-pairs jaccard on real docs") {
    val df = docs.select("doc_id", "lang", "text")
    for ((num, den) <- Seq((4, 5), (1, 2))) {
      val fast = Dedup.jaccardExactPairs(df, "text", "doc_id", "lang",
        thresholdNum = num, thresholdDen = den)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      // brute force: all pairs within a block, exact set intersection
      val sh = Dedup.shingleSets(df, "text", "doc_id", "lang", 3)
      val l = sh.select(col("__blk"), col("__id").as("id_a"), col("__sh").as("sa"))
      val r = sh.select(col("__blk"), col("__id").as("id_b"), col("__sh").as("sb"))
      val brute = l.join(r, "__blk").filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          size(array_intersect(col("sa"), col("sb"))).cast("long").as("nc"),
          (size(col("sa")) + size(col("sb"))).cast("long").as("tot"))
        .select(col("id_a"), col("id_b"), col("nc"), (col("tot") - col("nc")).as("nu"))
        .filter(col("nc") * den >= col("nu") * num)
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3))).toSet
      assert(fast == brute, s"t=$num/$den: fast ${fast.size} vs brute ${brute.size}")
    }
  }

  test("d3 emits zero false positives: every pair re-verifies at exact jaccard") {
    // the LSH gate claims exact-jaccard >= threshold for every emitted
    // pair; recompute from scratch with the set-intersection formulation
    val threshold = 0.2
    val pairs = Dedup.nearDupPairs(docs, "text", "doc_id",
      threshold = threshold, k = 16, bands = 8)
    val sh = docs.select(col("doc_id"), Dedup.shingles(col("text"), 3).as("sh"))
    val recomputed = pairs
      .join(sh.select(col("doc_id").as("a"), col("sh").as("sa")), "a")
      .join(sh.select(col("doc_id").as("b"), col("sh").as("sb")), "b")
      .select(col("a"), col("b"), col("jaccard"),
        (size(array_intersect(col("sa"), col("sb"))).cast("double") /
          (size(col("sa")) + size(col("sb")) -
            size(array_intersect(col("sa"), col("sb")))).cast("double")).as("exact"))
      .collect()
    assert(recomputed.nonEmpty, "fixture produced no pairs — gate untested")
    recomputed.foreach { r =>
      assert(r.getDouble(3) >= threshold,
        s"false positive: (${r.get(0)},${r.get(1)}) exact=${r.getDouble(3)}")
      assert(math.abs(r.getDouble(2) - r.getDouble(3)) < 1e-9,
        s"gate jaccard ${r.getDouble(2)} != recomputed ${r.getDouble(3)}")
    }
  }

  test("d5 emits zero false positives: every pair re-verifies at exact cosine") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .withColumn("embedding", col("embedding").cast("array<double>"))
    val threshold = 0.25
    val pairs = Dedup.embeddingNearDups(emb, "vec_id", "embedding",
      threshold = threshold)
    val v = emb.select(col("vec_id"), col("embedding"))
    val recomputed = pairs
      .join(v.select(col("vec_id").as("a"), col("embedding").as("va")), "a")
      .join(v.select(col("vec_id").as("b"), col("embedding").as("vb")), "b")
      .select(col("a"), col("b"), col("cosine"),
        (aggregate(zip_with(col("va"), col("vb"), (x, y) => x * y),
          lit(0.0), (acc, x) => acc + x) /
          (sqrt(aggregate(col("va"), lit(0.0), (acc, x) => acc + x * x)) *
           sqrt(aggregate(col("vb"), lit(0.0), (acc, x) => acc + x * x)))).as("exact"))
      .collect()
    assert(recomputed.nonEmpty, "fixture produced no pairs — gate untested")
    recomputed.foreach { r =>
      assert(r.getDouble(3) >= threshold,
        s"false positive: (${r.get(0)},${r.get(1)}) exact=${r.getDouble(3)}")
      assert(math.abs(r.getDouble(2) - r.getDouble(3)) < 1e-6,
        s"gate cosine ${r.getDouble(2)} != recomputed ${r.getDouble(3)}")
    }
  }

  test("mm2 stub features are pinned to golden values") {
    import spark.implicits._
    // golden vectors computed from the documented stub semantics: width
    // = 1 + |first| % 64, height = 1 + |last| % 64, features = mean byte
    // (unsigned) per 1/8th slice — a change to stubDecode fails here
    val df = Seq(
      (1L, "abc".getBytes("UTF-8")),
      (2L, "0123456789ABCDEF".getBytes("UTF-8")),
      (3L, Array[Byte](-128, -1)),
      (4L, Array.empty[Byte])
    ).toDF("doc_id", "payload")
    val got = Multimodal.extractFeatures(spark, df, "doc_id")
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getSeq[Double](3).toList))).toMap
    assert(got(1L) == ((34, 36, List(97.0, 97.0, 97.0, 98.0, 98.0, 98.0, 99.0, 99.0))))
    assert(got(2L) == ((49, 7, List(48.5, 50.5, 52.5, 54.5, 56.5, 65.5, 67.5, 69.5))))
    assert(got(3L) == ((1, 2, List(128.0, 128.0, 128.0, 128.0, 255.0, 255.0, 255.0, 255.0))))
    assert(got(4L) == ((0, 0, List(0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0))))
  }

  test("jaccard plans: no cartesian product, frequency table broadcasts") {
    // regression guards for the round-5 scale fixes: the verify stage
    // must never re-grow a per-pair |A|x|B| blowup (shows up as a
    // CartesianProduct or a join keyed on one id only), and the
    // candidate stage's frequency join must stay a broadcast
    val d7 = Dedup.jaccardExactPairs(docs, "text", "doc_id", "lang")
    val d7Plan = d7.queryExecution.executedPlan.toString
    assert(!d7Plan.contains("CartesianProduct"), d7Plan.linesIterator.take(5).mkString("\n"))
    assert(d7Plan.contains("BroadcastHashJoin"), "freq join should broadcast")
    val d3 = Dedup.nearDupPairs(docs, "text", "doc_id",
      threshold = 0.2, k = 16, bands = 8)
    val d3Plan = d3.queryExecution.executedPlan.toString
    assert(!d3Plan.contains("CartesianProduct"), d3Plan.linesIterator.take(5).mkString("\n"))
  }

  test("codegen minhash equals the agg formulation and pins spec values") {
    import spark.implicits._
    val df = docs.limit(20).select("doc_id", "text")
    val k = 16; val n = 3
    // reference formulation: explode shingles, min(xxhash64(shingle, i))
    val exploded = df.select(col("doc_id"),
      explode(Dedup.shingles(col("text"), n)).as("shingle"))
    val aggs = (0 until k).map(i => min(xxhash64(col("shingle"), lit(i))).as(s"h$i"))
    val viaAgg = exploded.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id"), array((0 until k).map(i => col(s"h$i")): _*).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    val viaExpr = Dedup.minhashSignatures(df, "text", "doc_id", k, n)
      .as[(Long, Seq[Long])].collect().toMap
    assert(viaExpr.keySet == viaAgg.keySet)
    viaExpr.foreach { case (id, sig) => assert(sig == viaAgg(id), s"doc $id") }
    // pinned vector: stable across refactors (xxhash64 seed-i of shingles)
    val pinned = Seq(("a b c d")).toDF("text").withColumn("doc_id", lit(1L))
    val sig = Dedup.minhashSignatures(pinned, "text", "doc_id", 4, 3)
      .as[(Long, Seq[Long])].head._2
    val shingleSet = Seq("a b c", "b c d")
    val expected = (0 until 4).map { i =>
      shingleSet.map(s => Seq(s).toDF("s")
        .select(xxhash64(col("s"), lit(i))).as[Long].head).min
    }
    assert(sig == expected)
    // shingles expression matches the HOF formulation
    val hofSh = df.select(col("doc_id"), Dedup.shingles(col("text"), n).as("sh"))
      .as[(Long, Seq[String])].collect().toMap
    val exprSh = df.select(col("doc_id"), TextExprs.shingles(col("text"), n).as("sh"))
      .as[(Long, Seq[String])].collect().toMap
    hofSh.foreach { case (id, sh) => assert(exprSh(id).sorted == sh.sorted, s"doc $id") }
    // codegen actually compiles (no silent interpreted fallback)
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try assert(Dedup.minhashSignatures(df, "text", "doc_id", k, n).count() == 20)
    finally spark.conf.set("spark.sql.codegen.fallback", "true")
  }

  test("SQL function registration: iceberg_bucket / graft_minhash / graft_shingles") {
    GraftFunctions.register(spark)
    // spec vector: bucket[4] of long 34 -> 3 (transform_test.cc)
    assert(spark.sql("SELECT iceberg_bucket(CAST(34 AS BIGINT), 4)").head.getInt(0) == 3)
    val row = spark.sql(
      "SELECT graft_minhash('a b c d', 3, 4) AS sig, graft_shingles('a b c d', 3) AS sh").head
    assert(row.getSeq[Long](0).size == 4)
    assert(row.getSeq[String](1) == Seq("a b c", "b c d"))
    // SQL and Column API produce identical signatures
    import spark.implicits._
    val viaSql = spark.sql("SELECT graft_minhash(text, 3, 8) AS s FROM " +
      "(SELECT 'the quick brown fox jumps' AS text)").as[Seq[Long]].head
    val viaCol = Seq("the quick brown fox jumps").toDF("text")
      .select(TextExprs.minhash(col("text"), 3, 8)).as[Seq[Long]].head
    assert(viaSql == viaCol)
    // the extensions entry point wires the same builders
    assert(new GraftExtensions().isInstanceOf[org.apache.spark.sql.SparkSessionExtensions => Unit])
  }

  test("simhash: identical docs same hash, variants nearby") {
    import spark.implicits._
    val base = docs.limit(3).select("doc_id", "text").as[(Long, String)].collect()
    val df = (base ++ base.map { case (id, t) => (id + 5000, t) }).toSeq.toDF("doc_id", "text")
    val hashes = Dedup.simhash(df, "text", "doc_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    base.foreach { case (id, _) => assert(hashes(id) == hashes(id + 5000)) }
  }

  test("codegen cosine kernel matches the HOF formulation and compiles") {
    import org.apache.spark.sql.functions.{aggregate => agg_, _}
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .withColumn("emb", col("embedding").cast("array<double>")).limit(50)
    val pairs = emb.select(col("vec_id").as("ia"), col("emb").as("va"))
      .crossJoin(emb.select(col("vec_id").as("ib"), col("emb").as("vb")))
      .limit(500)
    def hofCosine(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) = {
      val dot = agg_(zip_with(a, b, (x, y) => x * y), lit(0.0d), (s, x) => s + x)
      def nrm(v: org.apache.spark.sql.Column) =
        sqrt(agg_(transform(v, x => x * x), lit(0.0d), (s, x) => s + x))
      dot / (nrm(a) * nrm(b))
    }
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val rows = pairs.select(
        Similarity.cosine(col("va"), col("vb")).as("fast"),
        hofCosine(col("va"), col("vb")).as("ref")).collect()
      rows.foreach { r =>
        assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12,
          s"${r.getDouble(0)} vs ${r.getDouble(1)}")
      }
    } finally spark.conf.set("spark.sql.codegen.fallback", "true")
    // the kernel itself stays codegen (no ScalaUDF / BatchEvalPython)
    val plan = pairs.select(Similarity.cosine(col("va"), col("vb")))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEvalPython"), plan)
  }

  test("codegen LSH signature kernel is bit-exact with the HOF formulation") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .withColumn("emb", col("embedding").cast("array<double>")).limit(200)
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      for ((np, t) <- Seq((6, 0), (6, 7), (10, 3), (63, 1))) {
        val rows = emb.select(
          Similarity.signature(col("emb"), np, t).as("fast"),
          Similarity.signatureHof(col("emb"), np, t).as("ref")).collect()
        rows.foreach(r => assert(r.getLong(0) == r.getLong(1),
          s"np=$np t=$t: ${r.getLong(0)} != ${r.getLong(1)}"))
      }
    } finally spark.conf.set("spark.sql.codegen.fallback", "true")
  }

  test("codegen nearest-cell kernel matches the HOF formulation") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .withColumn("emb", col("embedding").cast("array<double>")).limit(200)
    // deterministic fake centroids spanning the data range
    val dim = emb.select(org.apache.spark.sql.functions.size(col("emb")))
      .head.getInt(0)
    val cents: Seq[Seq[Double]] = (0 until 9).map(c =>
      (0 until dim).map(i => math.sin(c * 37 + i) * 0.5))
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val rows = emb.select(
        graft.ops.VectorExprs.nearestCell(col("emb"),
          cents.map(_.toArray).toArray).as("fast"),
        Similarity.nearestCellHof(col("emb"), cents).as("ref")).collect()
      rows.foreach(r => assert(r.getInt(0) == r.getInt(1),
        s"${r.getInt(0)} != ${r.getInt(1)}"))
    } finally spark.conf.set("spark.sql.codegen.fallback", "true")
  }

  test("as-of join picks the latest at-or-before right row, one shuffle, no join node") {
    import spark.implicits._
    def t(min: Int) = java.sql.Timestamp.valueOf(
      java.time.LocalDateTime.of(2024, 1, 1, 0, 0).plusMinutes(min.toLong))
    val left = Seq(
      (1L, t(5), 10L), (2L, t(15), 10L), (3L, t(2), 20L)
    ).toDF("id", "ts", "k")
    val right = Seq(
      (t(0), 10L, "a"), (t(5), 10L, "b"), (t(10), 10L, "c"), (t(30), 20L, "z")
    ).toDF("ts", "k", "v")
    val out = graft.ops.AsOf.asofJoin(left, right, "k", "ts", Seq("v"))
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    // id 1 @5 -> right @5 "b" (inclusive); id 2 @15 -> @10 "c";
    // id 3 @2 with no prior right row -> null
    assert(out == Map(1L -> "b", 2L -> "c", 3L -> null))
    val plan = graft.ops.AsOf.asofJoin(left, right, "k", "ts", Seq("v"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"as-of must not plan a join:\n$plan")
  }

  test("as-of tieCol resolves equal-ts right duplicates like a pre-dedup window") {
    import spark.implicits._
    def t(min: Int) = java.sql.Timestamp.valueOf(
      java.time.LocalDateTime.of(2024, 1, 1, 0, 0).plusMinutes(min.toLong))
    val left = Seq(
      (1L, t(5), 10L), (2L, t(15), 10L), (3L, t(2), 20L), (4L, t(0), 10L)
    ).toDF("id", "ts", "k")
    // duplicate right rows at one (k, ts): the tie contract must pick
    // the max-tie row, exactly what the r18-era (k, ts) dedup window
    // computed with a second full exchange of the right side
    val right = Seq(
      (t(0), 10L, 7L, "a"), (t(0), 10L, 9L, "a2"),
      (t(5), 10L, 3L, "b"), (t(5), 10L, 1L, "b0"),
      (t(30), 20L, 5L, "z")
    ).toDF("ts", "k", "tie", "v")
    def dump(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => r.getLong(0) ->
        ((Option(r.get(3)).map(_.toString), Option(r.getAs[String](4))))).toMap
    val viaTie = dump(graft.ops.AsOf.asofJoin(
      left, right, "k", "ts", Seq("tie", "v"), tieCol = Some("tie")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("k", "ts").orderBy(col("tie").desc)
    val dedup = right.withColumn("__rn",
        org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    val viaWindow = dump(graft.ops.AsOf.asofJoin(
      left, dedup, "k", "ts", Seq("tie", "v")))
    assert(viaTie == viaWindow)
    // and the winners are the max-tie rows (inclusive at equal ts)
    assert(viaTie(1L) == ((Some("3"), Some("b"))))
    assert(viaTie(4L) == ((Some("9"), Some("a2"))))
    assert(viaTie(3L) == ((None, None)))
  }

  test("brute-force kNN matches naive computation") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .withColumn("emb", col("embedding").cast("array<double>"))
    val queries = emb.filter(col("vec_id") === 0)
      .select(col("vec_id").as("qid"), col("emb").as("qv"))
    val topk = Similarity.bruteForceTopK(emb, queries, "vec_id", "emb", "qid", "qv", 3)
      .collect().map(r => r.getAs[Long]("neighbor_id"))
    // naive driver-side check
    val all = emb.select("vec_id", "emb").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    val q = all.find(_._1 == 0L).get._2
    def cos(a: Array[Double], b: Array[Double]) = {
      val d = a.zip(b).map(t => t._1 * t._2).sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val expected = all.filter(_._1 != 0L)
      .map { case (id, v) => (id, cos(q, v)) }
      .sortBy { case (id, c) => (-c, id) }.take(3).map(_._1)
    assert(topk.toSeq == expected.toSeq)
  }

  test("e2 ANN recall@5 vs brute force is pinned at the query's settings") {
    // EXACT e2_ann_lsh settings (SparkEntry): corpus-sized planes
    // (nPlanes=0 -> autoPlanes), nTables=8, probeBits=2, k=5, queries
    // vec_id < 5 (fixed data, fixed hash seeds -> deterministic);
    // 0.75 leaves noise margin only.
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .withColumn("emb", col("embedding").cast("array<double>"))
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("emb").as("qv"))
    val bf = Similarity.bruteForceTopK(emb, queries, "vec_id", "emb", "qid", "qv", 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = Similarity.annTopK(emb, queries, "vec_id", "emb", "qid", "qv", 5,
      nPlanes = 0, nTables = 8, probeBits = 2)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (bf & ann).size.toDouble / bf.size
    assert(recall >= 0.75, s"e2 recall@5=$recall < 0.75")
  }

  test("e2 ANN candidate volume per query is bounded by occupancy x probes") {
    // the scale contract of corpus-sized planes: expected bucket occupancy
    // ~64, so candidates/query <= occupancy x probes x tables x slack —
    // CONSTANT in corpus size (fixed planes would scale it with n)
    val emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
      .withColumn("emb", col("embedding").cast("array<double>"))
    val n = emb.count()
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("emb").as("qv"))
    val planes = graft.ops.Dedup.autoPlanes(n)
    // the sizing is monotone in the corpus: occupancy n/2^planes <= 64 at
    // any n (the 100-TB contract — a 64M-vector corpus gets 20 planes)
    assert(n.toDouble / (1L << planes) <= 64.0)
    assert(graft.ops.Dedup.autoPlanes(64L * 1024 * 1024) == 20)
    assert(graft.ops.Dedup.autoPlanes(10L * n) >= planes + 3)
    val nTables = 8
    val probes = 1 + planes + planes * (planes - 1) / 2 // 2-bit multi-probe
    val cands = Similarity.annCandidates(emb, queries, "vec_id", "emb",
      "qid", "qv", planes, nTables, excludeSelf = true, probeBits = 2)
      .groupBy("qid").count().collect().map(_.getLong(1))
    assert(cands.nonEmpty)
    // occupancy n/2^planes <= 64 by construction; slack 4x for bucket skew
    val bound = 64L * probes * nTables * 4
    assert(cands.max <= bound,
      s"candidates/query ${cands.max} exceeds bound $bound (planes=$planes)")
  }

  test("e3 IVF recall@5 vs brute force is pinned at the query's settings") {
    // EXACT e3_ann_ivf settings (SparkEntry): nClusters=16, nProbe=8, k=5.
    // Measured recall 0.80 (sf0.001); KMeans seed is fixed so this is
    // deterministic on the fixture data.
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .withColumn("emb", col("embedding").cast("array<double>"))
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("emb").as("qv"))
    val bf = Similarity.bruteForceTopK(emb, queries, "vec_id", "emb", "qid", "qv", 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(emb, queries, "vec_id", "emb", "qid", "qv", 5,
      nClusters = 16, nProbe = 8)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (bf & ivf).size.toDouble / bf.size
    assert(recall >= 0.65, s"e3 recall@5=$recall < 0.65")
    // every query returns exactly k ranked candidates
    assert(ivf.size == 25)
  }

  test("quantizer fit is partition-invariant (identical centroids under any layout)") {
    // the round-7 red row: an unordered limit made the KMeans sample (and
    // centroids) follow parquet split packing. The Lloyd fit must produce
    // BIT-IDENTICAL centroids whatever the partition layout.
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .withColumn("emb", col("embedding").cast("array<double>"))
    val a = Similarity.fitQuantizer(emb, "vec_id", "emb", 16)
    val b = Similarity.fitQuantizer(emb.repartition(13), "vec_id", "emb", 16)
    val c = Similarity.fitQuantizer(emb.repartition(1).sort(col("vec_id").desc),
      "vec_id", "emb", 16)
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
    assert(a.map(_.toSeq).toSeq == c.map(_.toSeq).toSeq)
    // sampleSize smaller than the corpus: still invariant (top-k by hash)
    val n = emb.count().toInt
    assert(n > 64)
    val d = Similarity.fitQuantizer(emb, "vec_id", "emb", 8, sampleSize = n / 2)
    val e = Similarity.fitQuantizer(emb.repartition(7), "vec_id", "emb", 8,
      sampleSize = n / 2)
    assert(d.map(_.toSeq).toSeq == e.map(_.toSeq).toSeq)
  }

  test("IVF centroid cache skips the quantizer fit on reuse") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .withColumn("emb", col("embedding").cast("array<double>"))
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("emb").as("qv"))
    val key = s"ivf-test-${System.nanoTime()}"
    val before = Similarity.quantizerFits.get()
    val r1 = Similarity.ivfTopK(emb, queries, "vec_id", "emb", "qid", "qv", 5,
      nClusters = 8, nProbe = 8, cacheKey = Some(key)).collect()
    assert(Similarity.quantizerFits.get() == before + 1)
    val r2 = Similarity.ivfTopK(emb, queries, "vec_id", "emb", "qid", "qv", 5,
      nClusters = 8, nProbe = 8, cacheKey = Some(key)).collect()
    // second run: same result, NO additional fit
    assert(Similarity.quantizerFits.get() == before + 1,
      "cached centroids should skip the KMeans fit")
    assert(r1.map(_.toSeq).toSeq == r2.map(_.toSeq).toSeq)
    // persisted sidecar: a fresh key loads centroids from disk, no fit
    val sidecar = java.nio.file.Files.createTempDirectory("ivf_cent").toString + "/cents"
    val r3 = Similarity.ivfTopK(emb, queries, "vec_id", "emb", "qid", "qv", 5,
      nClusters = 8, nProbe = 8, persistPath = Some(sidecar)).collect()
    val afterPersistFit = Similarity.quantizerFits.get()
    assert(afterPersistFit == before + 2) // fitted once, then wrote sidecar
    val r4 = Similarity.ivfTopK(emb, queries, "vec_id", "emb", "qid", "qv", 5,
      nClusters = 8, nProbe = 8, persistPath = Some(sidecar)).collect()
    assert(Similarity.quantizerFits.get() == afterPersistFit,
      "sidecar centroids should skip the KMeans fit")
    assert(r3.map(_.toSeq).toSeq == r4.map(_.toSeq).toSeq)
  }

  test("codegen fingerprint kernel is bit-exact with the HOF formulation") {
    import spark.implicits._
    // real corpus: every document agrees
    val hof = docs.select(col("doc_id"),
      TextAnalysis.fingerprintOfTokens(
        filter(split(lower(col("text")), "\\W+"), x => length(x) > 0),
        col("text")).as("f"))
    val kernel = docs.select(col("doc_id"),
      TextAnalysis.fingerprint(col("text")).as("f"))
    assert(hof.except(kernel).count() == 0 && kernel.except(hof).count() == 0)
    // edge cases: empty, punctuation-only (no tokens -> raw-text hash),
    // shorter-than-gram, exactly gram, unicode, repeated tokens
    val edge = Seq("", "!!! ??? ...", "one", "two words", "a b c d",
      "a b c d e f", "héllo wörld mixed ascii text", "x x x x x",
      "  leading and trailing  ", "Tabs\tand\nnewlines here ok")
      .toDF("text")
    val eh = edge.select(TextAnalysis.fingerprintOfTokens(
      filter(split(lower(col("text")), "\\W+"), x => length(x) > 0),
      col("text")).as("f")).collect().map(_.getLong(0)).toSeq
    val ek = edge.select(TextAnalysis.fingerprint(col("text")).as("f"))
      .collect().map(_.getLong(0)).toSeq
    assert(eh == ek)
    // and the kernel actually compiles: the Project carrying it sits in a
    // whole-stage-codegen span (the "*(n)" marker in the plan string)
    val plan = kernel.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
      l.contains("doc_fingerprint") && l.contains("*(")), plan)
  }

  test("quality metrics and token counts are sane") {
    val m = TextAnalysis.qualityScore(docs, "text")
    val row = m.filter(col("n_tokens") > 0).head
    assert(row.getAs[Double]("quality_score") >= 0.0)
    assert(row.getAs[Double]("quality_score") <= 1.0)
    assert(m.filter(col("n_tokens") <= 0).count() == 0)
    // n_chars matches the dataset's own column
    assert(m.filter(col("n_chars_calc") =!= col("n_chars")).count() == 0)
  }

  test("codegen lang-id kernel is exact with the HOF formulation") {
    import spark.implicits._
    val hof = docs.select(col("doc_id"), TextAnalysis.langIdHof(col("text")).as("l"))
    val kernel = docs.select(col("doc_id"), TextAnalysis.langId(col("text")).as("l"))
    assert(hof.except(kernel).count() == 0 && kernel.except(hof).count() == 0)
    val edge = Seq("", "!!!", "der die das und ist", "the of and to a",
      "el la de que y", "le la les de des", "la de un es",  // es/fr ties
      "你好世界这是中文文本测试句子", "mixed 中文 with english the of and",
      "Ünïcödé wörds önly", "  ", "a")
      .toDF("text")
    val eh = edge.select(TextAnalysis.langIdHof(col("text")).as("l"))
      .collect().map(_.getString(0)).toSeq
    val ek = edge.select(TextAnalysis.langId(col("text")).as("l"))
      .collect().map(_.getString(0)).toSeq
    assert(eh == ek, s"$eh vs $ek")
    val plan = kernel.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l => l.contains("lang_id") && l.contains("*(")), plan)
  }

  test("exactSurvivors keeps exactly the min id of every distinct text") {
    import spark.implicits._
    // planted duplicates: clones with higher ids must all lose to the
    // original; distinct texts survive untouched
    val withDups = docs.unionByName(
        docs.filter("doc_id % 7 = 0").withColumn("doc_id", col("doc_id") + 100000))
      .unionByName(
        docs.filter("doc_id % 11 = 0").withColumn("doc_id", col("doc_id") + 200000))
    val win = Dedup.exactSurvivors(withDups, "text", "doc_id")
    // plain-Spark oracle: the min id per distinct text (null-safe),
    // full rows
    val mins = withDups.groupBy(col("text").as("__t"))
      .agg(min("doc_id").as("__min"))
    val oracle = withDups.join(mins,
        col("text") <=> col("__t") && col("doc_id") === col("__min"))
      .select(withDups.columns.map(col).toSeq: _*)
    assert(win.count() == oracle.count())
    assert(win.except(oracle).count() == 0 && oracle.except(win).count() == 0)
    // the clone of a duplicated text never survives; min id always does
    assert(win.filter(col("doc_id") >= 100000).count() == 0)
    // edge: all-identical corpus (one survivor, the min id)
    val same = Seq((5L, "same text"), (3L, "same text"), (9L, "same text"),
      (7L, "other")).toDF("doc_id", "text")
    val s = Dedup.exactSurvivors(same, "text", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(s == Seq(3L, 7L))
    // full rows survive unchanged
    val ok = Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("doc_id", "text")
    val kept = Dedup.exactSurvivors(ok, "text", "doc_id")
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(kept == Seq((1L, "a"), (3L, "b")))
  }

  test("codegen simhash kernel is bit-exact with the agg formulation") {
    import spark.implicits._
    val kernel = Dedup.simhash(docs, "text", "doc_id")
    val agg = Dedup.simhashAgg(docs, "text", "doc_id")
    val diff = kernel.withColumnRenamed("simhash", "k")
      .join(agg.withColumnRenamed("simhash", "g"), Seq("doc_id"), "full_outer")
      .filter(!(col("k") <=> col("g")))
      .limit(5).collect()
    assert(diff.isEmpty, diff.map(_.toString).mkString("; "))
    // edge cases: empty / punctuation-only (no tokens -> NO row, both
    // forms), single token, repeated tokens, unicode
    // doc 7 is the r18 ADVICE catch: U+212A KELVIN SIGN is not \w but
    // lowercases to 'k', so the token-less filter must test the
    // LOWERCASED text — the raw-text filter dropped it while the agg
    // oracle scored it
    val edge = Seq((1L, ""), (2L, "!!! ???"), (3L, "one"),
      (4L, "x x x x"), (5L, "héllo wörld"), (6L, "Tabs\tand\nnewlines"),
      (7L, "KK K"))
      .toDF("doc_id", "text")
    val ek = Dedup.simhash(edge, "text", "doc_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1).toSeq
    val ea = Dedup.simhashAgg(edge, "text", "doc_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1).toSeq
    assert(ek == ea, s"$ek vs $ea")
    assert(ek.map(_._1) == Seq(3L, 4L, 5L, 6L, 7L)) // token-less docs drop
    // map-only: no aggregation exchange (Par.ensure's round-robin
    // parallelism guard is the only allowed one), no Window, no Generate
    val plan = kernel.queryExecution.executedPlan.toString
    assert(!plan.contains("ENSURE_REQUIREMENTS") && !plan.contains("Window") &&
      !plan.contains("Generate") && !plan.contains("HashAggregate"), plan)
    // and the kernel compiles into a whole-stage-codegen span
    val executed = { kernel.collect(); kernel.queryExecution.executedPlan.toString }
    assert(executed.linesIterator.exists(l => l.contains("simhash") && l.contains("*(")),
      executed)
  }

  test("in-row posting rank equals the window-rank formulation") {
    // corpus parity: same (__id, __n, __s, __rank) multiset from the
    // broadcast-map kernel and the row_number window it replaces —
    // rows are unique by (__id, __s), so except-both-ways + equal
    // counts pins the multiset
    // both strategies run at the real cap boundary: a rank cap equal to
    // the repeated-shingle count keeps the in-row map, one less takes
    // the window fallback
    def repeated(s: org.apache.spark.sql.DataFrame): Long =
      s.select(col("__blk"), explode(col("__sh")).as("__s0"))
        .groupBy(xxhash64(col("__blk"), col("__s0"))).count()
        .filter(col("count") > 1).count()
    val sh = Dedup.shingleSets(docs, "text", "doc_id", "lang", 3)
    val nRep = repeated(sh)
    assert(nRep > 0)
    val inRow = Dedup.rankedPostings(sh, "spec in-row", rankCap = nRep)
    val win = Dedup.rankedPostings(sh, "spec window", rankCap = nRep - 1)
    assert(inRow.except(win).count() == 0 && win.except(inRow).count() == 0)
    assert(inRow.count() == win.count())
    // engineered frequency ties and misses: repeated shingles across
    // docs (freq > 1), unique shingles (map miss => 1), sub-n docs
    import spark.implicits._
    val crafted = Seq(
      (1L, "a b c d e f", "x"), (2L, "a b c d zz yy", "x"),
      (3L, "a b c", "x"), (4L, "totally unique words here", "x"),
      (5L, "a b", "x"), // shorter than n: one truncated shingle, filtered
      (6L, "a b c d e f", "y")) // other block: same strings, other hashes
      .toDF("doc_id", "text", "lang")
    val csh = Dedup.shingleSets(crafted, "text", "doc_id", "lang", 3)
    val cRep = repeated(csh)
    assert(cRep > 0)
    val ci = Dedup.rankedPostings(csh, "spec in-row crafted", rankCap = cRep)
    val cw = Dedup.rankedPostings(csh, "spec window crafted", rankCap = cRep - 1)
    assert(ci.except(cw).count() == 0 && cw.except(ci).count() == 0)
    assert(ci.count() == cw.count())
    assert(ci.queryExecution.executedPlan.toString.contains("rank_postings"))
    assert(cw.queryExecution.executedPlan.toString.contains("Window"))
    // plan shape: the in-row form has no Window and no per-doc exchange;
    // the kernel runs inside a whole-stage-codegen span
    val plan = inRow.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("rank_postings"), plan)
    val executed = { inRow.collect(); inRow.queryExecution.executedPlan.toString }
    assert(executed.linesIterator.exists(l =>
      l.contains("rank_postings") && l.contains("*(")), executed)
    // the window fallback is what runs past the cap — keep it verified
    assert(win.queryExecution.executedPlan.toString.contains("Window"))
  }

  test("substring span interval-merge is bit-exact with the window formulation") {
    val merged = Dedup.substringSpansCompute(docs, "text", "doc_id", 8, 2)
    val windowed = OracleForms.substringSpansWindowForm(docs, "text", "doc_id", 8, 2)
    assert(merged.except(windowed).count() == 0 &&
      windowed.except(merged).count() == 0)
    assert(merged.count() == windowed.count()) // multiset equal: keys unique per (doc, start)
    // engineered overlaps: W=3, adjacent/overlapping/disjoint hits
    import spark.implicits._
    val crafted = Seq(
      (1L, "a b c d e f g h i j"), // full doc flagged vs doc 2 prefix
      (2L, "a b c d e f g h i j"),
      (3L, "q r s a b c d q q z z2 z3 a b c d"), // two islands, one shared run
      (4L, "a b c d q q q q q q a b c d")).toDF("doc_id", "text")
    val m = Dedup.substringSpansCompute(crafted, "text", "doc_id", 3, 2)
    val w = OracleForms.substringSpansWindowForm(crafted, "text", "doc_id", 3, 2)
    assert(m.except(w).count() == 0 && w.except(m).count() == 0 &&
      m.count() == w.count())
  }

  test("weighted unigram NLL equals the per-occurrence form (6dp contract)") {
    import spark.implicits._
    val edge = Seq((9001L, ""), (9002L, "one"), (9003L, "a a a b"),
      (9004L, "unique tokens only here")).toDF("doc_id", "text")
      .select(col("doc_id"), col("text"))
    val corpus = docs.select(col("doc_id"), col("text")).unionByName(edge)
    val w = TextAnalysis.unigramNll(corpus, "doc_id", "text")
      .withColumnRenamed("n_tokens", "nt_w").withColumnRenamed("nll", "nll_w")
    val o = OracleForms.unigramNllOccurrenceForm(corpus, "doc_id", "text")
      .withColumnRenamed("n_tokens", "nt_o").withColumnRenamed("nll", "nll_o")
    val j = w.join(o, Seq("doc_id"), "full_outer")
    // row set + exact integer token counts
    assert(j.filter(col("nt_w").isNull || col("nt_o").isNull ||
      col("nt_w") =!= col("nt_o")).count() == 0)
    // nll: same multiset of addends, different association — must agree
    // far inside the operator's 6dp rounding contract
    val maxd = j.agg(max(abs(col("nll_w") - col("nll_o")))).head.getDouble(0)
    assert(maxd < 1e-9, s"weighted vs occurrence nll drift: $maxd")
  }

  test("codegen token-counts kernel equals explode + groupBy counts") {
    val kernel = docs.select(col("doc_id"),
        explode(TextExprs.tokenCounts(col("text"))).as("__tc"))
      .select(col("doc_id"), col("__tc.t").as("t"), col("__tc.c").as("c"))
    val shuffled = docs.select(col("doc_id"),
        explode(Dedup.tokens(col("text"))).as("t"))
      .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("c"))
    assert(kernel.except(shuffled).count() == 0 &&
      shuffled.except(kernel).count() == 0)
    assert(kernel.count() == shuffled.count())
  }

  test("codegen bigram kernel equals the zip_with HOF formulation") {
    import spark.implicits._
    val kernel = docs.select(col("doc_id"),
        explode(TextExprs.bigrams(col("text"))).as("__p"))
      .select(col("doc_id"), col("__p.a").as("a"), col("__p.b").as("b"))
    val toks = docs.select(col("doc_id"), Dedup.tokens(col("text")).as("__toks"))
      .withColumn("__n", size(col("__toks")))
    val hof = toks.filter(col("__n") >= 2)
      .select(col("doc_id"), explode(zip_with(
        slice(col("__toks"), lit(1), (col("__n") - 1).cast("int")),
        slice(col("__toks"), lit(2), (col("__n") - 1).cast("int")),
        (a, b) => struct(a.as("a"), concat_ws(" ", a, b).as("b")))).as("__p"))
      .select(col("doc_id"), col("__p.a").as("a"), col("__p.b").as("b"))
    // multiset equality: same pairs AND same occurrence counts
    val kc = kernel.groupBy("doc_id", "a", "b").agg(count(lit(1)).as("n"))
    val hc = hof.groupBy("doc_id", "a", "b").agg(count(lit(1)).as("n"))
    assert(kc.except(hc).count() == 0 && hc.except(kc).count() == 0)
    // edge: 0/1-token docs yield nothing in both forms
    val edge = Seq((1L, ""), (2L, "one"), (3L, "two words")).toDF("doc_id", "text")
    assert(edge.select(col("doc_id"),
      explode(TextExprs.bigrams(col("text")))).count() == 1)
  }

  test("language ID classifies real multilingual text correctly") {
    import spark.implicits._
    // NOTE: the testdata documents' `lang` column is a synthetic label —
    // every text is the same English-ish word salad — so corpus accuracy
    // is not meaningful; assert on genuinely multilingual sentences.
    val samples = Seq(
      ("the cat is on the table and it is quick", "en"),
      ("el perro que vive en la casa es un amigo de los niños", "es"),
      ("der Hund ist mit der Katze im Haus und das ist gut", "de"),
      ("le chat est dans la maison et les jours sont pour une vie", "fr"),
      ("这是一个完整的中文句子用来测试语言识别", "zh"))
    val df = samples.toDF("text", "expected")
    val out = df.withColumn("predicted", TextAnalysis.langId(col("text"))).collect()
    out.foreach { r =>
      assert(r.getAs[String]("predicted") == r.getAs[String]("expected"),
        s"text='${r.getString(0)}'")
    }
    // and the corpus-level eval at least runs and covers all labels
    val eval = TextAnalysis.langIdEval(docs, "text", "lang").collect()
    assert(eval.map(_.getString(0)).toSet == Set("en", "es", "de", "fr", "zh"))
  }

  test("containment pairs find near-subset dups that jaccard misses") {
    import spark.implicits._
    val long = (1 to 40).map(i => s"w$i").mkString(" ")
    val short = (1 to 10).map(i => s"w$i").mkString(" ") // strict prefix
    val other = (100 to 140).map(i => s"v$i").mkString(" ")
    val df = Seq((1L, short, "en"), (2L, long, "en"), (3L, other, "en"))
      .toDF("doc_id", "text", "lang")
    val pairs = Dedup.containmentPairs(df, "text", "doc_id", "lang")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // short's 8 shingles all appear in long: containment 1.0, directed
    assert(pairs.toSeq == Seq((1L, 2L, 1.0)))
    // ...while symmetric jaccard (8/38) is far below threshold
    val jac = Dedup.jaccardExactPairs(df, "text", "doc_id", "lang")
    assert(jac.count() == 0)
  }

  test("bounded-spill containment (sequential hash-range passes) is " +
      "bit-equal to the single-pass join") {
    // the join key determines the bucket, so the union of per-bucket
    // joins is exactly the single join's row set — pin it on real data
    // (sf0.01 documents: ~600 docs, non-trivial pair structure)
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    def run(passes: Int) =
      Dedup.containmentPairs(docs, "text", "doc_id", "lang",
        postingPasses = passes)
        .collect().map(_.toString).sorted.toSeq
    val single = run(1)
    val bounded = run(4)
    assert(single.nonEmpty, "fixture must produce containment pairs")
    assert(bounded == single,
      s"4-pass result diverged: ${bounded.size} vs ${single.size} pairs")
  }

  test("repetition metrics match hand-computed values") {
    import spark.implicits._
    // "a b a b a": 5 tokens, 2 distinct -> dup 0.6; bigrams
    // [a b, b a, a b, b a] -> top frac 2/4 = 0.5
    // "x y z": dup 0.0, top bigram frac 1/2 = 0.5
    // "q": dup 0.0, no bigrams -> 0.0
    val df = Seq((1L, "a b a b a"), (2L, "x y z"), (3L, "q"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.repetitionMetrics(df, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Double]("dup_token_ratio"),
          r.getAs[Double]("top_bigram_frac"), r.getAs[Boolean]("keep")))).toMap
    assert(out(1L) == ((5L, 1.0 - 2.0 / 5.0, 0.5, false)))
    assert(out(2L) == ((3L, 0.0, 0.5, false)))
    assert(out(3L) == ((1L, 0.0, 0.0, true)))
  }

  test("unigram NLL matches hand-computed corpus probabilities") {
    import spark.implicits._
    // corpus: a a a b -> p(a)=3/4, p(b)=1/4
    val df = Seq((1L, "a a"), (2L, "a b")).toDF("doc_id", "text")
    val out = TextAnalysis.unigramNll(df, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Double]("nll")))).toMap
    val lnA = -math.log(3.0 / 4.0)
    val lnB = -math.log(1.0 / 4.0)
    assert(out(1L)._1 == 2L)
    assert(math.abs(out(1L)._2 - lnA) < 1e-12)
    assert(math.abs(out(2L)._2 - (lnA + lnB) / 2.0) < 1e-12)
  }

  test("unigram NLL frequency floor is exact at floor=1 and bounds the join table") {
    import spark.implicits._
    // hapax-heavy fixture: each doc carries unique one-off tokens (the
    // URL/typo tail at web scale) plus a small shared vocabulary
    val df = (0L until 200L).map(i =>
      (i, s"the quick fox uniq${i}a uniq${i}b uniq${i}c")).toDF("doc_id", "text")
    def dump(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // floor=0 keeps every token in the join table — the exact reference
    val exact = dump(TextAnalysis.unigramNll(df, "doc_id", "text",
      broadcastMinCount = 0L))
    val floored = dump(TextAnalysis.unigramNll(df, "doc_id", "text",
      broadcastMinCount = 1L))
    assert(floored == exact)
    // the floored join table excludes the hapax tail: 3 shared tokens
    // survive out of 603 distinct
    val tok = df.select(explode(Dedup.tokens(col("text"))).as("t"))
      .groupBy("t").count()
    assert(tok.count() == 603L)
    assert(tok.filter(col("count") > 1).count() == 3L)
    // shuffle-join fallback path (maxBroadcastVocab=0) — same result up
    // to FP summation order (the join reorders rows before the avg)
    val exactM = exact.map(t => (t._1, t._2) -> t._3).toMap
    TextAnalysis.unigramNll(df, "doc_id", "text",
      broadcastMinCount = 1L, maxBroadcastVocab = 0L)
      .collect().foreach { r =>
        assert(math.abs(exactM((r.getLong(0), r.getLong(1))) - r.getDouble(2)) < 1e-12)
      }
  }

  test("bigram NLL matches hand-computed conditional probabilities") {
    import spark.implicits._
    // corpus bigrams: doc1 = [a a, a b], doc2 = [a b]
    // c(a .) = 3, c(a a) = 1, c(a b) = 2
    val df = Seq((1L, "a a b"), (2L, "a b"), (3L, "x")).toDF("doc_id", "text")
    val out = TextAnalysis.bigramNll(df, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_bigrams"), r.getAs[Double]("bigram_nll")))).toMap
    val aa = -math.log(1.0 / 3.0)
    val ab = -math.log(2.0 / 3.0)
    assert(out(1L)._1 == 2L)
    assert(math.abs(out(1L)._2 - (aa + ab) / 2.0) < 1e-12)
    assert(out(2L) == ((1L, ab)) ||
      math.abs(out(2L)._2 - ab) < 1e-12)
    // a one-token doc has no bigrams and scores 0, but is NOT dropped
    assert(out(3L) == ((0L, 0.0)))
  }

  test("bigram NLL floor=1 is exact; shuffle fallback matches broadcast") {
    import spark.implicits._
    val df = (0L until 100L).map(i =>
      (i, s"the quick fox uniq${i}a uniq${i}b")).toDF("doc_id", "text")
    def dump(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val exact = dump(TextAnalysis.bigramNll(df, "doc_id", "text",
      broadcastMinCount = 0L))
    val floored = dump(TextAnalysis.bigramNll(df, "doc_id", "text",
      broadcastMinCount = 1L))
    assert(floored.keySet == exact.keySet)
    floored.foreach { case (k, v) => assert(math.abs(exact(k) - v) < 1e-12) }
    val shuffled = dump(TextAnalysis.bigramNll(df, "doc_id", "text",
      broadcastMinCount = 1L, maxBroadcastVocab = 0L))
    shuffled.foreach { case (k, v) => assert(math.abs(exact(k) - v) < 1e-12) }
  }

  test("pre-dedup decontamination probe equals the deduped probe after the anti-join") {
    import spark.implicits._
    // the pipe_corpus restructure: probing the PRE-dedup corpus only
    // adds loser ids to the hit set, and losers are gone from the
    // anti-join's left side. Exact dedup means a loser's text IS its
    // winner's text, so no winner's verdict can change. Cases: a dup
    // group of corpus docs containing a bench 8-gram (winner kept out,
    // losers are the extra probe ids), a bench/corpus cross dup (corpus
    // doc loses to the bench id and must stay excluded), a clean dup
    // group, and singleton hit/clean docs.
    val gram = "one two three four five six seven eight"
    val docs = Seq(
      (1L, s"bench doc $gram"),
      (2L, "cross dup text alpha beta gamma delta epsilon zeta eta theta"),
      (101L, s"dup group with hit $gram plus tail"),
      (102L, s"dup group with hit $gram plus tail"),
      (103L, "clean dup words aa bb cc dd ee ff gg hh ii jj"),
      (104L, "clean dup words aa bb cc dd ee ff gg hh ii jj"),
      (105L, s"singleton hit doc $gram and padding"),
      (106L, "singleton clean doc kk ll mm nn oo pp qq rr ss"),
      (107L, "cross dup text alpha beta gamma delta epsilon zeta eta theta")
    ).toDF("doc_id", "text")
    val bench = docs.filter(col("doc_id") < 100)
    val quality = docs // the real query's token gate is orthogonal here
    val corp = Dedup.exactSurvivors(quality, "text", "doc_id")
      .filter(col("doc_id") >= 100)
    def survivors(probe: org.apache.spark.sql.DataFrame): Set[Long] = {
      val hits = TextAnalysis.decontaminate(probe, bench,
        "doc_id", "text", n = 8).select(col("doc_id"))
      corp.join(hits, Seq("doc_id"), "left_anti")
        .collect().map(_.getLong(0)).toSet
    }
    val viaDeduped = survivors(corp)
    val viaPre = survivors(quality.filter(col("doc_id") >= 100))
    assert(viaPre == viaDeduped)
    // and the case distribution is what the comment claims
    assert(viaPre == Set(103L, 106L)) // 101 hit, 105 hit, 107 lost to id 2
  }

  test("bigram NLL fused outer-explode form matches the back-join reference") {
    import spark.implicits._
    // edge mix: multi-bigram docs, a single-bigram doc, a one-token doc,
    // an empty doc, a null text and punctuation-only (zero tokens) — the
    // rows the back-join existed to recover as (0, 0.0)
    val df = Seq((1L, "a a b"), (2L, "a b"), (3L, "x"), (4L, ""),
      (5L, null.asInstanceOf[String]), (6L, "?!"), (7L, "b a a b a"))
      .toDF("doc_id", "text")
    def run(d: org.apache.spark.sql.DataFrame) =
      (d.collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2))))
        .toMap, d.queryExecution.executedPlan.toString)
    val (fused, fusedPlan) = run(TextAnalysis.bigramNll(df, "doc_id", "text"))
    val (ref, refPlan) = run(OracleForms.bigramNllBackJoin(df, "doc_id", "text"))
    assert(fused.keySet == ref.keySet)
    ref.foreach { case (k, (n, v)) =>
      assert(fused(k)._1 == n, s"doc $k n_bigrams")
      assert(math.abs(fused(k)._2 - v) < 1e-12, s"doc $k nll")
    }
    // structural claim: the fusion deletes the doc-keyed back-join (the
    // executedPlan string repeats the tree in its initial+final AQE
    // sections, so compare counts, not absolutes)
    def joins(p: String) = p.linesIterator.count(_.contains("Join"))
    assert(joins(fusedPlan) < joins(refPlan),
      s"fused=$fusedPlan\nref=$refPlan")
  }

  test("cluster survivors pick the longest doc per cluster, ties by min id") {
    val base = docs.select("doc_id", "lang", "text", "n_chars")
    val out = Dedup.clusterSurvivorsByRank(base, "text", "doc_id", "lang",
      "n_chars").collect()
    assert(out.nonEmpty)
    val len = base.collect().map(r =>
      r.getLong(0) -> r.getLong(3)).toMap
    out.groupBy(_.getLong(1)).foreach { case (rep, members) =>
      val surv = members.filter(_.getBoolean(2))
      assert(surv.length == 1, s"cluster $rep needs exactly one survivor")
      val best = members.map(m => (len(m.getLong(0)), -m.getLong(0))).max
      assert((len(surv.head.getLong(0)), -surv.head.getLong(0)) == best,
        s"survivor of $rep must be the longest doc (ties min id)")
    }
    // same coverage as the min-id cluster view
    val minIdView = Dedup.jaccardClusters(base, "text", "doc_id", "lang")
    assert(out.map(_.getLong(0)).toSet ==
      minIdView.collect().map(_.getLong(0)).toSet)
  }

  test("cluster survivors honor fractional quality scores (no long truncation)") {
    import spark.implicits._
    // two near-identical docs; the HIGHER-id one carries the higher
    // sub-1.0 classifier score and must win — a long-cast of the rank
    // would truncate both to 0 and fall back to min-id (doc 1)
    val df = Seq(
      (1L, "en", "the quick brown fox jumps over the lazy dog", 0.30),
      (2L, "en", "the quick brown fox jumps over the lazy dog now", 0.90),
      (3L, "en", "completely unrelated text about distant galaxies forming", 0.10)
    ).toDF("doc_id", "lang", "text", "score")
    val out = Dedup.clusterSurvivorsByRank(df, "text", "doc_id", "lang",
      "score").collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(out(2L), "doc 2 (score 0.90) must survive")
    assert(!out(1L), "doc 1 (score 0.30) must not survive")
  }

  test("PII redaction masks emails and digit runs with exact counts") {
    import spark.implicits._
    val df = Seq(
      (1L, "reach me at jo.doe+x@mail.example.org or 12345678 now"),
      (2L, "no pii here, just 123 and a@b"), // short run + invalid email
      (3L, "two mails a@ex.com b@ex.io and 9999999"),
      // digit run INSIDE the email local part: masked as <EMAIL>, so
      // it must NOT also count as a phone — only the trailing run does
      (4L, "mail 12345678@ex.com call 7654321")).toDF("doc_id", "text")
    val out = TextAnalysis.redactPii(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getAs[Int]("n_emails"), r.getAs[Int]("n_phones"),
          r.getAs[String]("redacted")))).toMap
    assert(out(1L) == ((1, 1, "reach me at <EMAIL> or <PHONE> now")))
    assert(out(2L) == ((0, 0, "no pii here, just 123 and a@b")))
    assert(out(3L) == ((2, 1, "two mails <EMAIL> <EMAIL> and <PHONE>")))
    assert(out(4L) == ((1, 1, "mail <EMAIL> call <PHONE>")))
  }

  test("image decode: PNG roundtrip recovers closed-form dims and band means") {
    for (id <- Seq(0L, 3L, 7L, 41L, 499L)) {
      val png = Multimodal.syntheticImagePng(id)
      // PNG magic
      assert((png(0) & 0xff) == 0x89 && png(1) == 'P'.toByte)
      val (ew, eh) = Multimodal.syntheticImageDims(id)
      val Some((w, h, f)) = Multimodal.imageDecode(png)
      assert((w, h) == ((ew, eh)))
      // independent recompute of every band mean from the pixel formula
      val sums = Array.fill(8)(0L); val counts = Array.fill(8)(0L)
      for (y <- 0 until eh; x <- 0 until ew) {
        val b = y * 8 / eh
        sums(b) += (7L * x + 13L * y + 31L * id) % 256L
        counts(b) += 1
      }
      (0 until 8).foreach { b =>
        assert(f(b) == sums(b).toDouble / counts(b),
          s"band $b mean mismatch for id $id")
      }
    }
    // non-image payloads fall back to the deterministic stub, not a crash
    assert(Multimodal.imageDecode("plain text bytes".getBytes).isEmpty)
  }

  test("resize: nearest-neighbor resample matches the closed pixel form") {
    import spark.implicits._
    val ids = Seq(2L, 9L, 33L).toDF("doc_id")
    val media = Multimodal.asRenderedMedia(spark, ids, "doc_id")
    val out = Multimodal.resize(spark, media, "doc_id", 16, 16)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getSeq[Double](3).toArray,
          r.getAs[Array[Byte]](4)))).toMap
    for (id <- Seq(2L, 9L, 33L)) {
      val (w16, h16, f, png) = out(id)
      assert((w16, h16) == ((16, 16)))
      // the emitted payload is a REAL decodable 16x16 PNG
      val Some((dw, dh, df)) = Multimodal.imageDecode(png)
      assert((dw, dh) == ((16, 16)))
      assert(df.toSeq == f.toSeq, "features must be pooled from the re-decoded payload")
      // closed form: resized (X,Y) samples source (X*w//16, Y*h//16)
      val (sw, sh) = Multimodal.syntheticImageDims(id)
      val sums = Array.fill(8)(0L)
      for (y <- 0 until 16; x <- 0 until 16) {
        val sx = x * sw / 16; val sy = y * sh / 16
        sums(y * 8 / 16) += (7L * sx + 13L * sy + 31L * id) % 256L
      }
      (0 until 8).foreach { b =>
        assert(f(b) == sums(b).toDouble / 32, s"band $b mismatch for id $id")
      }
    }
    // undecodable payloads fall back to the stub features, zero payload
    val junk = Seq((5L, "not an image".getBytes)).toDF("doc_id", "payload")
    val fb = Multimodal.resize(spark, junk, "doc_id", 16, 16).head
    assert(fb.getAs[Array[Byte]]("payload_resized").isEmpty)
  }

  test("audioFeatures: WAV decode matches closed-form windowed amplitudes") {
    import spark.implicits._
    val ids = Seq(0L, 42L, 999L).toDF("doc_id")
    val audio = Multimodal.asRenderedAudio(spark, ids, "doc_id")
    assert(audio.select("media_meta.magic").head.getString(0) == "52494646") // "RIFF"
    val rows = Multimodal.audioFeatures(spark, audio, "doc_id")
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getLong(2), r.getSeq[Double](3).toArray))).toMap
    for (id <- Seq(0L, 42L, 999L)) {
      val (rate, n, f) = rows(id)
      val en = Multimodal.syntheticAudioSamples(id)
      assert(rate == 8000 && n == en)
      val sums = Array.fill(8)(0L); val counts = Array.fill(8)(0L)
      for (k <- 0 until en) {
        val s = ((31L * id + 7L * k) % 65536L).toInt - 32768
        val w = k * 8 / en
        sums(w) += math.abs(s); counts(w) += 1
      }
      (0 until 8).foreach { w =>
        assert(f(w) == sums(w).toDouble / counts(w),
          s"window $w mismatch for id $id")
      }
    }
    // undecodable payloads emit a zeroed total row, not a crash
    val junk = Seq((7L, "not audio at all".getBytes)).toDF("doc_id", "payload")
    val fb = Multimodal.audioFeatures(spark, junk, "doc_id").head
    assert(fb.getLong(2) == 0L && fb.getInt(1) == 0)
  }

  test("pinned WAV writer renders byte-identical to AudioSystem.write") {
    // the r18 provider pinning (registry-walk contention fix) must not
    // change a single payload byte: re-render through the registry path
    // and compare arrays
    for (id <- Seq(0L, 1L, 999L, 19999L)) {
      val mine = Multimodal.syntheticAudioWav(id)
      val n = Multimodal.syntheticAudioSamples(id)
      val pcm = new Array[Byte](n * 2)
      for (k <- 0 until n) {
        val s = ((31L * id + 7L * k) % 65536L).toInt - 32768
        pcm(2 * k) = (s & 0xff).toByte
        pcm(2 * k + 1) = ((s >> 8) & 0xff).toByte
      }
      val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
      val out = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
      assert(java.util.Arrays.equals(mine, out.toByteArray), s"id $id")
    }
  }

  test("sampleFrames: GIF frames decode to closed-form per-frame means") {
    import spark.implicits._
    val ids = Seq(4L, 21L).toDF("doc_id")
    val video = Multimodal.asRenderedVideo(spark, ids, "doc_id", nFrames = 8)
    assert(video.select("media_meta.magic").head.getString(0).startsWith("474946")) // "GIF"
    val rows = Multimodal.sampleFrames(spark, video, "doc_id", stride = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1)) ->
        ((r.getInt(2), r.getInt(3), r.getSeq[Double](4).toArray))).toMap
    for (id <- Seq(4L, 21L)) {
      val (w, h) = Multimodal.syntheticImageDims(id)
      val kept = Seq(0, 2, 4, 6)
      assert(rows.keys.count(_._1 == id) == kept.size,
        "stride-2 over 8 frames keeps exactly 4")
      for (k <- kept) {
        val (fw, fh, f) = rows((id, k))
        assert((fw, fh) == ((w, h)))
        val sums = Array.fill(8)(0L); val counts = Array.fill(8)(0L)
        for (y <- 0 until h; x <- 0 until w) {
          val b = y * 8 / h
          sums(b) += (7L * x + 13L * y + 31L * id + 17L * k) % 256L
          counts(b) += 1
        }
        (0 until 8).foreach { b =>
          assert(f(b) == sums(b).toDouble / counts(b),
            s"frame $k band $b mismatch for id $id")
        }
      }
    }
  }

  test("rendered media decodes through the distributed stage") {
    import spark.implicits._
    val ids = Seq(1L, 10L, 25L).toDF("doc_id")
    val media = Multimodal.asRenderedMedia(spark, ids, "doc_id")
    val metas = media.select("doc_id", "media_meta.mime", "media_meta.magic")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(metas.forall(_._2 == "image/png"))
    assert(metas.forall(_._3 == "89504E47")) // PNG signature
    val feats = Multimodal.extractFeatures(spark, media, "doc_id")
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    ids.collect().map(_.getLong(0)).foreach { id =>
      assert(feats(id) == Multimodal.syntheticImageDims(id))
    }
  }

  test("multimodal stub plumbing: payload -> meta -> features") {
    val media = Multimodal.asMedia(docs, "text")
    assert(media.schema("payload").dataType.typeName == "binary")
    val feats = Multimodal.extractFeatures(spark, media, "doc_id")
    assert(feats.count() == docs.count())
    val r = feats.head
    assert(r.getSeq[Double](r.fieldIndex("features")).size == 8)
    assert(r.getAs[Int]("width") > 0)
    // deterministic across runs
    val again = Multimodal.extractFeatures(spark, media, "doc_id")
      .filter(col("doc_id") === r.getAs[Long]("doc_id")).head
    assert(again.getSeq[Double](again.fieldIndex("features")).toSeq ==
      r.getSeq[Double](r.fieldIndex("features")).toSeq)
  }

  test("sessionization splits on the gap and stats add up") {
    val ev = Events.load(spark, sfDir)
    val sessions = Events.sessionStats(ev, gapMinutes = 30)
    assert(sessions.agg(sum("n_events")).head.getLong(0) == ev.count())
    assert(sessions.filter(col("duration_s") < 0).count() == 0)
  }

  test("decontaminate matches a driver-side brute-force n-gram overlap") {
    def grams(t: String, n: Int): Set[String] = {
      val w = t.toLowerCase.split("\\W+").filter(_.nonEmpty)
      if (w.length < n) Set.empty else w.sliding(n).map(_.mkString(" ")).toSet
    }
    val all = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val benchG = all.filter(_._1 % 7 == 0).values.flatMap(grams(_, 3)).toSet
    val expected = all.filter(_._1 % 7 != 0)
      .map { case (id, t) => id -> grams(t, 3).count(benchG).toLong }
      .filter(_._2 > 0)
    val got = TextAnalysis.decontaminate(
      docs.filter(col("doc_id") % 7 =!= 0), docs.filter(col("doc_id") % 7 === 0),
      "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(expected.nonEmpty, "fixture must actually contain contamination")
    assert(got == expected)
    // a doc shorter than n contributes no gram on either side
    import spark.implicits._
    val tiny = Seq((1L, "only two"), (2L, "only two words here now")).toDF("doc_id", "text")
    assert(TextAnalysis.decontaminate(
      tiny.filter($"doc_id" === 2), tiny.filter($"doc_id" === 1),
      "doc_id", "text", n = 3).count() == 0)
  }

  test("mixtureSample keeps exact integer-ratio quotas, layout-invariantly") {
    val parts = Map("src0" -> 3, "src1" -> 2, "src2" -> 1)
    val kept = Corpus.mixtureSample(docs, "source", "doc_id", parts)
    val bySrc = kept.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // every source has 25 docs -> B = min(25/3, 25/2, 25) = 8
    assert(bySrc == Map("src0" -> 24L, "src1" -> 16L, "src2" -> 8L))
    // sources without a weight are dropped entirely
    assert(kept.filter(!col("source").isin("src0", "src1", "src2")).count() == 0)
    // the SELECTION (not just the counts) is partition-layout-invariant
    val ids = kept.select("doc_id").collect().map(_.getLong(0)).toSet
    val ids7 = Corpus.mixtureSample(docs.repartition(7), "source", "doc_id", parts)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == ids7)
  }

  test("mixtureSample: the scarcest source sets the budget under uneven counts") {
    import spark.implicits._
    // web:100 docs, books:10, code:30 with target ratio 4:1:2
    val rows = (0L until 100L).map(i => (i, "web")) ++
      (100L until 110L).map(i => (i, "books")) ++
      (110L until 140L).map(i => (i, "code"))
    val df = rows.toDF("doc_id", "source")
    val kept = Corpus.mixtureSample(df, "source", "doc_id",
      Map("web" -> 4, "books" -> 1, "code" -> 2))
    // B = min(100/4, 10/1, 30/2) = 10 -> quotas 40/10/20
    val bySrc = kept.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc == Map("web" -> 40L, "books" -> 10L, "code" -> 20L))
    // the scarce source is kept in FULL (its quota equals its count)
    assert(kept.filter($"source" === "books").count() == 10)
  }

  test("shardAssign places every row once, pos dense per shard, mix-derived shard") {
    val n = 8
    val out = Corpus.shardAssign(docs, "doc_id", n).collect()
    assert(out.length == docs.count())
    out.foreach { r =>
      val id = r.getLong(2)
      val key = (id * 2654435761L + 1013904223L) % 4294967296L
      assert(r.getLong(0) == key % n)
    }
    out.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      assert(rows.map(_.getLong(1)).sorted.toSeq == (1L to rows.length).toSeq)
    }
  }

  test("packWindows tiles each shard's token stream exactly, docs chopped not padded") {
    val W = 64
    val out = Corpus.packWindows(docs, "doc_id", "text", W, 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.nonEmpty)
    // per-doc segments sum to the doc's token count
    val tokCounts = docs.select(col("doc_id"),
      size(Dedup.tokens(col("text"))).cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.groupBy(_._3).foreach { case (id, segs) =>
      assert(segs.map(_._5).sum == tokCounts(id))
    }
    // within each shard: every window except the last is tiled to exactly
    // W tokens by non-overlapping segments
    out.groupBy(_._1).foreach { case (_, shardRows) =>
      val lastWin = shardRows.map(_._2).max
      shardRows.groupBy(_._2).foreach { case (win, segs) =>
        assert(segs.forall(s => s._4 >= 0 && s._4 + s._5 <= W))
        val covered = segs.flatMap(s => s._4 until (s._4 + s._5))
        assert(covered.distinct.length == covered.length, "segments overlap")
        if (win < lastWin) assert(segs.map(_._5).sum == W,
          s"window $win not fully tiled")
      }
    }
    // at least one doc longer than W actually crosses a boundary
    assert(out.groupBy(_._3).exists(_._2.map(_._2).distinct.length > 1))
  }

  test("autoClusters: sqrt sizing, floor 16, and the correctness-sf pin") {
    // the d10 golden oracle is minted at sf0.01 (500 vectors) with k=16;
    // if this pin moves, the golden must be re-minted
    assert(Similarity.autoClusters(500) == 16)
    assert(Similarity.autoClusters(1) == 16)
    // occupancy n/k and per-row cost k both grow as sqrt(n)
    assert(Similarity.autoClusters(2_000_000) == 1000)
    val n = 1_500_000L
    val k = Similarity.autoClusters(n)
    assert(n / k < 2000, "occupancy must stay square-root-bounded")
  }

  test("range join equals the theta-join at any cell width; end exclusive") {
    val ev = graft.ops.Events.load(spark, sfDir)
    val left = ev.filter(col("event_type") =!= "error")
      .select(col("user_id"), col("event_id"), col("ts"))
    val right = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("event_id").as("window_id"),
        col("ts").as("win_start"),
        (col("ts") + expr("INTERVAL 2 HOURS")).as("win_end"))
    // ground truth: Spark's own theta-join (BNL after the equi on key)
    val want = left.join(right, Seq("user_id"))
      .filter(col("ts") >= col("win_start") && col("ts") < col("win_end"))
      .select("user_id", "event_id", "window_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(want.nonEmpty, "fixture must produce matches")
    // identical result whether cells are wider, equal, or much narrower
    // than the interval (1 cell, <=2 cells, ~121 cells per interval)
    for (w <- Seq(4L * 3600 * 1000000, 2L * 3600 * 1000000, 60L * 1000000)) {
      val got = graft.ops.RangeJoin.pointInInterval(left, right,
        Seq("user_id"), "ts", "win_start", "win_end", w)
        .select("user_id", "event_id", "window_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == want, s"cell width $w")
    }
    // half-open: a point exactly at win_end must NOT match. Build an
    // interval ending exactly on a known event's ts.
    val probe = ev.orderBy("event_id").limit(1)
      .select(col("user_id"), col("event_id"), col("ts")).collect().head
    val oneInterval = spark.createDataFrame(Seq(
      (probe.getLong(0), 999999L)).map(identity))
      .toDF("user_id", "window_id")
      .withColumn("win_end", lit(probe.getAs[java.sql.Timestamp]("ts")))
      .withColumn("win_start", col("win_end") - expr("INTERVAL 1 HOUR"))
    val atEnd = graft.ops.RangeJoin.pointInInterval(
      left.filter(col("event_id") === probe.getLong(1)), oneInterval,
      Seq("user_id"), "ts", "win_start", "win_end", 3600L * 1000000)
    assert(atEnd.count() == 0, "end bound must be exclusive")
    // degenerate interval (end <= start) matches nothing
    val empty = graft.ops.RangeJoin.pointInInterval(left,
      right.withColumn("win_end", col("win_start")),
      Seq("user_id"), "ts", "win_start", "win_end", 3600L * 1000000)
    assert(empty.count() == 0)
    // the whole point: the plan is an equi-join on (key, cell), never a
    // nested-loop/cartesian with the range as the only non-key predicate
    val plan = graft.ops.RangeJoin.pointInInterval(left, right,
      Seq("user_id"), "ts", "win_start", "win_end", 2L * 3600 * 1000000)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"),
      plan.linesIterator.take(5).mkString("\n"))
    assert(plan.contains("Join"), "must still be a join")
  }

  test("tfidf: shuffle-join fallback is bit-equal to the broadcast path") {
    val broad = graft.ops.TextAnalysis.tfidf(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2),
        r.getLong(3), r.getDouble(4))).toSet
    assert(broad.nonEmpty)
    val shuffled = graft.ops.TextAnalysis.tfidf(docs, "doc_id", "text",
      maxBroadcastVocab = 0L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2),
        r.getLong(3), r.getDouble(4))).toSet
    assert(shuffled == broad)
    // every doc with tokens yields exactly k rows (or its distinct-term
    // count if smaller), ranks 1..k, and rank-1 has the max score
    val byDoc = broad.groupBy(_._1)
    byDoc.foreach { case (_, rows) =>
      val ranks = rows.map(_._3).toSeq.sorted
      assert(ranks == (1 to rows.size))
      val top = rows.minBy(_._3)
      assert(rows.forall(_._5 <= top._5 + 1e-12))
    }
  }

  test("semDedup drop list equals brute-force within-cluster dedup") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .withColumn("emb", col("embedding").cast("array<double>"))
    val threshold = 0.25
    val got = Similarity.semDedup(emb, "vec_id", "emb",
      nClusters = 8, threshold = threshold).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(got.nonEmpty, "fixture must actually contain semantic dups")
    // brute force on the driver from the SAME (deterministic) quantizer
    val cents = Similarity.fitQuantizer(emb, "vec_id", "emb", 8)
    val vecs = emb.select("vec_id", "emb").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).sortBy(_._1)
    def cell(v: Array[Double]): Int = cents.zipWithIndex.minBy { case (c, i) =>
      (c.zip(v).map { case (a, b) => (a - b) * (a - b) }.sum, i)
    }._2
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val assigned = vecs.map { case (id, v) => (id, cell(v), v) }
    val expected = assigned.flatMap { case (b, cb, vb) =>
      val witnesses = assigned
        .filter { case (a, ca, va) => a < b && ca == cb && cos(va, vb) >= threshold }
      witnesses.headOption.map { case (a, _, va) => (b, cb, a, cos(va, vb)) }
    }
    assert(got.map(t => (t._1, t._2, t._3)).toSet ==
      expected.map(t => (t._1, t._2, t._3)).toSet)
    val gotCos = got.map(t => (t._1, t._4)).toMap
    expected.foreach { case (b, _, _, c) =>
      assert(math.abs(gotCos(b) - c) < 1e-9)
    }
  }
}
