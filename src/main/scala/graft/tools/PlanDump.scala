package graft.tools

import org.apache.spark.sql.SparkSession

/** Dump `.explain("formatted")` + the final (post-AQE) physical plan for
  * named SparkEntry queries to files — the before/after plan evidence an
  * optimization round commits under plans/.
  * Usage: PlanDump <outDir> <suffix> <query>[,query...] [sfDir] */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.01"
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rmrf))
      f.delete(); ()
    }
    // sidecar producers hide their computation behind an eager parquet
    // write (the query's own plan is just a read of the artifact) —
    // these "raw" variants run the same computation with the sidecar
    // disabled so its plan is dumpable
    val raw: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] = Map(
      "d12_substring_dedup_raw" -> ((s, dir) =>
        graft.ops.Dedup.substringSpans(graft.Tables.scan(s, dir, "documents"),
          "text", "doc_id", windowTokens = 8, minDocs = 2)),
      "d7_jaccard_pairs_raw" -> ((s, dir) =>
        graft.ops.Dedup.jaccardExactPairs(graft.Tables.scan(s, dir, "documents"),
          "text", "doc_id", "lang")))
    val queries = graft.SparkEntry.queries ++ raw
    for (name <- names) {
      // recompute snapshot sidecars so a producer's plan shows the real
      // computation, not a parquet read of its own previous artifact
      rmrf(new java.io.File(graft.Tables.warehouseDir(sfDir), "_sidecars"))
      val (res, scope) = graft.ops.Caches.scoped {
        val df = queries(name)(spark, sfDir)
        // execute so AQE finalizes the plan (pre-execution plans hide
        // join strategies and codegen spans)
        df.write.format("noop").mode("overwrite").save()
        val formatted = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        val finalPlan = df.queryExecution.executedPlan.toString
        s"==== $name ($suffix) over $sfDir ====\n\n" +
          "---- explain(formatted), pre-execution ----\n" + formatted +
          "\n---- final physical plan (post-AQE) ----\n" + finalPlan
      }
      scope.release()
      graft.ops.Caches.release()
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
        res.getBytes("UTF-8"))
      println(s"wrote $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
