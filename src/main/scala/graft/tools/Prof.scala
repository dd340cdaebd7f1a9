package graft.tools
import org.apache.spark.sql.SparkSession

/** Ad-hoc query profiler (scratch tool): time named SparkEntry queries
  * in a fresh session and count the Janino compiles of each run, the
  * host-independent cost of Spark's code generation. Usage:
  * Prof <sfDir> <query>[,query...] [runs] */
object Prof {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/tmp/testdata/sf1"
    val names = if (args.length > 1) args(1).split(",").toSeq
      else Seq("pipe_corpus_full")
    val runs = if (args.length > 2) args(2).toInt else 1
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_PROF_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_PROF_SHUFFLE", "32"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // SPARK_GRAFT_PROF_WIPE_SIDECARS=1: recompute snapshot sidecars every
    // run (matches the bench's timed-producer semantics)
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rmrf))
      f.delete(); ()
    }
    val compileTime = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    for (name <- names; r <- 1 to runs) {
      if (sys.env.get("SPARK_GRAFT_PROF_WIPE_SIDECARS").contains("1"))
        rmrf(new java.io.File(graft.Tables.warehouseDir(sfDir), "_sidecars"))
      val compiles0 = compileTime.getCount
      val (res, scope) = graft.ops.Caches.scoped {
        val t0 = System.nanoTime()
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      scope.release()
      graft.ops.Caches.release()
      // Janino compiles (codegen cache misses) do not depend on the host
      val compiles = compileTime.getCount - compiles0
      val meanMs = compileTime.getSnapshot.getMean
      println(f"$name run $r: $res%.2f s, $compiles janino compiles " +
        f"(mean $meanMs%.1f ms per compile in this JVM)")
    }
    spark.stop()
  }
}
