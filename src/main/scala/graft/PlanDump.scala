package graft

/** Measurement tool (optimization guide §1): dump `.explain("formatted")`
  * for named contract queries to files, so plan claims (Exchange counts,
  * join strategies, PushedFilters/ReadSchema) are auditable artifacts
  * instead of assertions. Usage:
  *
  *   sbt "runMain graft.PlanDump <sfDir> <outDir> q155,q160,..."
  *
  * Names match by [[SparkEntry.queryFilter]] (`q155` matches `q155_host_pagerank`).
  * Writes `<outDir>/<name>.txt`. Plans are built but never executed (no
  * actions beyond what query CONSTRUCTION itself runs — iterative operators
  * like PageRank materialize per-iteration frames at build time; their dump
  * shows the final returned frame's plan, which is the post-iteration read).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries",
        sys.env.getOrElse("SPARK_GRAFT_CODEGEN_CACHE", "2000"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(SparkEntry.queryFilter(args(2)))
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$outDir/$name.txt"), plan.getBytes("UTF-8"))
        println(s"[plandump] wrote $outDir/$name.txt (${plan.length} chars)")
      } catch { case scala.util.control.NonFatal(e) =>
        println(s"[plandump] FAILED $name: ${e.getMessage}")
      }
      try spark.catalog.clearCache() catch { case scala.util.control.NonFatal(_) => () }
      spark.sparkContext.getPersistentRDDs.values
        .foreach(r => try r.unpersist(blocking = false) catch { case scala.util.control.NonFatal(_) => () })
    }
    SparkEntry.cleanupScratch(spark, sfDir)
    spark.stop()
  }
}
