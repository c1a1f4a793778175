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
    val spark = ToolHarness.session("graft-plandump")
    new java.io.File(outDir).mkdirs()
    ToolHarness.selection(Some(args(2))).foreach { name =>
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
      ToolHarness.releaseCaches(spark)
    }
    SparkEntry.cleanupScratch(spark, sfDir)
    spark.stop()
  }
}
