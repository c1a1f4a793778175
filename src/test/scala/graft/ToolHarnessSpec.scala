package graft

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.Files
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicReference}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftColumnBridge}
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamExecution}
import org.apache.spark.sql.functions.{lit, raise_error}
import org.apache.spark.storage.StorageLevel

/** Prints the live conf of one session — `tool` ([[ToolHarness.session]]) or
  * `platform` ([[PlatformProvider.createLocal]]) — one `key=value` line per
  * key. It runs in a JVM of its own: a JVM holds one SparkContext, and each
  * tool is its own JVM.
  */
object SessionConfProbe {
  val keys: Seq[String] = PlatformProvider.defaults.keys.toSeq.sorted ++
    Seq("spark.master", "spark.sql.shuffle.partitions", "spark.sql.catalogImplementation")

  def main(args: Array[String]): Unit = {
    val spark =
      if (args(0) == "tool") ToolHarness.session("conf-probe")
      else PlatformProvider.createLocal("conf-probe").spark
    keys.foreach(k => println(s"$k=${spark.conf.get(k)}"))
    spark.stop()
  }
}

class ToolHarnessSpec extends SparkTestBase {
  import spark.implicits._

  test("a query that throws yields no sample, and never a fast sample") {
    ToolHarness.once(spark)(throw new IllegalStateException("build failed")) shouldBe None
    // the frame builds, its execution fails
    ToolHarness.once(spark)(spark.range(10).select(raise_error(lit("run failed")))) shouldBe None
    // and a later sample on the same thread counts as usual
    ToolHarness.once(spark)(spark.range(0, 100, 1, 2).toDF()).map(_.counts) shouldBe
      Some(ToolHarness.Counts(1, 1, 2))
  }

  test("a returned persisted frame leaves no persistent RDD after the sample and releaseCaches") {
    var inner: org.apache.spark.rdd.RDD[Long] = null
    var frame: DataFrame = null
    val sample = ToolHarness.once(spark) {
      // an operator-internal persist that outlives the query...
      inner = spark.sparkContext.parallelize(1L to 100L, 2).persist()
      inner.count()
      // ...and a persisted frame returned by contract
      frame = spark.range(1000).toDF("id").persist()
      frame
    }
    sample shouldBe defined
    frame.storageLevel shouldBe StorageLevel.NONE
    spark.sparkContext.getPersistentRDDs.keySet should contain (inner.id)
    ToolHarness.releaseCaches(spark)
    spark.sparkContext.getPersistentRDDs shouldBe empty
  }

  test("spark.range(0, 1000, 1, 4) reads 1 job, 1 stage and 4 tasks while other jobs run") {
    val stop = new AtomicBoolean(false)
    val otherJobs = new AtomicInteger(0)
    // started before any sample, so it carries no sample's tag
    val other = new Thread(() =>
      while (!stop.get) { spark.range(0, 200, 1, 3).count(); otherJobs.incrementAndGet() })
    other.start()
    try {
      while (otherJobs.get < 1) Thread.sleep(10)
      val before = otherJobs.get
      val counts = (1 to 5).flatMap(_ =>
        ToolHarness.once(spark)(spark.range(0, 1000, 1, 4).toDF())).map(_.counts)
      otherJobs.get should be > before
      counts shouldBe Seq.fill(5)(ToolHarness.Counts(1, 1, 4))
    } finally { stop.set(true); other.join() }
  }

  test("a MemoryStream query's micro-batch jobs count in its sample") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Long]
    val queryId = new AtomicReference[String]
    val streamJobs = new AtomicInteger(0)
    // the stream thread tags its jobs with its query id (and replaces the
    // job group with its run id): count them independently of the harness
    val probe = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(p => queryId.get != null &&
            p.getProperty(StreamExecution.QUERY_ID_KEY) == queryId.get))
          streamJobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(probe)
    try {
      val sample = ToolHarness.once(spark) {
        val q = input.toDF().writeStream.format("memory")
          .queryName("tool_harness_stream").outputMode("append").start()
        queryId.set(q.id.toString)
        try {
          input.addData(1L to 10L)
          q.processAllAvailable()
          input.addData(11L to 20L)
          q.processAllAvailable()
        } finally q.stop()
        spark.table("tool_harness_stream")
      }
      GraftColumnBridge.waitForListeners(spark.sparkContext)
      streamJobs.get should be >= 2
      // the micro-batches' jobs plus the sample's own write
      sample.get.counts.jobs should be >= streamJobs.get + 1
    } finally spark.sparkContext.removeSparkListener(probe)
  }

  /** Runs [[SessionConfProbe]] in a child JVM with the test JVM's class path
    * and module opens, in a scratch working directory (a Hive session's
    * Derby files land there), with `SPARK_GRAFT_CPUS` unset.
    */
  private def probe(kind: String): Map[String, String] = {
    val dir = Files.createTempDirectory("graft_conf_probe").toFile
    try {
      val jvmArgs = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
      val opens = jvmArgs.zipWithIndex.flatMap {
        case (a, _) if a.startsWith("--add-opens=") => Seq(a)
        case (a, i) if a == "--add-opens" && i + 1 < jvmArgs.size => Seq(a, jvmArgs(i + 1))
        case _ => Seq.empty
      }
      val cmd = Seq(s"${System.getProperty("java.home")}/bin/java", "-Xmx1g") ++ opens ++
        Seq("-cp", System.getProperty("java.class.path"), "graft.SessionConfProbe", kind)
      val pb = new ProcessBuilder(cmd.asJava).directory(dir)
        .redirectError(new File(dir, "stderr.log"))
      pb.environment().remove("SPARK_GRAFT_CPUS")
      val p = pb.start()
      val out = scala.io.Source.fromInputStream(p.getInputStream).getLines().toList
      withClue(s"$kind probe stderr tail: " +
          scala.io.Source.fromFile(new File(dir, "stderr.log")).getLines().toList.takeRight(20)) {
        p.waitFor() shouldBe 0
      }
      out.filter(l => SessionConfProbe.keys.exists(k => l.startsWith(k + "=")))
        .map { l => val Array(k, v) = l.split("=", 2); k -> v }.toMap
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }

  test("the tool session reads PlatformProvider's live values for every default; its catalog is in-memory") {
    val tool = probe("tool")
    val platform = probe("platform")
    PlatformProvider.defaults.foreach { case (k, v) =>
      withClue(k) {
        tool(k) shouldBe platform(k)
        tool(k) shouldBe v
      }
    }
    tool("spark.master") shouldBe platform("spark.master")
    tool("spark.sql.shuffle.partitions") shouldBe platform("spark.sql.shuffle.partitions")
    tool("spark.sql.catalogImplementation") shouldBe "in-memory"
    platform("spark.sql.catalogImplementation") shouldBe "hive"
  }
}
