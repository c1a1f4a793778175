package graft.sources

import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser

import org.apache.spark.sql.types.TimestampType

import graft.SparkTestBase
import graft.operators.BackfillPipeline

/** Schema-less parquet reads take the schema Spark would infer from one
  * driver-side footer read, so planning them starts no Spark job, and the
  * event log reads the same rows whatever its `ts` encoding.
  */
class ParquetFooterSchemaSpec extends SparkTestBase {
  import spark.implicits._

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft_footer_$tag").toString

  /** Descriptions of the Spark jobs `body` starts from this thread. Jobs
    * started from this thread carry its job group; suites running alongside
    * start their own.
    */
  private def jobsStartedBy[T](body: => T): (T, Seq[String]) = {
    val group = s"footer-${System.nanoTime()}"
    val seen = new LinkedBlockingQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          seen.add(e.properties.getProperty("spark.job.description"))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "read")
      val out = body
      sc.setJobDescription("marker")
      sc.parallelize(Seq(1), 1).count()
      // the listener bus delivers in order: any job the body started
      // arrives before the marker
      val before = Seq.newBuilder[String]
      var d = seen.poll(60, TimeUnit.SECONDS)
      while (d != null && d != "marker") { before += d; d = seen.poll(60, TimeUnit.SECONDS) }
      d shouldBe "marker"
      (out, before.result())
    } finally { sc.clearJobGroup(); sc.removeSparkListener(listener) }
  }

  /** An event log file with `ts` as INT64 of the given parquet timestamp
    * annotation, written by parquet-hadoop (Spark never writes NANOS).
    */
  private def eventLog(path: String, annotation: String, perMicro: Long,
      rows: Seq[(String, String, Long)]): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      "message events { required binary user_id (STRING); " +
        s"required binary event_type (STRING); required int64 ts ($annotation); }")
    val conf = spark.sparkContext.hadoopConfiguration
    val w = ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(new Path(path), conf))
      .withType(schema).withConf(conf).build()
    val groups = new SimpleGroupFactory(schema)
    try rows.foreach { case (u, e, micros) =>
      w.write(groups.newGroup().append("user_id", u).append("event_type", e)
        .append("ts", micros * perMicro))
    } finally w.close()
  }

  private val events = Seq(
    ("u1", "click", 1704067200000000L), // 2024-01-01 00:00:00 UTC
    ("u2", "view", 1704153661123456L), // 2024-01-02 00:01:01.123456
    ("u1", "buy", 1706659199999999L)) // 2024-01-30 23:59:59.999999

  test("schema-less readParquet and readEvents start no Spark job") {
    val dir = tmp("nojob")
    val flat = s"$dir/events.parquet"
    events.map { case (u, e, us) => (u, e, new Timestamp(us / 1000)) }
      .toDF("user_id", "event_type", "ts").write.parquet(flat)
    val parted = s"$dir/parted"
    Seq((1L, "a", "2024-01-01"), (2L, "b", "2024-01-02")).toDF("id", "s", "day")
      .write.partitionBy("day").parquet(parted)
    val (frames, jobs) = jobsStartedBy(Seq(
      ProdFetcher.readParquet(spark, flat),
      ProdFetcher.readParquet(spark, parted),
      BackfillPipeline.readEvents(spark, ProdFetcher, flat)))
    jobs shouldBe empty
    frames.head.count() shouldBe 3L
    frames(1).as[(Long, String, String)].collect().toSet shouldBe
      Set((1L, "a", "2024-01-01"), (2L, "b", "2024-01-02"))
    frames(2).schema("ts").dataType shouldBe TimestampType
  }

  test("the footer schema is the schema Spark's own inference reads") {
    val dir = tmp("parity")
    val df = Seq((1L, "a", 1.5, Option(2), "2024-01-01"), (2L, "b", 2.5, None, "2024-01-02"))
      .toDF("id", "s", "x", "n", "day")
    df.write.parquet(s"$dir/flat")
    df.write.partitionBy("day").parquet(s"$dir/parted")
    df.write.option("parquet.summary.metadata.level", "ALL").parquet(s"$dir/summary")
    eventLog(s"$dir/ntz.parquet", "TIMESTAMP(MICROS,false)", 1L, events)
    Seq("flat", "parted", "summary", "ntz.parquet").foreach { name =>
      val path = s"$dir/$name"
      withClue(name) {
        ParquetFooterSchema(spark, path) should not be empty
        ProdFetcher.readParquet(spark, path).schema shouldBe spark.read.parquet(path).schema
      }
    }
    ParquetFooterSchema(spark, s"$dir/missing") shouldBe empty
    an[org.apache.spark.sql.AnalysisException] should be thrownBy
      ProdFetcher.readParquet(spark, s"$dir/missing")
  }

  test("readEvents reads TIMESTAMP(MICROS), TIMESTAMP_NTZ and TIMESTAMP(NANOS) ts as the same rows") {
    val dir = tmp("ts")
    val encodings = Seq(
      "micros" -> ("TIMESTAMP(MICROS,true)", 1L),
      "ntz" -> ("TIMESTAMP(MICROS,false)", 1L),
      "nanos" -> ("TIMESTAMP(NANOS,true)", 1000L))
    val want = events.map { case (u, e, us) =>
      val t = new Timestamp(us / 1000000L * 1000L)
      t.setNanos((us % 1000000L).toInt * 1000)
      (u, e, t)
    }.toSet
    encodings.foreach { case (name, (annotation, perMicro)) =>
      val path = s"$dir/$name.parquet"
      eventLog(path, annotation, perMicro, events)
      withClue(name) {
        val read = BackfillPipeline.readEvents(spark, ProdFetcher, path)
        read.schema("ts").dataType shouldBe TimestampType
        read.select("user_id", "event_type", "ts").as[(String, String, Timestamp)]
          .collect().toSet shouldBe want
      }
    }
  }
}
