package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** One shared local session for the whole test JVM (reference pattern:
  * SparkTestBase.scala:14-37 — local master, tiny shuffle partition count).
  * Built by [[PlatformProvider.builder]], so the suite runs the defaults
  * that ship (UTC, AQE, codegen cache, local filesystem) on the in-memory
  * catalog. Suites mix this in; the session is created once lazily.
  */
object SharedSparkSession {
  lazy val spark: SparkSession = PlatformProvider.builder("graft-test", "local[4]", Map(
    "spark.sql.shuffle.partitions" -> "4",
    "spark.sql.warehouse.dir" -> s"/tmp/graft-test-warehouse-${System.nanoTime()}"))
    .getOrCreate()
}

trait SparkTestBase extends AnyFunSuite with Matchers with BeforeAndAfterAll {
  lazy val spark: SparkSession = {
    val s = SharedSparkSession.spark
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def sql(text: String) = spark.sql(text)

  /** Timestamp literal helper: "2024-01-02 12:00:00" -> java.sql.Timestamp. */
  def ts(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)

  /** Date literal helper. */
  def d(s: String): java.sql.Date = java.sql.Date.valueOf(s)

  /** Sample a ScalaCheck generator deterministically (the scalatestplus
    * bridge isn't on the offline classpath; seeded so failures replay).
    */
  def sample[T](gen: org.scalacheck.Gen[T], seed: Long): T =
    gen.apply(org.scalacheck.Gen.Parameters.default, org.scalacheck.rng.Seed(seed)).get
}
