package graft.functions

import org.apache.spark.sql.functions._
import org.scalacheck.Gen

import graft.SparkTestBase
import graft.functions.TextFunctions.{polyHash, polyHashHof}

/** The native poly_hash must be bit-identical to the interpreted
  * `aggregate(sequence(...))` fold it replaces — same per-character value
  * (the Unicode CODE POINT of the character, i.e. Spark 4's `ascii` on the
  * 1-char substring), same left-fold order, same `%` remainder semantics —
  * or the dedup oracle parity breaks.
  */
class PolyHashSpec extends SparkTestBase {
  import spark.implicits._

  private def assertParity(strings: Seq[String]): Unit = {
    val df = strings.toDF("s")
      .select(col("s"), polyHash(col("s")).as("native"), polyHashHof(col("s")).as("hof"))
    val bad = df.filter(!(col("native") <=> col("hof"))).collect()
    assert(bad.isEmpty, s"native != HOF on: ${bad.mkString(", ")}")
  }

  test("native == HOF fold on random ASCII strings, empty, and edge cases") {
    val asciiGen = Gen.listOfN(40, Gen.choose(32.toChar, 126.toChar)).map(_.mkString)
    assertParity((1 to 50).map(i => sample(asciiGen, 42L + i)) ++
      Seq("", "a", "  ", "the quick brown fox", "a" * 500))
  }

  test("native == HOF fold on multi-byte UTF-8 (code-point semantics)") {
    assertParity(Seq("héllo wörld", "日本語テキスト", "mixé 中 ascii", "émoji 🎉 test", "ß"))
  }

  test("known values stay pinned (oracle contract)") {
    // "ab" -> ((0*131+97) % M)*131 + 98 = 12805 (M = 1e9+7 never reached)
    Seq("ab").toDF("s").select(polyHash(col("s"))).head().getLong(0) shouldBe 12805L
    Seq("").toDF("s").select(polyHash(col("s"))).head().getLong(0) shouldBe 0L
  }

  test("SQL registration works") {
    SqlFunctions.registerAll(spark)
    sql("SELECT poly_hash('ab') AS h").head().getLong(0) shouldBe 12805L
  }

  test("null propagates") {
    Seq(Option.empty[String]).toDF("s")
      .select(polyHash(col("s"))).head().isNullAt(0) shouldBe true
  }
}
