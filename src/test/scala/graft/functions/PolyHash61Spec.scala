package graft.functions

import org.apache.spark.sql.functions._
import org.scalacheck.Gen

import graft.SparkTestBase
import graft.functions.PolyHash61.polyHash61

/** The native 61-bit hash must match an independent BigInt reference of the
  * same recurrence (the DuckDB twin computes it with HUGEINT intermediates,
  * i.e. exactly the BigInt math) — the multiplyHigh/Mersenne-fold shortcut
  * must be invisible.
  */
class PolyHash61Spec extends SparkTestBase {
  import spark.implicits._

  /** Reference fold + finalizer in arbitrary precision over code points. */
  private def ref(s: String): Long = {
    val M = BigInt(PolyHash61Impl.Mod61)
    val B = BigInt(PolyHash61Impl.Base61)
    var h = s.codePoints().toArray.foldLeft(BigInt(0)) { (acc, cp) =>
      (acc * B + cp) % M
    }
    h = h ^ (h >> 30)
    h = (h * PolyHash61Impl.Mix1) % M
    h = h ^ (h >> 27)
    h = (h * PolyHash61Impl.Mix2) % M
    h = h ^ (h >> 31)
    (h % M).toLong
  }

  private def assertRef(strings: Seq[String]): Unit = {
    val got = strings.toDF("s").select(polyHash61(col("s"))).as[Long].collect()
    got.zip(strings.map(ref)).zip(strings).foreach { case ((g, r), s) =>
      withClue(s"input '$s':") { g shouldBe r }
    }
  }

  test("native == BigInt reference on random ASCII, empty, and edge cases") {
    val asciiGen = Gen.listOfN(60, Gen.choose(32.toChar, 126.toChar)).map(_.mkString)
    assertRef((1 to 50).map(i => sample(asciiGen, 61L + i)) ++
      Seq("", "a", "  ", "the quick brown fox", "z" * 800))
  }

  test("native == BigInt reference on multi-byte UTF-8 (code-point semantics)") {
    assertRef(Seq("héllo wörld", "日本語テキスト", "mixé 中 ascii", "émoji 🎉 test", "ß"))
  }

  test("values span the 61-bit range (not the 30-bit space of poly_hash)") {
    val hs = (1 to 2000).map(i => s"value-$i").toDF("s")
      .select(polyHash61(col("s"))).as[Long].collect()
    all(hs) should be >= 0L
    all(hs) should be < PolyHash61Impl.Mod61
    // with 2000 uniform 61-bit draws, the max exceeds 2^60 with
    // probability 1 - 2^-2000; the 30-bit hash could never reach it
    hs.max should be > (1L << 60)
    hs.distinct.length shouldBe hs.length
  }

  test("NULL propagates; SQL registration works") {
    Seq(Option.empty[String]).toDF("s")
      .select(polyHash61(col("s"))).collect().head.isNullAt(0) shouldBe true
    SqlFunctions.registerAll(spark)
    spark.sql("SELECT poly_hash61('ab') AS h").as[Long].head() shouldBe ref("ab")
  }
}
