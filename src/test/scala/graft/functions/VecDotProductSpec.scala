package graft.functions

import org.apache.spark.sql.functions._
import org.scalacheck.Gen

import graft.SparkTestBase
import graft.functions.VecDotProduct.vecDot
import graft.functions.VectorFunctions.{dot, toDoubleVec}

/** The native codegen'd vec_dot must be bit-identical to the interpreted
  * higher-order-function fold it replaces (same widening, same summation
  * order) — this is what lets the similarity operators swap it in without
  * touching oracle parity.
  *
  * Generators sampled directly (the scalatestplus bridge isn't on the
  * offline classpath); seeded per round so failures replay.
  */
class VecDotProductSpec extends SparkTestBase {
  import spark.implicits._

  private val genVec: Gen[List[Float]] = Gen.listOfN(16, Gen.chooseNum(-10.0f, 10.0f))

  test("vec_dot == HOF fold, bit for bit, on random float vectors") {
    (1 to 30).foreach { i =>
      val a = sample(genVec, 42L + i)
      val b = sample(genVec, 4242L + i)
      val df = Seq((a.toArray, b.toArray)).toDF("a", "b")
      val native = df.select(vecDot(col("a"), col("b"))).head().getDouble(0)
      val hof = df.select(dot(toDoubleVec(col("a")), toDoubleVec(col("b")))).head().getDouble(0)
      assert(java.lang.Double.doubleToLongBits(native) == java.lang.Double.doubleToLongBits(hof),
        s"[seed ${42 + i}] native=$native hof=$hof")
    }
  }

  test("vec_dot handles double arrays, nulls, and SQL registration") {
    val df = Seq((Array(1.0, 2.0), Array(3.0, 4.0))).toDF("a", "b")
    df.select(vecDot(col("a"), col("b"))).head().getDouble(0) shouldBe 11.0
    // null propagation
    val withNull = df.select(vecDot(lit(null).cast("array<double>"), col("b")))
    withNull.head().isNullAt(0) shouldBe true
    // SQL surface
    SqlFunctions.registerAll(spark)
    df.createOrReplaceTempView("vdp_t")
    sql("SELECT vec_dot(a, b) AS d FROM vdp_t").head().getDouble(0) shouldBe 11.0
  }

  test("vec_dot of mismatched-length arrays is null (oracle parity), not a truncated product") {
    val df = Seq((Array(1.0, 2.0, 3.0), Array(3.0, 4.0))).toDF("a", "b")
    df.select(vecDot(col("a"), col("b"))).head().isNullAt(0) shouldBe true
    // and through the interpreted path too
    val interpreted = df.selectExpr("a", "b")
      .withColumn("d", vecDot(col("a"), col("b")))
      .filter(col("d").isNull)
    interpreted.count() shouldBe 1L
  }
}
