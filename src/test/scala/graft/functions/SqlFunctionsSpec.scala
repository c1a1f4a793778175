package graft.functions

import graft.SparkTestBase

/** The SQL surface: every native kernel callable from `spark.sql` under
  * its registered name, equal to its Column-API form.
  */
class SqlFunctionsSpec extends SparkTestBase {
  import spark.implicits._

  SqlFunctions.registerAll(spark)
  Seq("t1", "hello world hello", "a b a b").zipWithIndex
    .map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    .createOrReplaceTempView("sqlfn_docs")

  test("scalar hashes and stats run from SQL and match the Column API") {
    val viaSql = sql(
      """SELECT id, poly_hash(text) AS h, poly_hash61(text) AS h61,
        |  text_stats(text).n_tokens AS n, rep_stats(text).best_cnt AS bc,
        |  simhash(text) AS sh, shingle_hashes(text, 2) AS sgs
        |FROM sqlfn_docs""".stripMargin)
      .selectExpr("id", "h", "h61", "n", "bc", "sh", "size(sgs) AS nsg")
      .as[(Long, Long, Long, Long, Long, Long, Int)].collect().toSet
    val viaColumns = sql("SELECT id, text FROM sqlfn_docs")
      .select(
        org.apache.spark.sql.functions.col("id"),
        TextFunctions.polyHash(org.apache.spark.sql.functions.col("text")).as("h"),
        graft.functions.PolyHash61.polyHash61(org.apache.spark.sql.functions.col("text")).as("h61"),
        TextStats.textStats(org.apache.spark.sql.functions.col("text")).getField("n_tokens").as("n"),
        RepStats.repStats(org.apache.spark.sql.functions.col("text")).getField("best_cnt").as("bc"),
        SimHash.simhash(org.apache.spark.sql.functions.col("text")).as("sh"),
        org.apache.spark.sql.functions.size(
          TextFunctions.shingleHashes(org.apache.spark.sql.functions.col("text"), 2)).as("nsg"))
      .as[(Long, Long, Long, Long, Long, Long, Int)].collect().toSet
    viaSql shouldBe viaColumns
  }

  test("vector and set kernels run from SQL") {
    sql("SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .as[Double].head() shouldBe 11.0
    sql("SELECT sorted_intersect_count(array(1L, 2L, 5L), array(2L, 5L, 9L)) AS c")
      .as[Long].head() shouldBe 2L
    sql("SELECT size(minhash_signature(array(1L, 2L, 3L))) AS k")
      .as[Int].head() shouldBe TextFunctions.MinhashK
    // "ab cd" -> windows "ab ", "b c", " cd", "cd" is 2 chars short of 5
    sql("SELECT char_ngram_hash_buckets('Ab,cd', 3, 4096) AS b")
      .selectExpr("size(b)").as[Int].head() shouldBe 3
    sql("SELECT char_ngram_hash_buckets('ab', 3, 4096) AS b")
      .selectExpr("size(b)").as[Int].head() shouldBe 0
  }

  test("bad arity and non-literal parameters fail loudly") {
    an[Exception] should be thrownBy sql("SELECT shingle_hashes('a b c')").collect()
    an[Exception] should be thrownBy sql("SELECT vec_dot(array(1.0D))").collect()
    an[Exception] should be thrownBy
      sql("SELECT shingle_hashes(text, id) FROM (SELECT 'a' AS text, 2 AS id)").collect()
    // a wrongly typed input fails analysis for every SQL name: no implicit
    // cast turns it into a result
    Seq("poly_hash(1)", "poly_hash61(1)", "vec_dot(array(1, 2), array(3, 4))",
      "text_stats(array(1))", "rep_stats(1)", "minhash_signature(array('a'))",
      "sorted_intersect_count(array('a'), array('b'))", "shingle_hashes(1, 2)",
      "simhash(array(1))", "char_ngram_hash_buckets(1, 3, 64)", "redact_pii(array(1))")
      .foreach { call =>
        withClue(call) {
          an[org.apache.spark.sql.AnalysisException] should be thrownBy
            sql(s"SELECT $call").collect()
        }
      }
    (the[org.apache.spark.sql.AnalysisException] thrownBy sql("SELECT poly_hash(1)"))
      .getMessage should include("poly_hash requires a string input, got int")
  }

  test("redact_pii runs from SQL and matches the Column operator") {
    sql("SELECT redact_pii('mail bob@x.io from 8.8.8.8 tel 555-123-4567') AS r")
      .as[String].head() shouldBe "mail <EMAIL> from <IP> tel <PHONE>"
    val pii = Seq((1L, "ask eve@a.de or 10.0.0.1"), (2L, "none here"))
      .toDF("id", "text")
    pii.createOrReplaceTempView("sqlfn_pii")
    val viaSql = sql("SELECT redact_pii(text) AS r FROM sqlfn_pii ORDER BY id")
      .as[String].collect().toSeq
    val viaCol = pii.orderBy("id")
      .select(TextFunctions.redactPii(org.apache.spark.sql.functions.col("text")).as("r"))
      .as[String].collect().toSeq
    viaSql shouldBe viaCol
    an[Exception] should be thrownBy sql("SELECT redact_pii('a', 'b')").collect()
  }
}
