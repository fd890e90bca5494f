package graft

import org.scalatest.funsuite.AnyFunSuite

class LocalSessionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("the factory's session carries the shared conf and is reused") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    // static confs: fixed when the context starts
    val static = spark.sparkContext.getConf
    assert(static.get("spark.ui.enabled") == "false")
    assert(static.get("spark.sql.codegen.cache.maxEntries") == "10000")
    assert(LocalSession(cores = 4) eq spark)
  }

  private val named = Seq("q41_transe_recs" -> 41, "q07_kcore" -> 7, "q16_minhash" -> 16)

  test("select: no filter keeps every name, sorted") {
    assert(LocalSession.select(named, None).map(_._1) ==
      Seq("q07_kcore", "q16_minhash", "q41_transe_recs"))
  }

  test("select: comma-separated substrings, blanks ignored, result sorted") {
    assert(LocalSession.select(named, Some("transe, ,q07")) ==
      Seq("q07_kcore" -> 7, "q41_transe_recs" -> 41))
    assert(LocalSession.select(named, Some("q1")).map(_._1) == Seq("q16_minhash"))
  }

  test("select: a filter that matches nothing throws, naming the filter") {
    val e = intercept[IllegalArgumentException](LocalSession.select(named, Some("q99,tucker")))
    assert(e.getMessage.contains("q99,tucker"))
  }
}
