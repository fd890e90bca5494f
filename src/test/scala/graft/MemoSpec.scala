package graft.util

import graft.TestSpark
import graft.queries.{Memos, Query}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

class MemoSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** A DataFrame memo that counts its builds. */
  private def counted(name: String): (Memo[DataFrame], () => Int) = {
    var builds = 0
    val m = Memo.frame(name) { (s, _) => builds += 1; s.range(builds * 10L).toDF() }
    (m, () => builds)
  }

  test("one build per (session, dir), persisted and materialized") {
    val (m, builds) = counted("reuse")
    val a = m(spark, "a")
    assert(a.storageLevel == StorageLevel.MEMORY_AND_DISK)
    assert(m(spark, "a") eq a)
    assert(builds() == 1)
    assert(m(spark, "b") ne a)
    assert(builds() == 2)
    val other = spark.newSession()
    assert(m(other, "a") ne a)
    assert(builds() == 3)
    Seq(spark, other).foreach(m.release)
  }

  test("a hit after clearCache re-pins the same frame instead of rebuilding") {
    val (m, builds) = counted("repin")
    val a = m(spark, "a")
    spark.catalog.clearCache()
    assert(a.storageLevel == StorageLevel.NONE)
    assert(m(spark, "a") eq a)
    assert(a.storageLevel == StorageLevel.MEMORY_AND_DISK)
    assert(builds() == 1)
    m.release(spark)
  }

  test("release drops only the given session's entries; a later read rebuilds") {
    val (m, builds) = counted("release")
    val other = spark.newSession()
    val a = m(spark, "a")
    val b = m(other, "a")
    m.release(spark)
    assert(a.storageLevel == StorageLevel.NONE)
    assert(b.storageLevel == StorageLevel.MEMORY_AND_DISK)
    assert(m(other, "a") eq b)
    assert(builds() == 2)
    assert(m(spark, "a") ne a)
    assert(builds() == 3)
    Seq(spark, other).foreach(m.release)
  }

  test("entries of stopped sessions are evicted on the next read") {
    final case class V(s: SparkSession, n: Int)
    val dead = scala.collection.mutable.Set.empty[SparkSession]
    var builds = 0
    val m = new Memo[V]("evict", checked = true, (s, _) => { builds += 1; V(s, builds) },
      _.s, _ => (), _ => (), stopped = s => dead(s))
    val other = spark.newSession()
    val v = m(other, "a")
    assert(m(other, "a") eq v)
    dead += other
    m(spark, "a") // any read sweeps the stopped session's entry
    dead -= other
    assert(m(other, "a") ne v, "the stopped session's entry survived the sweep")
    assert(builds == 3)
  }

  test("racing builds: the first insert wins and the loser releases its copy") {
    var dropped = List.empty[Int]
    var m: Memo[Int] = null
    var builds = 0
    // the outer build reads the memo again before it inserts, so the
    // nested build inserts first — the interleaving of two racing threads
    m = new Memo[Int]("race", checked = true, (s, dir) => {
      builds += 1
      val mine = builds
      if (mine == 1) m(s, dir)
      mine
    }, _ => spark, _ => (), a => dropped ::= a)
    assert(m(spark, "a") == 2)
    assert(dropped == List(1))
    assert(m(spark, "a") == 2)
  }

  test("a query reading a memo it does not declare fails with both names") {
    val q = Query("q_undeclared", run = (s, dir) => Memos.tsSplit(s, dir), oracle = "")
    val e = intercept[IllegalStateException](q(spark, "a"))
    assert(e.getMessage.contains("q_undeclared") && e.getMessage.contains("tsSplit"))
  }

  test("reads inside another memo's build are exempt; direct reads are not") {
    val (inner, _) = counted("inner")
    val outer = Memo.frame("outer")((s, dir) => inner(s, dir).limit(1))
    val ok = Query("q_outer", uses = Seq(outer), run = (s, dir) => outer(s, dir), oracle = "")
    assert(ok(spark, "a").count() == 1)
    val direct = Query("q_inner", uses = Seq(outer), run = (s, dir) => inner(s, dir), oracle = "")
    val e = intercept[IllegalStateException](direct(spark, "a"))
    assert(e.getMessage.contains("q_inner") && e.getMessage.contains("inner"))
    // outside any query nothing is checked
    assert(inner(spark, "a").count() == 10)
    Seq(inner, outer).foreach(_.release(spark))
  }
}
