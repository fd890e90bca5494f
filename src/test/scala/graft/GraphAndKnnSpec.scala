package graft

import graft.graph.KGraph
import graft.knn.CosineKnn
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class GraphAndKnnSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("node labels match the reference byte-for-byte (node.py:22,43,65)") {
    val df = Seq(("7", "Drama")).toDF("id", "genre")
    val row = df.select(
      KGraph.userLabel($"id"), KGraph.itemLabel($"id"),
      KGraph.propertyLabel($"genre", "subject")).first()
    assert(row.getString(0) == "User(7)")
    assert(row.getString(1) == "Item(7)")
    assert(row.getString(2) == "Property(Drama, subject)")
  }

  test("property node identity is scoped by type (node.py:75-77)") {
    val a = KGraph.propertyLabel(lit("X"), "director")
    val b = KGraph.propertyLabel(lit("X"), "writer")
    val r = Seq(1).toDF("x").select(a.as("a"), b.as("b")).first()
    assert(r.getString(0) != r.getString(1))
  }

  test("rating relation follows Python str() of the number (graph.py:90)") {
    val df = Seq(4.0, 3.5).toDF("rating")
    val out = df.select(KGraph.ratingRelation($"rating")).as[String].collect().toSet
    assert(out == Set("rating4.0", "rating3.5"))
  }

  test("relabel is a deterministic dense bijection ordered by label (§1.3)") {
    val labels = Seq("Item(2)", "Item(10)", "User(1)").toDF("label")
    val m = KGraph.relabel(labels).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // lexicographic: Item(10) < Item(2) < User(1)
    assert(m == Map("Item(10)" -> 0L, "Item(2)" -> 1L, "User(1)" -> 2L))
  }

  test("relabel never funnels the node dimension through a window") {
    val labels = (1 to 500).map(i => f"Node($i%03d)").toDF("label")
    val out = KGraph.relabel(labels)
    // the node dimension is exactly what outgrows one partition at
    // scale: no Window operator anywhere in the plan
    assert(!out.queryExecution.executedPlan.toString.contains("Window"))
    val m = out.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m == (1 to 500).map(i => f"Node($i%03d)" -> (i - 1).toLong).toMap)
  }

  test("validateEdges drops edges with unknown endpoints (J4, graph.py:293-302)") {
    val edges = Seq((1L, 10L), (1L, 99L), (5L, 10L)).toDF("user_id", "item_id")
    val users = Seq(1L).toDF("user_id")
    val items = Seq(10L).toDF("item_id")
    val ok = KGraph.validateEdges(edges, users, items)
      .select("user_id", "item_id").collect()
    assert(ok.length == 1 && ok.head.getLong(0) == 1L && ok.head.getLong(1) == 10L)
  }

  test("exact cosine topK matches brute force and breaks ties by id (J6)") {
    val vecs = Seq(
      (1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0)),
      (3L, Seq(1.0, 1.0)), (4L, Seq(1.0, 0.0))
    ).toDF("id", "vec")
    val out = CosineKnn.topK(vecs.filter($"id" === 1), vecs, 3, excludeSelf = true)
      .orderBy("rank").collect()
    // cos(1,4)=1, cos(1,3)=0.7071, cos(1,2)=0
    assert(out.map(_.getLong(1)).toSeq == Seq(4L, 3L, 2L))
    assert(math.abs(out(1).getDouble(2) - math.sqrt(0.5)) < 1e-12)
  }

  test("zero vectors rank below any real neighbor (F14 zero-fill)") {
    val vecs = Seq(
      (1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 0.0)), (3L, Seq(-1.0, 0.0))
    ).toDF("id", "vec")
    val out = CosineKnn.topK(vecs.filter($"id" === 1), vecs, 2, excludeSelf = true)
      .orderBy("rank").collect()
    // cos(1,3) = -1 still beats the zero vector's sentinel -2
    assert(out.map(_.getLong(1)).toSeq == Seq(3L, 2L))
  }

  test("fused and shuffle-combine topK kernels are bit-identical") {
    val vecs = (0 until 60).map { i =>
      (i.toLong, Seq(math.sin(i * 1.7), math.cos(i * 0.9), math.sin(i * 0.3) * 0.5))
    }.toDF("id", "vec")
    // each kernel called directly; 60 items dispatch to the fused one
    assert(CosineKnn.kernel(60) == "fused")
    val fused = CosineKnn.topKCompute(vecs, vecs, 4, excludeSelf = true)
      .orderBy("query_id", "rank").collect()
    val comb = CosineKnn.topKShuffleCombine(vecs, vecs, 4, excludeSelf = true)
      .orderBy("query_id", "rank").collect()
    val viaTopK = CosineKnn.topK(vecs, vecs, 4, excludeSelf = true)
      .orderBy("query_id", "rank").collect()
    assert(comb.length == 60 * 4)
    assert(fused.toSeq == comb.toSeq) // scores exact, not approximate
    assert(viaTopK.toSeq == comb.toSeq)
  }

  test("excludeSelf drops null-id pairs in both topK kernels; without it null ids rank") {
    val vecs = Seq[(String, Seq[Double])](
      ("a", Seq(1.0, 0.0)), ("b", Seq(0.6, 0.8)), (null, Seq(0.8, 0.6)), ("c", Seq(-1.0, 0.1))
    ).toDF("id", "vec")
    def pairs(df: org.apache.spark.sql.DataFrame) = df.orderBy("query_id", "rank").collect()
      .map(r => (Option(r.getString(0)), Option(r.getString(1)), r.getDouble(2), r.getInt(3))).toSeq
    val fused = pairs(CosineKnn.topKCompute(vecs, vecs, 2, excludeSelf = true))
    assert(fused == pairs(CosineKnn.topKShuffleCombine(vecs, vecs, 2, excludeSelf = true)))
    // a null id is never "self" and never "not self": its pairs leave
    assert(fused.map(r => (r._1.get, r._2.get, r._4)) == Seq(
      ("a", "b", 1), ("a", "c", 2), ("b", "a", 1), ("b", "c", 2), ("c", "b", 1), ("c", "a", 2)))
    val kept = pairs(CosineKnn.topKCompute(vecs, vecs, 2, excludeSelf = false))
    assert(kept == pairs(CosineKnn.topKShuffleCombine(vecs, vecs, 2, excludeSelf = false)))
    assert(kept.filter(_._1.isEmpty).map(_._2) == Seq(None, Some("b")))
    assert(kept.filter(_._1.contains("a")).map(_._2) == Seq(Some("a"), None))
  }

  test("both topK kernels break exact score ties by item_id in UTF-8 order, nulls first") {
    // "～" (U+FF5E) sorts before "😀" in UTF-8 bytes, after it in UTF-16 units
    val items = Seq[(String, Seq[Double])](
      ("😀", Seq(1.0, 2.0)), ("～", Seq(1.0, 2.0)), (null, Seq(1.0, 2.0)), ("a", Seq(0.0, 1.0))
    ).toDF("id", "vec")
    val q = Seq[(String, Seq[Double])](("q", Seq(1.0, 2.0))).toDF("id", "vec")
    def ranked(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("rank").collect().map(r => Option(r.getString(1))).toSeq
    val fused = ranked(CosineKnn.topKCompute(q, items, 4, excludeSelf = false))
    assert(fused == Seq(None, Some("～"), Some("😀"), Some("a")))
    assert(ranked(CosineKnn.topKShuffleCombine(q, items, 4, excludeSelf = false)) == fused)
  }

  test("topK kernel bands: the collect bound at 1M items") {
    assert(CosineKnn.kernel(0L) == "fused")
    assert(CosineKnn.kernel(1000000L) == "fused")
    assert(CosineKnn.kernel(1000001L) == "shuffle-combine")
  }

  test("topK rejects an id type outside long, int, string and double by name") {
    val vecs = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0))).toDF("id", "vec")
      .select($"id".cast("decimal(10,0)").as("id"), $"vec")
    val e = intercept[IllegalArgumentException](CosineKnn.topK(vecs, vecs, 1))
    assert(e.getMessage.contains("decimal(10,0)"), e.getMessage)
  }

  test("approxTopK recall >= 0.9 against exact top-k on real embeddings") {
    import org.apache.spark.sql.functions._
    val base = Tables.t(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id").as("id"), expr("transform(embedding, x -> cast(x as double))").as("vec"))
    val q = base.filter(col("id") < 50)
    // ground truth: exact neighbors at or above the ANN's similarity floor
    val exact = CosineKnn.topK(q, base, 5, excludeSelf = true)
      .filter(col("score") >= 0.2)
      .select("query_id", "item_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = CosineKnn.approxTopK(q, base, 5, excludeSelf = true)
      .select("query_id", "item_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(exact.size == 250) // 50 queries x full 5 above the floor
    assert(recall >= 0.9, s"recall $recall")
  }

  test("ivfTopK recall >= 0.9 against exact top-k on real embeddings") {
    import org.apache.spark.sql.functions._
    val base = Tables.t(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id").as("id"), expr("transform(embedding, x -> cast(x as double))").as("vec"))
    val q = base.filter(col("id") < 50)
    val exact = CosineKnn.topK(q, base, 5, excludeSelf = true)
      .select("query_id", "item_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // ~sqrt(n) lists; 16 probes ≈ a third of them — the classic IVF
    // recall/scan-fraction trade (8 probes measured 0.82 on this data)
    val ivf = CosineKnn.ivfTopK(q, base, 5, nProbe = 16, excludeSelf = true)
      .select("query_id", "item_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall")
  }

  test("ivfTopK with nProbe >= nLists degenerates to the exact pair set") {
    import org.apache.spark.sql.functions._
    val base = Tables.t(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id").as("id"), expr("transform(embedding, x -> cast(x as double))").as("vec"))
      .filter(col("id") < 120)
    val q = base.filter(col("id") < 20)
    val exact = CosineKnn.topK(q, base, 4, excludeSelf = true)
      .select("query_id", "item_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every list probed -> candidate set is the full item side
    val ivf = CosineKnn.ivfTopK(q, base, 4, nLists = 6, nProbe = 6, excludeSelf = true)
      .select("query_id", "item_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivf == exact)
  }

  test("ivfTopK ranks zero vectors last (the exact kernels' -2.0 sentinel, not NaN-first)") {
    val base = Seq(
      (0L, Seq(1.0, 0.0, 0.0)), (1L, Seq(0.9, 0.1, 0.0)),
      (2L, Seq(0.0, 0.0, 0.0)), // F14-style zero fill
      (3L, Seq(-1.0, 0.0, 0.0))).toDF("id", "vec")
    val out = CosineKnn.ivfTopK(base.filter($"id" === 0), base, 4,
      nLists = 2, nProbe = 2, excludeSelf = true)
      .orderBy("rank").collect()
    assert(out.map(_.getLong(1)).toSeq == Seq(1L, 3L, 2L)) // zero vector LAST
    assert(out.last.getDouble(2) == -2.0)
    // and the exhaustive configuration still equals exact topK pairs
    val exact = CosineKnn.topK(base.filter($"id" === 0), base, 4, excludeSelf = true)
      .orderBy("rank").collect().map(_.getLong(1)).toSeq
    assert(out.map(_.getLong(1)).toSeq == exact)
  }

  test("ivfTopK handles an item side smaller than the default list count") {
    val base = (0 until 3).map(i => (i.toLong, Seq(1.0 + i, 0.5 * i, 1.0)))
      .toDF("id", "vec")
    // nItems=3 < default sqrt-lists floor of 2? exercise lists clamp + probe clamp
    val out = CosineKnn.ivfTopK(base, base, 2, nLists = 10, nProbe = 10, excludeSelf = true)
    assert(out.count() > 0)
    assert(out.groupBy("query_id").count().select(max("count")).first().getLong(0) <= 2)
  }

  test("approxTopK recalls the exact nearest neighbor on clustered data") {
    val base = (0 until 40).map { i =>
      val c = if (i % 2 == 0) 1.0 else -1.0
      (i.toLong, Seq(c + i * 1e-3, c - i * 1e-3, 0.1))
    }.toDF("id", "vec")
    val exact = CosineKnn.topK(base.filter($"id" === 0), base, 2, excludeSelf = true)
      .filter($"rank" === 1).first().getLong(1)
    val approx = CosineKnn.approxTopK(base.filter($"id" === 0), base, 3)
      .filter($"item_id" =!= 0).orderBy("rank").first().getLong(1)
    assert(approx == exact)
  }

  test("hardNegatives: ceiling excludes near-dups, both kernels agree") {
    // id 0/1 are near-duplicates (cos ≈ 0.99998 ≥ ceiling) — they must
    // never be served to each other; id 5 is a zero vector (sentinel -2,
    // always under the ceiling, ranks last)
    val vecs = Seq(
      (0L, Seq(1.0, 0.0, 0.0)), (1L, Seq(1.0, 0.006, 0.0)),
      (2L, Seq(0.8, 0.6, 0.0)), (3L, Seq(0.0, 1.0, 0.0)),
      (4L, Seq(-1.0, 0.2, 0.0)), (5L, Seq(0.0, 0.0, 0.0))
    ).toDF("id", "vec")
    val got = CosineKnn.hardNegatives(vecs, vecs, 3, 0.95)
      .orderBy("query_id", "rank").collect()
    assert(CosineKnn.kernel(6) == "fused")
    // query 0's neighbors: 1 excluded by ceiling, so 2 (0.8), 3 (0), 4 (< 0);
    // the zero-vector query scores every item at -2 and ranks by id
    assert(got.groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSeq } == Map(
      0L -> Seq(2L, 3L, 4L), 1L -> Seq(2L, 3L, 4L), 2L -> Seq(1L, 0L, 3L),
      3L -> Seq(2L, 4L, 1L), 4L -> Seq(3L, 2L, 1L), 5L -> Seq(0L, 1L, 2L)))
    assert(got.forall(_.getDouble(2) < 0.95))
    assert(got.filter(_.getLong(0) == 5L).forall(_.getDouble(2) == -2.0))
    // the near-dup pair is absent in BOTH directions
    assert(!got.exists(r => r.getLong(0) == 0L && r.getLong(1) == 1L))
    assert(!got.exists(r => r.getLong(0) == 1L && r.getLong(1) == 0L))
    val fused = CosineKnn.topKCompute(vecs, vecs, 3, excludeSelf = true, Some(0.95))
      .orderBy("query_id", "rank").collect()
    val comb = CosineKnn.topKShuffleCombine(vecs, vecs, 3, excludeSelf = true, Some(0.95))
      .orderBy("query_id", "rank").collect()
    assert(fused.toSeq == got.toSeq && comb.toSeq == got.toSeq)
  }

  test("hardNegatives above the collect gate takes the bounded-heap RDD kernel") {
    // the r9 plan hard-wired crossJoin(broadcast(items)) no matter the
    // size; the dispatch must route oversized item sides to
    // shuffle-combine (ExistingRDD = the RDD kernel's output scan)
    val vecs = (0 until 30).map(i =>
      (i.toLong, Seq(math.sin(i * 1.3), math.cos(i * 0.7), 0.2))).toDF("id", "vec")
    assert(CosineKnn.kernel(1000001L) == "shuffle-combine")
    val df = CosineKnn.topKShuffleCombine(vecs, vecs, 2, excludeSelf = true, Some(0.95))
    assert(df.queryExecution.executedPlan.toString.contains("ExistingRDD"))
  }
}
