package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression guards: the engine's scale story depends on
  * Catalyst doing these — a code change that silently loses pushdown or
  * broadcast would still pass value tests but collapse at 100 TB.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def plan(q: String): String = {
    val df = SparkEntry.queries(q)(spark, dir)
    df.queryExecution.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  test("q01: filter pushed to the parquet scan, columns pruned") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
    // 6 of 11 lineitem columns read — projection reached the scan
    assert(p.contains("ReadSchema: struct<l_quantity:double,l_extendedprice:double," +
      "l_discount:double,l_returnflag:string,l_linestatus:string,l_shipdate:timestamp_ntz>"))
  }

  test("q02: predicate pushdown on p_size and p_retailprice") {
    val p = plan("q02_projection_filter")
    assert(p.contains("GreaterThanOrEqual(p_size,10)"))
    assert(p.contains("IsNotNull(p_retailprice)"))
  }

  test("q03: dimension join is a broadcast hash join, not a shuffle") {
    val p = plan("q03_left_join_enrich")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("q04: semi-joins stay semi (no row explosion path)") {
    val p = plan("q04_semi_join_validation")
    assert(p.contains("LeftSemi"))
  }

  test("whole-stage codegen covers the scan-filter-project pipeline") {
    // formatted mode prefixes codegen'd operators with '*'
    val p = plan("q02_projection_filter")
    assert(p.contains("* Filter") && p.contains("* Project"))
  }

  test("ArrayDot codegen compiles — q34 runs with fallback disabled") {
    // Round-1 regression: fixed Java local names in doGenCode made Janino
    // reject any stage holding two ArrayDots (l2norm + dot in one projection),
    // and the engine silently ran the similarity hot path interpreted. With
    // fallback=false a compile failure surfaces as an error instead.
    val prev = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val rows = SparkEntry.queries("q34_embedding_neardup")(spark, dir).collect()
      assert(rows.nonEmpty)
    } finally spark.conf.set("spark.sql.codegen.fallback", prev)
  }

  test("ArrayDot stays inside codegen (no HOF array materialization)") {
    // q34 keeps the relational similarity shape (crossJoin + ArrayDot);
    // q21's topK now uses the fused compute kernel, so the expression's
    // codegen guarantee is asserted on the near-dup plan
    val df = SparkEntry.queries("q34_embedding_neardup")(spark, dir)
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("arraydot") || p.contains("ArrayDot"))
    assert(!p.toLowerCase.contains("zip_with"))
  }

  test("q10: popularity candidate cutoff is a parallel TakeOrderedAndProject, not a global window") {
    val p = plan("q10_popularity_recs")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("topK dispatch: item sides within the collect bound fused, huge item sides shuffle-combine (never collect)") {
    import spark.implicits._
    val emb = (1 to 50).map(i => (i.toLong, Seq.fill(4)(i * 0.1))).toDF("id", "vec")
    import graft.knn.CosineKnn
    // 50 items → fused: the item matrix is collected and broadcast, and
    // the plan is the RDD-backed kernel's output scan
    assert(CosineKnn.kernel(50) == "fused")
    val small = CosineKnn.topK(emb, emb, 3, excludeSelf = true)
    assert(small.queryExecution.executedPlan.toString.contains("ExistingRDD"))
    // past the collect bound: neither a driver collect nor an N×M window
    // exchange — the map-side bounded-heap combine kernel runs
    assert(CosineKnn.kernel(1000001L) == "shuffle-combine")
    val gated = CosineKnn.topKShuffleCombine(emb, emb, 3, excludeSelf = true)
    assert(gated.orderBy("query_id", "rank").collect()
      .sameElements(small.orderBy("query_id", "rank").collect()))
  }

  test("ivfTopK: candidate join keys on list_id; no cartesian between queries and items") {
    import spark.implicits._
    val emb = (1 to 60).map(i => (i.toLong, Seq.fill(4)(math.sin(i * 1.7) + i * 0.01)))
      .toDF("id", "vec")
    val plan = graft.knn.CosineKnn.ivfTopK(emb.filter($"id" <= 10), emb, 3,
      nLists = 4, nProbe = 2, excludeSelf = true)
      .queryExecution.executedPlan.toString
    // the only acceptable all-pairs shape is each side against the
    // single broadcast centroid row — queries × items must go through a
    // list_id EQUI-join (a projection merely naming list_id, or a
    // nested-loop join with a list_id filter, must not satisfy this)
    assert(plan.linesIterator.exists(l =>
      l.contains("Join") && l.contains("list_id") && !l.contains("NestedLoop")),
      s"no equi-join on list_id in:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("HammingDist codegen compiles — q54 runs with fallback disabled and matches a Scala recount") {
    val prev = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      import spark.implicits._
      val pairs = Seq(("1010", "1010"), ("1010", "0101"), ("111", "1100")).toDF("a", "b")
      val got = pairs.select(graft.functions.HammingDist($"a", $"b").as("d")).as[Int].collect().toSeq
      assert(got == Seq(0, 4, 2)) // unequal length: shorter prefix + surplus
      val rows = SparkEntry.queries("q54_simhash_neardup")(spark, dir).collect()
      assert(rows.forall(_.getInt(2) <= 3))
    } finally spark.conf.set("spark.sql.codegen.fallback", prev)
  }

  test("sequencePack: every window over the doc stream is group-partitioned (no global window)") {
    val p = plan("q61_sequence_pack")
    // the per-doc cumsum must be partitioned by the coarse group key;
    // the only unpartitioned window allowed is the one over GROUP TOTALS
    // (|docs|/groupWidth rows), which sorts by g alone
    val specs = "windowspecdefinition\\(([^)]*)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(specs.nonEmpty, s"no window specs in:\n$p")
    // the per-doc cumsum must carry the g partition key
    assert(specs.exists(_.matches("g#\\d+L?,.*")), s"no g-partitioned window in:\n$p")
    // the only unpartitioned window allowed is the one over GROUP TOTALS
    // (orders by g, |docs|/groupWidth rows). A window ordering on doc_id
    // with no partition key — spec text starting "doc_id#N ASC" — would
    // be a global window over the doc stream, the scale killer this
    // guard exists to block.
    assert(!specs.exists(_.matches("doc_id#\\d+L? ASC.*")),
      s"global window over the doc stream in:\n$p")
  }

  test("containment: train vocabulary reaches the eval side as a LeftSemi, never a row-expanding join") {
    val p = plan("q62_contamination")
    assert(p.contains("LeftSemi"), s"no semi join in:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("bm25: the token-stream shuffle runs once — df/dl branches reuse the tf exchange at runtime") {
    // the static plan prints the tf subtree (explode + partial agg) once
    // per consumer branch, but the three exchanges are identical, so AQE
    // must REUSE one physical token-stream shuffle. Execute and assert
    // the reuse actually happened — that is the scale guarantee.
    val df = SparkEntry.queries("q60_bm25_keywords")(spark, dir)
    df.collect()
    val executed = df.queryExecution.executedPlan.toString
    assert(executed.contains("ReusedExchange") || executed.contains("ReusedQueryStage"),
      s"tf exchange not reused — token stream shuffled per branch:\n$executed")
  }

  test("q64 repetition: dup-3gram side is shuffle-free (array expression, no explode); 2-gram mode pays one gram-keyed exchange with partial combine") {
    val p = plan("q64_repetition")
    // the 3-gram fraction must never explode the gram stream — grams are
    // built and reduced inside one projection; the ONLY explode in the
    // whole plan is the 2-gram mode's (each physical op appears once in
    // the formatted detail section as "(n) Generate")
    assert("""\(\d+\) Generate""".r.findAllIn(p).length == 1,
      s"expected exactly one explode (2-gram mode), got:\n$p")
    // 2-gram mode: (doc, gram)-keyed partial agg before its exchange
    // (hot grams collapse map-side), then the per-doc agg
    assert(p.contains("HashAggregate"))
    assert(p.contains("partial_count") || p.contains("partial_sum") || p.contains("Partial"),
      s"no partial aggregation before the gram exchange:\n$p")
  }

  test("PQ family (q188/q190/q192): no cartesian product; LUT/codebook joins broadcast") {
    // the ADC scoring joins key on (query_id, sub) / (sub, code) with
    // the small side (codebooks, LUTs, probes — KiB each) explicitly
    // broadcast; a CartesianProduct or BroadcastNestedLoopJoin in any
    // of these plans would be the N×M scored stream materializing
    for (q <- Seq("q188_pq_adc_knn", "q190_ivf_adc_knn", "q192_ivfpq_residual_knn")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"),
        s"$q plans a cartesian product")
      assert(p.contains("BroadcastHashJoin"), s"$q lost its broadcast joins")
    }
  }

  test("containment join (q191): prefix filter is an equi-join; windows are doc-partitioned") {
    val p = plan("q191_containment_dedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q191 plans a product join:\n${p.take(2000)}")
    // the per-doc prefix rank must never be a global (empty-partition)
    // window over the corpus shingle stream
    assert(!p.contains("Window [") || !p.contains("PartitionBy: []"),
      "q191 prefix rank planned as a global window")
  }

  test("corr matrix (q199): one aggregate pair over the scan — no joins, no extra exchanges") {
    val p = plan("q199_corr_matrix")
    // the whole moment computation is a single partial+final HashAggregate
    // over one parquet scan; any join or second shuffle means the
    // one-pass property broke
    assert(!p.contains("Join"), s"q199 plans a join:\n${p.take(1500)}")
    assert("Exchange".r.findAllIn(p).size <= 2,
      "q199 shuffles more than the single aggregate exchange")
  }

  test("SNM (q197) and ER (q200): candidate generation is equi-join only — no product joins") {
    for (q <- Seq("q197_sorted_neighborhood", "q200_entity_resolution")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q plans a product join")
    }
  }

  test("KMV (q196): the sketch aggregate partial-aggregates (map-side combine before the shuffle)") {
    val p = plan("q196_kmv_set_diff")
    // ObjectHashAggregate with a Partial mode instance must appear —
    // the bounded ≤k state is only a sketch if it combines map-side
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"),
      "q196 lost its typed aggregate")
    assert(!p.contains("CartesianProduct"), "q196 unexpected cartesian (1-row crossJoin should broadcast)")
  }

  test("PCA gram (q218): ONE typed aggregation, no joins — the data is touched once") {
    val p = plan("q218_pca_gram")
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"),
      "q218 lost its typed aggregate")
    assert(!p.contains("Join"), "q218 must not join — the moments ride one aggregation")
    // 2080 tidy rows come from a literal unpack of the ONE buffer row
    assert(p.contains("Generate"), "q218 unpack should be an explode, not a second pass")
  }

  test("Welch (q221): the pair join is broadcast-sized, the corpus is aggregated once") {
    val p = plan("q221_welch_ttest")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "q221 pair join over the tiny moment table should broadcast (non-equi g1 < g2)")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "q221 moment pair join must never shuffle or go cartesian")
  }

  test("chi2 (q222): marginal joins broadcast; no product joins") {
    val p = plan("q222_chi2_terms")
    assert(p.contains("BroadcastHashJoin"), "q222 class-marginal join should broadcast")
    assert(!p.contains("CartesianProduct"), "q222 unexpected cartesian (1-row crossJoin should broadcast)")
  }

  test("weighted minhash (q210): ni evaluates once, in its own Project, behind the nondeterministic barrier") {
    import org.apache.spark.sql.catalyst.expressions.{Expression, Least}
    import org.apache.spark.sql.catalyst.plans.logical.Project
    val sp = spark
    import sp.implicits._
    val nLongs = 2
    val pairs = Seq((1L, 2L, 5L, 6L)).toDF("doc_a", "doc_b", "na", "nb")
    val vecs = Seq((1L, 0x21L, 3L), (2L, 0x12L, 1L)).toDF("doc_id", "v0", "v1")
    val df = graft.text.Dedup.weightedDenseVerify(pairs, vecs, nLongs, threshold = 0.1)
    def leasts(e: Expression): Int = e.collect { case l: Least => l }.size
    // every node of the optimized plan that holds any part of niExpr
    val holders = df.queryExecution.optimizedPlan
      .collect { case n => n -> n.expressions.map(leasts).sum }
      .filter(_._2 > 0)
    assert(holders.size == 1,
      s"niExpr spread over ${holders.size} plan nodes: ${holders.map(_._1.nodeName)}")
    val (node, n) = holders.head
    assert(node.isInstanceOf[Project], s"niExpr sits in a ${node.nodeName}, not a Project")
    assert(n == 16 * nLongs, s"niExpr's $n least() terms: inlined ${n / (16.0 * nLongs)} times")
    assert(node.expressions.exists(!_.deterministic),
      "the Project holding ni lost its nondeterministic guard")
    // ni = min(1,2) + min(2,1) + min(3,1) = 3; 3 / (5 + 6 - 3)
    assert(df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq ==
      Seq((1L, 2L, 0.375)))
  }
}
