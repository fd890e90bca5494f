package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication family for training-data pipelines (driver mandate):
  * exact, MinHash+LSH banded, SimHash, n-gram Jaccard, and
  * embedding-cosine near-dup (the latter via [[graft.knn.CosineKnn]]).
  *
  * Portability-by-construction: every hash is md5 over an explicit
  * string, so the same pipeline is expressible in the DuckDB oracle —
  * no JVM/NumPy hash divergence. Band signatures are lexicographic
  * MINs of hex strings (min of hex == min of the 128-bit integer).
  *
  * Scale shape: shingling is a narrow map; signatures are one
  * partial-aggregated groupBy per (doc, band); the LSH join only pairs
  * documents sharing a band signature — the whole point of banding at
  * 100 TB — and exact Jaccard runs only on those candidates.
  */
object Dedup {

  /** Exact dedup: one row per distinct text with the kept (min) id. */
  def exact(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs.groupBy(textCol)
      .agg(min(idCol).as("keep_id"), count(lit(1)).as("n_copies"))

  /** EXACT containment join (the AllPairs/PPJoin prefix filter, Bayardo
    * 2007 / Xiao 2008, applied to the asymmetric containment measure):
    * emit (doc_a, doc_b) whenever C(a→b) = |Sa ∩ Sb| / |Sa| ≥ t — the
    * near-SUBSET duplication Jaccard banding is blind to (a short doc
    * wholly wrapped in boilerplate has high containment but low
    * Jaccard, so the minhash S-curve never surfaces it).
    *
    * Losslessness: order all shingles by GLOBAL (document-frequency
    * ASC, shingle ASC) — rarest first — and take each contained-side
    * doc's first n − ⌈t·n⌉ + 1 shingles as its prefix (α = ⌈t·n⌉
    * computed in exact integers from the per-mille threshold). If
    * C(a→b) ≥ t then a shares ≥ α shingles with b, so at most n − α
    * of a's shingles are NOT shared — strictly fewer than the prefix
    * size — hence some prefix shingle of a is in b
    * (pigeonhole): the prefix ⋈ shingles equi-join finds EVERY
    * qualifying pair, no recall loss, and exact verification only
    * touches candidates. Rarest-first is what keeps the join small:
    * prefix shingles have the lowest document frequencies, so their
    * fan-out is minimal — the classic prefix-filtering argument.
    *
    * Scale shape: one df groupBy (map-side combined), one per-DOC
    * window (bounded by the doc's own shingle count, never a corpus
    * window), one skinny prefix⋈shingle equi-join, count-based verify
    * on candidates only. Every step replays verbatim in ANSI SQL.
    *
    * @return (doc_a, doc_b, na, ni, containment) — doc_a is the
    *         contained side, na its distinct-shingle count, ni the
    *         intersection; both directions emitted for mutual pairs */
  def containmentJoin(docs: DataFrame, shingleK: Int, tPerMille: Long,
                      minShingles: Int = 5): DataFrame = {
    require(tPerMille > 0 && tPerMille <= 1000,
      s"containment: tPerMille in (0, 1000], got $tPerMille")
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.storage.StorageLevel
    val sh = shingles(docs, shingleK).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val dfreq = sh.groupBy("s").agg(count(lit(1)).as("df"))
      val counts = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
      // threshold math is PURE INTEGER (the house rule — a double
      // `1 − t` rounds differently across engines at exact multiples):
      // required overlap α = ⌈t·n⌉ = (tPm·n + 999) div 1000, prefix
      // size = n − α + 1
      val prefix = sh.join(dfreq, Seq("s")).join(counts, Seq("doc_id"))
        .filter(col("n") >= minShingles)
        .withColumn("rk", row_number().over(
          Window.partitionBy("doc_id").orderBy(col("df"), col("s"))))
        .filter(col("rk") <=
          col("n") - expr(s"($tPerMille * n + 999) div 1000") + 1)
        .select(col("doc_id").as("doc_a"), col("n").as("na"), col("s"))
      val cand = prefix
        .join(sh.select(col("doc_id").as("doc_b"), col("s")), Seq("s"))
        .filter(col("doc_a") =!= col("doc_b"))
        .select("doc_a", "doc_b", "na").distinct()
      cand
        .join(sh.select(col("doc_id").as("doc_a"), col("s")), Seq("doc_a"))
        .join(sh.select(col("doc_id").as("doc_b"), col("s")), Seq("doc_b", "s"))
        .groupBy("doc_a", "doc_b", "na").agg(count(lit(1)).as("ni"))
        .filter(col("ni") * 1000L >= lit(tPerMille) * col("na"))
        .select(col("doc_a"), col("doc_b"), col("na"), col("ni"),
          round(col("ni") * 1.0 / col("na"), 6).as("containment"))
        .localCheckpoint(true)
    } finally sh.unpersist(blocking = false)
  }

  /** Distinct word-k-gram shingles: (doc_id, s).
    *
    * r15: the split→transform→concat_ws→array_distinct chain is now
    * [[graft.functions.WordShingles]] — zero-copy byte slices of the
    * lowered text (every k-gram is a contiguous span because split and
    * join both use single spaces), spec-pinned equal to the composable
    * form; fewer-than-k-token docs yield an empty array, which explode
    * drops (the old `size(w) >= k` guard). */
  def shingles(docs: DataFrame, k: Int, textCol: String = "text"): DataFrame =
    docs.select(col("doc_id"),
      explode(graft.functions.WordShingles.of(lower(col(textCol)), k)).as("s"))

  /** Fixed affine minhash family: h_j(x) = (A(j)·x + j) mod [[MinhashP]]
    * over x = the first 12 hex chars (48 bits) of md5(shingle) read as an
    * integer. One strong hash per shingle, then pure 64-bit arithmetic per
    * minhash — and every step (md5, hex→int, affine mod) is expressible
    * verbatim in ANSI SQL, so the DuckDB oracle replays it bit-for-bit.
    * A(j) < 2^14 and x < 2^48 keep A(j)·x + j < 2^62: no overflow in
    * Spark (ANSI) or DuckDB. */
  private[graft] val MinhashP = 281474976710677L // prime just above 2^48
  private[graft] val MinhashA: Array[Long] = Array(
    1009L, 1471L, 1931L, 2389L, 2857L, 3319L, 3779L, 4241L,
    4721L, 5167L, 5639L, 6101L, 6563L, 7019L, 7487L, 7949L,
    8419L, 8887L, 9337L, 9803L, 10267L, 10723L, 11197L, 11657L,
    12113L, 12577L, 13043L, 13513L, 13967L, 14431L, 14891L, 15359L)

  /** (doc_id, n, b, h1..hr): the LSH bucket identity of every
    * (document, band) — band b's key is the concatenation of
    * `rowsPerBand` affine minhashes m(b·r)..m(b·r+r-1) — plus the
    * per-document distinct-shingle count `n` riding the same partial
    * aggregation for free. Shared by [[minhashLsh]] (batch pairing),
    * [[lshAnchorPairs]], and the q94 oracle; the streaming kernel
    * ([[graft.stream.StreamingDedup]]) computes the identical keys
    * narrowly (per-row array folds, no aggregation — a stream can't
    * shuffle-aggregate before its stateful operator). */
  private[graft] def bandBucketsFromShingles(sh: DataFrame, nBands: Int,
                                             rowsPerBand: Int): DataFrame = {
    val nHash = nBands * rowsPerBand
    require(nBands >= 1 && rowsPerBand >= 1 && nHash <= MinhashA.length,
      s"nBands*rowsPerBand must be in [1,${MinhashA.length}], got $nBands*$rowsPerBand")
    val withX = sh.withColumn("__x",
      expr("cast(conv(substring(md5(s), 1, 12), 16, 10) as bigint)"))
    val bandMins = (0 until nHash).map(j =>
      min(expr(s"(${MinhashA(j)}L * __x + ${j}L) % ${MinhashP}L")).as(s"m$j"))
    val sigAggs = bandMins :+ count(lit(1)).as("n")
    val sig = withX.groupBy("doc_id").agg(sigAggs.head, sigAggs.tail: _*)
    val hCols = (1 to rowsPerBand).map(r => s"h$r")
    val stackArgs = (0 until nBands).map(b =>
      (s"$b" +: (0 until rowsPerBand).map(r => s"m${b * rowsPerBand + r}")).mkString(", "))
      .mkString(", ")
    sig.selectExpr("doc_id", "n",
      s"stack($nBands, $stackArgs) AS (b, ${hCols.mkString(", ")})")
  }

  def bandBuckets(docs: DataFrame, nBands: Int, shingleK: Int,
                  rowsPerBand: Int = 2): DataFrame =
    bandBucketsFromShingles(shingles(docs, shingleK), nBands, rowsPerBand)

  /** Anchor-form LSH candidates: within every (band, bucket) the
    * smallest doc_id is the bucket's ANCHOR, and each other member
    * yields one (anchor, member, band) row. This is the incremental
    * dedup contract — a stream keeps one anchor per bucket as state and
    * emits a pair per later arrival — expressed relationally for batch:
    * one exchange (the bucket-partitioned window), no self-join, so the
    * output is |members| rows where the pairwise form is quadratic in a
    * hot bucket. Batch output == [[graft.stream.StreamingDedup]] run
    * over the same corpus in doc_id order (spec-pinned). */
  def lshAnchorPairs(docs: DataFrame, nBands: Int, shingleK: Int,
                     rowsPerBand: Int = 2): DataFrame = {
    val hCols = (1 to rowsPerBand).map(r => s"h$r")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(("b" +: hCols).map(col): _*)
    bandBuckets(docs, nBands, shingleK, rowsPerBand)
      .withColumn("anchor", min(col("doc_id")).over(w))
      .filter(col("doc_id") =!= col("anchor"))
      .select(col("anchor").as("doc_a"), col("doc_id").as("doc_b"), col("b"))
  }

  /** Cross-document duplicated k-gram span fraction (the span-level
    * signal of Lee et al., "Deduplicating Training Data Makes Language
    * Models Better": documents dominated by spans that recur elsewhere
    * in the corpus are near-duplicate or boilerplate-heavy even when no
    * whole-document pair crosses a Jaccard threshold). A position is
    * duplicated iff its k-gram occurs in ≥ 2 DISTINCT documents.
    * Returns (doc_id, n_spans, n_dup_spans, dup_permille) with the
    * fraction as scaled-integer permille (floor) so no float crosses
    * engines.
    *
    * Scale shape: the duplicated-shingle vocabulary (groupBy shingle,
    * countDistinct ≥ 2) collapses to the RARE side — only shingles that
    * actually recur — and the corpus stream left-semi joins against it;
    * per-doc totals are a map-side-combined count. Three exchanges, all
    * keyed on shingle or doc_id, nothing wider than one shingle row
    * moves, and no driver-side state. */
  def dupSpanStats(docs: DataFrame, k: Int, textCol: String = "text"): DataFrame = {
    // every k-gram OCCURRENCE (not distinct): WordShingles with
    // distinct = false, same zero-copy kernel as [[shingles]]
    val pos = docs
      .select(col("doc_id"), explode(
        graft.functions.WordShingles.of(lower(col(textCol)), k,
          distinct = false)).as("s"))
    // two scans of the span stream, not three: the left join's flag rides
    // into ONE doc-keyed aggregation that counts totals and dups together
    // (the totals-branch + semi-join + final join formulation re-shingled
    // the corpus a third time and paid an extra exchange)
    val dupVocab = pos.groupBy("s").agg(countDistinct("doc_id").as("nd"))
      .filter(col("nd") >= 2).select(col("s"), lit(true).as("__dup"))
    pos.join(dupVocab, Seq("s"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("__dup"), 1L).otherwise(0L)).as("n_dup_spans"))
      .select(col("doc_id"), col("n_spans"), col("n_dup_spans"),
        expr("n_dup_spans * 1000 div n_spans").as("dup_permille"))
  }

  /** MinHash-banded LSH candidate pairs with exact Jaccard filter.
    * Returns (doc_a, doc_b, jaccard) for candidates >= threshold.
    *
    * Banding: band b's key is the CONCATENATION of `rowsPerBand` affine
    * minhashes, so an unrelated pair collides in a band with probability
    * J^rowsPerBand — the classic b×r S-curve with knee at (1/b)^(1/r).
    * Defaults (b=8, r=2, knee ≈ 0.35) fit the J ≥ 0.5 range production
    * dedup targets (recall ≥ 1-(1-J²)⁸ ≈ 0.9997 at J=0.8); callers with
    * threshold BELOW the knee must use rowsPerBand=1 and raise nBands
    * (b=16, r=1 puts the knee at 0.0625 with ~97% recall at J=0.2) —
    * otherwise pairs in [threshold, knee) are systematically missed.
    * Up to 32 minhashes are available (nBands·rowsPerBand ≤ 32; was ≤ 16
    * under the pre-r6 rotated-hex scheme — r=1 callers can now go to 32
    * bands).
    *
    * ONE logical plan at every size: the signature aggregation is
    * FIXED-WIDTH — nBands·rowsPerBand long minima (plus the per-doc
    * shingle count) per doc, a narrow codegen'd HashAggregate regardless
    * of document size — which is both the 100 TB shape and the fastest
    * small-corpus shape (the old fat path carried collect_list(shingles)
    * plus 16 rotated-hex string mins through the same groupBy: ~20×
    * the aggregation CPU, and OOM-bait at scale). Candidate generation is
    * a (band, key...) equi-self-join; exact-Jaccard verification is
    * count-based (pairs ⋈ shingles ⋈ shingles) so nothing wider than one
    * shingle row ever moves, and the verification volume is confined to
    * dup-suspect documents — a vanishing fraction at scale.
    *
    * The only physical dispatch is WHERE verification's shingles come
    * from: up to `cacheShinglesMaxDocs` documents the shingle stream is
    * persisted once and shared by the signature and verification scans
    * (fewer stages — measured fastest locally); above it the shingle
    * stream is never materialized anywhere — signatures fold the explode
    * into their one pass over docs, and verification RE-shingles only
    * candidate documents (semi-join on the pair ids), because holding
    * |corpus|·|shingles| rows hot is exactly what a 100 TB corpus cannot
    * afford.
    *
    * Lifecycle: the returned pair table comes back persisted and
    * materialized (all working sets are released before returning);
    * callers owning its lifecycle should unpersist it when done, as
    * q37's cluster pipeline does. Same contract for [[ngramJaccard]]. */
  def minhashLsh(spark: SparkSession, docs: DataFrame, nBands: Int, shingleK: Int,
                 threshold: Double, rowsPerBand: Int = 2,
                 cacheShinglesMaxDocs: Long = 1000000L): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val nHash = nBands * rowsPerBand
    require(nBands >= 1 && rowsPerBand >= 1 && nHash <= MinhashA.length,
      s"nBands*rowsPerBand must be in [1,${MinhashA.length}], got $nBands*$rowsPerBand")
    val cacheSh = docs.count() <= cacheShinglesMaxDocs
    val sh = shingles(docs, shingleK)
    val cachedSh = if (cacheSh) {
      val c = sh.persist(StorageLevel.MEMORY_AND_DISK)
      c.count() // eager: downstream scans must not race the cache fill
      c
    } else sh
    // per-doc shingle count rides the signature aggregation (free partial
    // agg) and then the candidate self-join carries both sides' counts, so
    // exact-Jaccard verification never needs a separate per-doc count pass
    // or a candidate semi-join: the pair⋈shingle hash joins themselves
    // confine the shingle traffic to candidate documents.
    val hCols = (1 to rowsPerBand).map(r => s"h$r")
    val stacked = bandBucketsFromShingles(cachedSh, nBands, rowsPerBand)
    val pairs = stacked.as("x")
      .join(stacked.as("y"),
        ("b" +: hCols).map(c => col(s"x.$c") === col(s"y.$c")).reduce(_ && _)
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.n").as("na"), col("y.n").as("nb"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    pairs.count() // one action: shingles → signatures → banded self-join
    // exact Jaccard on candidates only: count shared shingle rows —
    // all narrow codegen'd joins; candidates with no shared shingle
    // (J = 0) drop out of the inner join, which any threshold > 0 implies
    val candSh = if (cacheSh) cachedSh else {
      val candDocs = pairs.select(col("doc_a").as("doc_id"))
        .union(pairs.select(col("doc_b").as("doc_id"))).distinct()
      shingles(docs.join(candDocs, Seq("doc_id"), "left_semi"), shingleK)
    }
    val out = pairs
      .join(candSh.select(col("doc_id").as("doc_a"), col("s")), Seq("doc_a"))
      .join(candSh.select(col("doc_id").as("doc_b"), col("s")), Seq("doc_b", "s"))
      .groupBy("doc_a", "doc_b", "na", "nb").agg(count(lit(1)).as("ni"))
      .withColumn("jaccard", col("ni") * 1.0 / (col("na") + col("nb") - col("ni")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    out.count()
    if (cacheSh) cachedSh.unpersist(blocking = false)
    pairs.unpersist(blocking = false)
    out
  }

  /** WEIGHTED (bag) MinHash-LSH near-dup pairs: like [[minhashLsh]]
    * but similarity is the capped weighted Jaccard over token COUNTS,
    * J_w(A,B) = Σ_t min(c_A(t), c_B(t)) / Σ_t max(c_A(t), c_B(t)) with
    * counts clamped at `cap` — the signal that separates "same words,
    * same emphasis" from set-Jaccard's blindness to repetition (a doc
    * that says "buy" 50 times and one that says it once are identical
    * sets). The classic reduction makes the set machinery exact: token
    * t with capped count c becomes c distinct elements t#0..t#(c−1),
    * and plain Jaccard over the replicated sets IS the capped weighted
    * Jaccard — so the affine-minhash family, banding, and the DuckDB
    * replay all carry over verbatim.
    *
    * Scale shape: replication is bounded by cap × |tokens| rows, all
    * narrow; the signature aggregation, banded self-join and
    * exact-verification joins are the [[minhashLsh]] shapes — the
    * verification joins are keyed on (doc, token) over the COUNT table
    * (|distinct tokens| rows, not replicated rows).
    *
    * Returns (doc_a, doc_b, wjaccard) with wjaccard ≥ threshold,
    * round-6. */
  def weightedMinhashLsh(spark: SparkSession, docs: DataFrame, nBands: Int,
                         threshold: Double, rowsPerBand: Int = 2,
                         cap: Int = 8, textCol: String = "text",
                         denseVocabMax: Long = Dedup.denseVocabMax): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    require(cap >= 1, s"weightedMinhashLsh: cap >= 1, got $cap")
    // both verification kernels rely on threshold > 0 to drop
    // zero-overlap candidates (the join shape drops them structurally,
    // the dense shape by the filter) — pin the contract
    require(threshold > 0, s"weightedMinhashLsh: threshold > 0, got $threshold")
    val wc = docs.select(col("doc_id"),
        explode(split(lower(col(textCol)), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("doc_id", "w")
      .agg(least(count(lit(1)), lit(cap.toLong)).as("c"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    wc.count() // eager: three downstream scans must not race the fill
    val repl = wc.select(col("doc_id"), explode(expr(
      "transform(sequence(0, cast(c as int) - 1), r -> concat(w, '#', cast(r as string)))")).as("s"))
    val hCols = (1 to rowsPerBand).map(r => s"h$r")
    val stacked = bandBucketsFromShingles(repl, nBands, rowsPerBand)
    // The banded self-join EXPLODES (dense buckets: 65M raw collisions
    // from 80k signature rows at sf0.1) while its input is tiny — AQE
    // coalesces the 3 MiB stream side to ONE partition and the whole
    // explosion + partial distinct runs in a single task (event-log
    // r14: a 33 s one-task stage). An explicit numPartitions
    // repartition on the join keys is exempt from AQE coalescing and
    // buys back full parallelism for the cost of re-hashing 80k rows.
    // BOTH sides carry it: with only one side pinned, AQE is free to
    // BROADCAST the pinned side — the other side then streams through
    // its own (coalescible) exchange and the explosion is single-task
    // again (event-log r14 second round: 1 task reading all 80k
    // signature rows, 35 s — the same pathology through the other
    // door).
    val parts = stacked.sparkSession.sparkContext.defaultParallelism
    val streamSide = stacked.repartition(parts, ("b" +: hCols).map(col): _*)
    val buildSide = stacked.repartition(parts, ("b" +: hCols).map(col): _*)
    val pairs = streamSide.as("x")
      .join(buildSide.as("y"),
        ("b" +: hCols).map(c => col(s"x.$c") === col(s"y.$c")).reduce(_ && _)
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.n").as("na"), col("y.n").as("nb"))
      .distinct()
    // exact capped weighted Jaccard on candidates only: Σ min(ca, cb)
    // over shared tokens; Σ max = na + nb − Σ min.
    //
    // Size-gated verification kernel (the CosineKnn dispatch doctrine;
    // the gate picks a physical plan, never semantics):
    //
    //  - vocab ≤ denseVocabMax AND cap ≤ 15: NIBBLE-PACKED DENSE
    //    vectors. Each doc's capped counts pack into ⌈V/16⌉ longs
    //    (4 bits per token — cap ≤ 15 guarantees no carry), attached
    //    to the pair table by two doc-keyed joins, and
    //    ni = Σ_nibbles least(va>>s & 15, vb>>s & 15) evaluates as a
    //    flat codegen'd long-arithmetic expression — no per-token rows
    //    at all. Motivation (r14, measured): at sf0.1 the corpus vocab
    //    is 31 tokens, so banding admits 12.3M of 12.5M possible pairs
    //    and the general path's pairs⋈wc⋈wc intermediate was ~290M
    //    (pair × token) rows through two joins and a 12.3M-group hash
    //    agg — 1084 process-CPU-s for the whole query, the single most
    //    expensive entry in the bench. (A map-payload variant with a
    //    per-pair `aggregate` HOF was measured WORSE — ~3×: HOFs are
    //    interpreted and element_at on UnsafeMapData is a linear
    //    string scan per probe.)
    //
    //  - otherwise: the general (doc, token)-keyed join shape —
    //    pairs⋈wc⋈wc + re-aggregate — whose cost is candidates ×
    //    shared tokens, the right shape when the vocabulary is
    //    unbounded (real corpora at 100 TB).
    val vocab = wc.select("w").distinct()
    val out = if (cap <= 15 && vocab.count() <= denseVocabMax) {
      // bounded collect: the gate above caps this at denseVocabMax rows
      val vocabArr = vocab.orderBy("w").collect().map(_.getString(0))
      import spark.implicits._
      val vIdx = vocabArr.zipWithIndex.toSeq.toDF("w", "__vi")
      val nLongs = (vocabArr.length + 15) / 16
      val packCols = (0 until nLongs).map(l =>
        sum(when(expr("__vi div 16") === l,
          expr("shiftleft(c, cast((__vi % 16) * 4 as int))"))
          .otherwise(0L)).as(s"v$l"))
      val vecs = wc.join(broadcast(vIdx), Seq("w"))
        .groupBy("doc_id").agg(packCols.head, packCols.tail: _*)
      weightedDenseVerify(pairs, vecs, nLongs, threshold).localCheckpoint(true)
    } else {
      pairs
        .join(wc.select(col("doc_id").as("doc_a"), col("w"), col("c").as("ca")), Seq("doc_a"))
        .join(wc.select(col("doc_id").as("doc_b"), col("w"), col("c").as("cb")), Seq("doc_b", "w"))
        .groupBy("doc_a", "doc_b", "na", "nb")
        .agg(sum(least(col("ca"), col("cb"))).as("ni"))
        .withColumn("wjaccard", col("ni") * 1.0 / (col("na") + col("nb") - col("ni")))
        .filter(col("wjaccard") >= threshold)
        .select(col("doc_a"), col("doc_b"), round(col("wjaccard"), 6).as("wjaccard"))
        .localCheckpoint(true)
    }
    wc.unpersist(blocking = false)
    out
  }

  /** The dense verification plan of [[weightedMinhashLsh]], before its
    * checkpoint: candidate `pairs` (doc_a, doc_b, na, nb) joined to the
    * nibble-packed count vectors `vecs` (doc_id, v0..v{nLongs-1}) on both
    * sides, ni = Σ_nibbles least(a, b), then (doc_a, doc_b, wjaccard ≥
    * threshold, round-6). PlanSpec pins that ni evaluates once, in its
    * own projection. */
  private[graft] def weightedDenseVerify(pairs: DataFrame, vecs: DataFrame, nLongs: Int,
                                         threshold: Double): DataFrame = {
    def side(v: DataFrame, idCol: String, pre: String) =
      v.select((col("doc_id").as(idCol) +:
        (0 until nLongs).map(l => col(s"v$l").as(s"$pre$l"))): _*)
    val niExpr = (0 until nLongs).flatMap(l => (0 until 16).map(k =>
      s"least((a$l >> ${4 * k}) & 15L, (b$l >> ${4 * k}) & 15L)"))
      .mkString(" + ")
    // PUSHDOWN BARRIER between ni and its consumers: Catalyst
    // substitutes derived columns into downstream predicates, so the
    // wjaccard filter + round projection would inline the ~(5·V)-node
    // ni expression THREE times — the generated filter method then
    // blows past the JIT's huge-method limit and runs interpreted
    // (micro-probe: 24.2 s for filter+round vs 0.9 s with ni
    // evaluated once). r14 pinned ni with
    // a 12.3M-row MEMORY_AND_DISK persist — correct, but building
    // that columnar cache cost ~3× the verification compute itself
    // (r15: verify 18.1 s to a noop sink
    // vs 55.7 s through the persist + checkpoint). The curationKept
    // trick pins ni for FREE: a trivially-true nondeterministic
    // guard keeps ni in its own projection — CollapseProject and
    // filter pushdown cannot cross a nondeterministic expression —
    // so ni evaluates exactly once per pair with NO materialization,
    // and the caller's checkpoint holds only the threshold survivors.
    pairs
      .join(side(vecs, "doc_a", "a"), Seq("doc_a"))
      .join(side(vecs, "doc_b", "b"), Seq("doc_b"))
      .withColumn("ni",
        when(monotonically_increasing_id() >= 0, expr(niExpr)).otherwise(lit(-1L)))
      .select("doc_a", "doc_b", "na", "nb", "ni")
      .withColumn("wjaccard", col("ni") * 1.0 / (col("na") + col("nb") - col("ni")))
      .filter(col("wjaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("wjaccard"), 6).as("wjaccard"))
  }

  /** [[weightedMinhashLsh]] dense-verification gate: vocabularies at or
    * under this take the nibble-packed kernel (⌈V/16⌉ longs per doc,
    * ≤ 5·V codegen'd long ops per candidate pair — 256 keeps the
    * generated ni expression well under codegen method limits); larger
    * vocabularies take the general (doc, token)-keyed join. */
  private[graft] val denseVocabMax = 256L

  /** 64-bit SimHash over whitespace tokens, emitted as a 64-char bit
    * string (portable; avoids signed-int hex pitfalls). Bit j of a
    * token is bit (3 - j%4) of hex digit j/4 of md5(token).
    *
    * One-pass formulation: 64 integer `sum` columns ride a single
    * partial-aggregated groupBy over the token stream, so the only
    * exchange carries |docs| rows of 64 longs — no per-bit explode ever
    * materializes (the previous (doc, pos, digit) three-stage shape
    * shuffled ~20× more rows and was the whole cost of q17/q54).
    * Integer-identical to summing ±1 per (token, bit). */
  def simhash(docs: DataFrame, textCol: String = "text"): DataFrame = {
    // hex digits decoded once per token (16 convs), then each of the 64
    // bit sums is a shift-and-mask off its digit — contribution ±1
    val digits = (0 until 16).map(d =>
      expr(s"cast(conv(substring(h, ${d + 1}, 1), 16, 10) as int)").as(s"d$d"))
    val bitSums = (0 until 64).map { j =>
      val shift = 1 << (3 - j % 4)
      sum(expr(s"(d${j / 4} div $shift) % 2 * 2 - 1")).as(s"s$j")
    }
    val bitChars = (0 until 64).map(j => when(col(s"s$j") > 0, "1").otherwise("0"))
    docs.select(col("doc_id"), explode(split(lower(col(textCol)), " ")).as("tk"))
      .withColumn("h", md5(col("tk")))
      .select(col("doc_id") +: digits: _*)
      .groupBy("doc_id")
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), concat(bitChars: _*).as("simhash"))
  }

  /** SimHash near-duplicate pairs: banded Hamming-distance join over
    * the 64-bit fingerprints of [[simhash]] — the missing half of the
    * SimHash dedup story (a fingerprint without the pairing step dedups
    * nothing). Pigeonhole banding: any pair within Hamming distance
    * `maxHamming` agrees EXACTLY on at least one of (maxHamming + 1)
    * contiguous bit bands, so candidate generation is an equi-join on
    * (band, chunk) — never an all-pairs scan — and the exact distance
    * re-check runs on candidates only. At 16-bit bands (the default
    * maxHamming = 3) random collisions are ~2⁻¹⁶ per band, so the
    * candidate set stays within a small constant factor of the true
    * near-dup set at any corpus size. Deterministic end to end (md5 bit
    * algebra, no seeds): the whole pipeline sits under the DuckDB
    * oracle, unlike the randomized LSH families.
    *
    * Returns (doc_a, doc_b, hamming) with doc_a < doc_b and
    * hamming <= maxHamming. Same lifecycle contract as [[minhashLsh]]:
    * the result comes back persisted+materialized, working sets
    * released. */
  def simhashNearDup(docs: DataFrame, maxHamming: Int = 3,
                     textCol: String = "text"): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    require(maxHamming >= 0 && maxHamming < 64,
      s"simhashNearDup: maxHamming must be in [0, 64), got $maxHamming")
    val nBands = maxHamming + 1
    // band b covers bit positions [b*64/nBands, (b+1)*64/nBands) — integer
    // division so uneven band widths distribute deterministically
    val sig = simhash(docs, textCol).persist(StorageLevel.MEMORY_AND_DISK)
    sig.count() // eager: both self-join sides scan sig before a lazy cache fills
    val banded = sig.select(col("doc_id"), col("simhash"),
      explode(expr(
        s"""transform(sequence(0, ${nBands - 1}), b -> struct(b AS b,
           |substring(simhash, (b * 64) div $nBands + 1,
           |((b + 1) * 64) div $nBands - (b * 64) div $nBands) AS chunk))""".stripMargin))
        .as("bc"))
      .select(col("doc_id"), col("simhash"), col("bc.b").as("b"), col("bc.chunk").as("chunk"))
    val out = banded.as("x")
      .join(banded.as("y"), col("x.b") === col("y.b") && col("x.chunk") === col("y.chunk")
        && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.simhash").as("sa"), col("y.simhash").as("sb"))
      .distinct() // a pair can match in several bands
      // codegen'd byte loop (graft.functions.HammingDist) — the HOF
      // formulation allocated 2 single-char strings per bit per pair and
      // dominated this query's CPU
      .withColumn("hamming", graft.functions.HammingDist(col("sa"), col("sb")))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    out.count()
    sig.unpersist(blocking = false)
    out
  }

  /** Exact pairwise n-gram Jaccard >= threshold (no LSH) — the
    * brute-force baseline, for bounded candidate sets. */
  def ngramJaccard(docs: DataFrame, k: Int, threshold: Double): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val sh = shingles(docs, k).persist(StorageLevel.MEMORY_AND_DISK)
    sh.count() // eager: cnt + both join sides scan sh within one action
    val cnt = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = sh.select(col("doc_id").as("doc_a"), col("s"))
      .join(sh.select(col("doc_id").as("doc_b"), col("s")), Seq("s"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("ni"))
    val out = inter
      .join(cnt.select(col("doc_id").as("doc_a"), col("n").as("na")), Seq("doc_a"))
      .join(cnt.select(col("doc_id").as("doc_b"), col("n").as("nb")), Seq("doc_b"))
      .withColumn("jaccard", col("ni") * 1.0 / (col("na") + col("nb") - col("ni")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    out.count()
    sh.unpersist(blocking = false)
    out
  }

  /** Near-duplicate CLUSTERS: connected components over the candidate
    * pair graph, keyed to the min doc id per component — the
    * canonical-document selection step of a dedup pipeline. Documents
    * in no pair form singleton clusters.
    *
    * r15: runs on [[graft.graph.ConnectedComponents]]'s size-gated
    * kernel dispatch (driver union–find below the 2M-edge gate,
    * pointer-jumping DataFrame rounds above it) instead of a GraphX
    * Pregel graph — spec-pinned equal to GraphX (min member id per
    * component), and the Pregel per-iteration machinery (vertex/edge
    * RDD caches, per-round shuffle files) was pure overhead on
    * near-dup graphs, whose pair sets are tiny next to the corpus.
    * Singletons come from the left join, so only the PAIR endpoints
    * ever enter the CC kernel. */
  def clusters(spark: SparkSession, docs: DataFrame, pairs: DataFrame): DataFrame = {
    val cc = graft.graph.ConnectedComponents.run(
      pairs.select(col("doc_a").cast("long").as("doc_a"),
        col("doc_b").cast("long").as("doc_b")), "doc_a", "doc_b")
    val out = docs.select(col("doc_id").cast("long").as("doc_id"))
      .join(cc, col("doc_id") === col("node"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("cluster_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count() // materialize, then the CC working set is dead
    out
  }

  /** End-to-end corpus dedup: keep ONE canonical document per near-dup
    * cluster — the min-id member [[clusters]] already labels each
    * component with. Left-semi against the (small) canonical id set, so
    * Catalyst broadcasts it and the corpus never shuffles; singleton
    * clusters keep their document, so a dup-free corpus passes through
    * unchanged. */
  def canonical(docs: DataFrame, clusters: DataFrame): DataFrame =
    docs.join(
      clusters.filter(col("doc_id") === col("cluster_id")).select("doc_id"),
      Seq("doc_id"), "left_semi")

  /** Leakage-safe train/test assignment: buckets are drawn on the
    * near-dup CLUSTER id, not the document id, so every member of a
    * duplicate cluster lands on the same side — the split discipline
    * that keeps eval sets honest (a near-copy of a training document
    * in the test set is contamination, the exact failure mode the
    * Lee et al. 2021 dedup paper measures). Same seeded-md5 bucket
    * arithmetic as [[graft.util.Sampling.shard]] (first 8 hex chars as
    * an int, mod `nBuckets`); `is_test` = bucket == `testBucket`.
    * One narrow projection over the cluster table — the corpus itself
    * never shuffles; join the result back on doc_id to materialize
    * the sides. */
  def leakageSafeSplit(clusters: DataFrame, seed: Long,
                       nBuckets: Int = 5, testBucket: Int = 0): DataFrame = {
    require(nBuckets > 1 && testBucket >= 0 && testBucket < nBuckets,
      "leakageSafeSplit: need nBuckets > 1 and testBucket in [0, nBuckets)")
    val h = md5(concat(col("cluster_id").cast("string"), lit("|"), lit(seed.toString)))
    clusters.select(col("doc_id"), col("cluster_id"),
      ((conv(substring(h, 1, 8), 16, 10).cast("long") % nBuckets).cast("int")
        === testBucket).as("is_test"))
  }

  /** Embedding-cosine near-dup pairs: (a_id, b_id, cos) with a < b and
    * cos >= threshold.
    *
    * Physical strategy by cardinality: up to `bruteMaxRows` the exact
    * all-pairs broadcast crossJoin runs (N² but the broadcast side is
    * small by definition); above it the LSH-bucketed path generates
    * candidates with BucketedRandomProjectionLSH on the unit sphere
    * (d² = 2−2·cos makes the Euclidean threshold a monotone transform of
    * the cosine threshold) and re-checks every candidate pair with the
    * SAME exact cosine — so emitted pairs are identical in value to the
    * brute path, and only recall is approximate (tunable via
    * `numHashTables`). The 20k default bounds the brute regime at
    * ~2×10⁸ candidate pairs — past that, quadratic row traffic beats
    * any per-pair cheapness. */
  def embeddingNearDup(emb: DataFrame, threshold: Double,
                       bruteMaxRows: Long = 20000L,
                       numHashTables: Int = 4): DataFrame = {
    if (emb.count() <= bruteMaxRows) embeddingNearDupBrute(emb, threshold)
    else embeddingNearDupLsh(emb, threshold, numHashTables)
  }

  private def embeddingNearDupBrute(emb: DataFrame, threshold: Double): DataFrame = {
    import graft.knn.CosineKnn.{dot, l2norm}
    val a = emb.select(col("id").as("a_id"), col("vec").as("av")).withColumn("an", l2norm("av"))
    val b = emb.select(col("id").as("b_id"), col("vec").as("bv")).withColumn("bn", l2norm("bv"))
    a.crossJoin(broadcast(b))
      .filter(col("a_id") < col("b_id"))
      .withColumn("cos", dot("av", "bv") / (col("an") * col("bn")))
      .filter(col("cos") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("cos"), 6).as("cos"))
  }

  private[graft] def embeddingNearDupLsh(emb: DataFrame, threshold: Double,
                                         numHashTables: Int): DataFrame = {
    import graft.knn.CosineKnn.{dot, l2norm}
    import org.apache.spark.ml.feature.BucketedRandomProjectionLSH
    import org.apache.spark.ml.functions.array_to_vector
    val normed = emb.select(col("id"), col("vec"),
      array_to_vector(expr(
        "transform(vec, x -> x / sqrt(aggregate(vec, cast(0.0 as double), (a, v) -> a + v * v)))"))
        .as("features"))
    val lsh = new BucketedRandomProjectionLSH()
      .setBucketLength(1.0).setNumHashTables(numHashTables)
      .setInputCol("features").setOutputCol("hashes").setSeed(42L)
    val model = lsh.fit(normed)
    // unit-sphere distance bound equivalent to the cosine threshold
    val distThreshold = math.sqrt(math.max(0.0, 2.0 - 2.0 * threshold))
    model.approxSimilarityJoin(normed, normed, distThreshold, "dist")
      .select(col("datasetA.id").as("a_id"), col("datasetA.vec").as("av"),
        col("datasetB.id").as("b_id"), col("datasetB.vec").as("bv"))
      .filter(col("a_id") < col("b_id"))
      // exact re-check: candidate generation is approximate, the emitted
      // cosine is not
      .withColumn("an", l2norm("av")).withColumn("bn", l2norm("bv"))
      .withColumn("cos", dot("av", "bv") / (col("an") * col("bn")))
      .filter(col("cos") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("cos"), 6).as("cos"))
  }

  /** SORTED-NEIGHBORHOOD dedup (Hernández & Stolfo, SIGMOD 1995) —
    * the classic blocking alternative to LSH: sort the corpus by a
    * normalized key, compare only rows within a sliding window of w
    * positions, verify candidates with exact word-shingle Jaccard.
    * Where LSH banding bounds candidates probabilistically, SNM
    * bounds them STRUCTURALLY: every row pairs with at most w−1
    * neighbors, so candidate volume is exactly ≤ (w−1)·N regardless
    * of key skew — the predictable-cost profile some curation
    * pipelines need.
    *
    * Scale shape: the global sort position comes from
    * [[graft.util.GlobalRank.withGlobalRank]] (decomposed prefix
    * sums, never a corpus-wide single-partition window; bucket = the
    * key's `bucketChars`-char prefix, a monotone bounded coarsening —
    * widen it when the corpus per 2-char prefix outgrows one task). The
    * windowed pairing is an adjacent-block self-join: row at rank r
    * lives in block ⌊(r−1)/w⌋ and a pair with rank gap < w spans at
    * most adjacent blocks, so the left side explodes to 2 join keys
    * and each block joins ≤ 2w rows — no row ever meets more than 2w
    * candidates. Jaccard verification reuses the [[shingles]]
    * algebra in exact integer permille.
    *
    * Sort key: first `keyLen` chars of the lowercased text with all
    * non-[a-z0-9] stripped (the standard SNM normalized-prefix key),
    * ties broken by doc_id — fully deterministic, DuckDB-replayable.
    *
    * @return (doc_a, doc_b, gap, jac_permille): verified pairs with
    *         doc_a < doc_b by SORT position, gap = rank distance,
    *         jac_permille = ⌊1000·|∩|/|∪|⌋ ≥ tPerMille. Only pairs
    *         sharing at least one shingle can be emitted (the
    *         intersection join is what makes verification candidate-
    *         bounded), and documents with fewer than `shingleK` words
    *         have no shingles and never pair — hence the tPerMille ≥ 1
    *         floor: a zero threshold would promise zero-overlap pairs
    *         this operator never produces. */
  def sortedNeighborhood(docs: DataFrame, w: Int, shingleK: Int,
                         tPerMille: Long, keyLen: Int = 24,
                         textCol: String = "text",
                         bucketChars: Int = 2): DataFrame = {
    require(w >= 2, s"sortedNeighborhood: window w >= 2, got $w")
    require(tPerMille >= 1, s"sortedNeighborhood: tPerMille >= 1, got $tPerMille")
    require(bucketChars >= 1 && bucketChars < keyLen,
      s"sortedNeighborhood: bucketChars in [1, keyLen), got $bucketChars")
    import org.apache.spark.storage.StorageLevel
    val keyed = docs.select(col("doc_id"), col(textCol).as("__t"))
      .withColumn("__key",
        substring(regexp_replace(lower(col("__t")), "[^a-z0-9]", ""), 1, keyLen))
    val ranked = graft.util.GlobalRank.withGlobalRank(
        keyed, Seq(col("__key"), col("doc_id")), substring(col("__key"), 1, bucketChars))
      .select(col("doc_id"), col("rn"))
      .withColumn("__blk", floor((col("rn") - lit(1)) / lit(w.toLong)))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val left = ranked.select(col("doc_id").as("doc_a"), col("rn").as("ra"),
        explode(array(col("__blk"), col("__blk") + lit(1))).as("__j"))
    val right = ranked.select(col("doc_id").as("doc_b"), col("rn").as("rb"),
        col("__blk").as("__j"))
    val cand = left.join(right, Seq("__j"))
      .filter(col("rb") - col("ra") >= 1 && col("rb") - col("ra") <= (w - 1).toLong)
      .select(col("doc_a"), col("doc_b"), (col("rb") - col("ra")).as("gap"))
    val sh = shingles(docs, shingleK, textCol).persist(StorageLevel.MEMORY_AND_DISK)
    val cnt = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = cand
      .join(sh.select(col("doc_id").as("doc_a"), col("s")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("s")), Seq("doc_b", "s"))
      .groupBy("doc_a", "doc_b", "gap").agg(count(lit(1)).as("ni"))
    val out = inter
      .join(cnt.select(col("doc_id").as("doc_a"), col("n").as("na")), Seq("doc_a"))
      .join(cnt.select(col("doc_id").as("doc_b"), col("n").as("nb")), Seq("doc_b"))
      .filter(col("ni") * lit(1000L) >= lit(tPerMille) * (col("na") + col("nb") - col("ni")))
      .select(col("doc_a"), col("doc_b"), col("gap"),
        // integer DIV, never float division floored — exact on both engines
        expr("(ni * 1000L) div (na + nb - ni)").as("jac_permille"))
      // eager localCheckpoint, not persist: the result is cut loose
      // from its lineage AND leaves no block-manager entry behind for
      // the session lifetime (the containmentJoin discipline)
      .localCheckpoint(true)
    ranked.unpersist(blocking = false)
    sh.unpersist(blocking = false)
    out
  }
}
