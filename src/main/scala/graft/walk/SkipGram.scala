package graft.walk

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Skip-gram trainer with negative sampling (SURVEY §2.8 M3) — the
  * engine behind [[DeepWalkRecommender]].
  *
  * The reference trains gensim `Word2Vec(sg=1)` over walk sentences
  * (`deep_walk_based/model.py:62-76`); gensim is a multithreaded C
  * kernel over in-memory sentences. MLlib's `Word2Vec` reproduces the
  * semantics but pays a per-iteration broadcast + per-partition model
  * replica + average cycle that cost ~30 s on the headline graph — 88%
  * of a node2vec fold. Two paths share one training kernel here:
  *
  *  - [[fitLocal]] (driver-local): walk corpora are tiny relative to
  *    their training cost (the headline corpus is ~10M ints ≈ 80 MB),
  *    so within [[fitsDriver]] the sentences are trained shared-memory
  *    Hogwild on the driver — the gensim plan shape. DeepWalk's driver
  *    regime generates the walks on the driver; Item2Vec collects its
  *    basket corpus.
  *  - [[fitDistributed]]: the unbounded-corpus path — sentences stay an
  *    RDD; each epoch broadcasts the model, trains a replica per
  *    partition, and parameter-averages the replicas (the same
  *    replica-average scheme MLlib uses, minus its string vocab and
  *    per-sentence re-hashing; negatives come from the same alias
  *    table). The MODEL stays driver-sized in both paths — scaling the
  *    parameter dimension itself past driver memory is parameter-server
  *    territory (see `KgeTrainer.fitDistributed` for the
  *    DataFrame-resident-parameter version of that trade).
  *
  * Algorithm: standard SGNS (word2vec.c lines 522-599 shape): dynamic
  * window shrink `b ∈ [1, window]`, unigram^0.75 negative table behind
  * a Walker alias sampler (O(1) per draw), sigmoid lookup table, linear
  * lr decay to 1e-4·lr across epochs. Node ids are the dense ints
  * produced by `KGraph.relabel`, so the "vocab" is an array index — no
  * string hashing anywhere.
  *
  * Determinism: with `threads = 1` [[fitLocal]] is bit-exact for a
  * fixed seed and sentence order (specs pin this); more threads
  * Hogwild-race by design (as gensim with workers > 1), and the
  * distributed path's tree-reduce averaging order is
  * scheduler-dependent. [[DeepWalkRecommender]]'s driver regime calls
  * [[fitLocal]] on walks it generates in (start, walk_idx) order, so
  * `pin_order` is implied there: an unpinned single-thread run is as
  * deterministic as a pinned one. Embedding VALUES are seed-sensitive
  * everywhere (SURVEY §7), so q40/q41 stay rows-only regardless.
  */
object SkipGram {

  /** Most corpus tokens [[fitLocal]] takes (~400 MB of ints). */
  private val MaxDriverTokens = 100000000L

  /** The driver gate of [[fitLocal]]: the model (syn0 + syn1, `2 · vocab
    * · dim` floats) within [[graft.graph.KGraph.MaxDriverParams]] and
    * the corpus within 1e8 tokens. Past it, [[fitDistributed]]. */
  private[graft] def fitsDriver(vocab: Long, dim: Int, tokens: Long): Boolean =
    2L * vocab * dim <= graft.graph.KGraph.MaxDriverParams && tokens <= MaxDriverTokens

  /** Sigmoid lookup: ExpTableSize entries over [-MaxExp, MaxExp]. */
  private val MaxExp = 6.0f
  private val ExpTableSize = 1024
  private[walk] val expTable: Array[Float] = Array.tabulate(ExpTableSize) { i =>
    val x = (i.toDouble / ExpTableSize * 2.0 - 1.0) * MaxExp
    val e = math.exp(x)
    (e / (e + 1.0)).toFloat
  }

  /** xorshift64* — fast thread-private RNG (public-domain Vigna
    * construction), seeded per thread/partition so single-threaded runs
    * are reproducible. */
  private final class Rng(seedIn: Long) {
    private var s: Long = if (seedIn == 0L) 0x9e3779b97f4a7c15L else seedIn
    def nextLong(): Long = {
      s ^= s >>> 12; s ^= s << 25; s ^= s >>> 27
      s * 0x2545f4914f6cdd1dL
    }
    /** uniform in [0, n) */
    def nextInt(n: Int): Int = {
      val r = nextLong() >>> 1
      (r % n).toInt
    }
  }

  /** minCount mask + Walker alias table over kept tokens' unigram^0.75
    * mass — O(1) per negative draw (one index, one coin, two reads) vs
    * the ~log(vocab) branchy binary search a cumulative table costs:
    * negatives are drawn ~5× per pair, so the sampler is on the
    * innermost path. */
  private[walk] final case class Sampler(kept: Array[Boolean], keptTok: Array[Int],
                                         aliasProb: Array[Double], alias: Array[Int])
      extends Serializable

  private[walk] def buildSampler(freq: Array[Long], minCount: Int): Sampler = {
    val kept: Array[Boolean] = freq.map(_ >= math.max(minCount, 1).toLong)
    val keptTok = kept.indices.filter(kept).toArray
    val m = keptTok.length
    require(m > 0, "minCount filtered out every token")
    val aliasProb = new Array[Double](m)
    val alias = new Array[Int](m)
    val mass = keptTok.map(t => math.pow(freq(t).toDouble, 0.75))
    val total = mass.sum
    val scaled = mass.map(_ * m / total)
    val small = new java.util.ArrayDeque[Int](); val large = new java.util.ArrayDeque[Int]()
    var j = 0
    while (j < m) { if (scaled(j) < 1.0) small.add(j) else large.add(j); j += 1 }
    while (!small.isEmpty && !large.isEmpty) {
      val s = small.poll(); val l = large.poll()
      aliasProb(s) = scaled(s); alias(s) = l
      scaled(l) -= 1.0 - scaled(s)
      if (scaled(l) < 1.0) small.add(l) else large.add(l)
    }
    while (!large.isEmpty) { val l = large.poll(); aliasProb(l) = 1.0; alias(l) = l }
    while (!small.isEmpty) { val s = small.poll(); aliasProb(s) = 1.0; alias(s) = s }
    Sampler(kept, keptTok, aliasProb, alias)
  }

  /** Deterministic parameter init — indexed by (seed, position) so it
    * does not depend on thread or partition count. Input vectors
    * uniform(-0.5/dim, 0.5/dim), output vectors zero. */
  private def initParams(vocabSize: Int, dim: Int, seed: Long): (Array[Float], Array[Float]) = {
    // both paths keep the model in driver/task arrays; past this bound is
    // parameter-server territory (KgeTrainer.fitDistributed's trade) —
    // fail with that message, not a wrapped-Int array crash
    require(vocabSize.toLong * dim <= Int.MaxValue - 8,
      s"SkipGram model $vocabSize×$dim exceeds JVM array bounds; " +
        "shard the vocabulary or use a parameter-server-style trainer")
    val syn0 = new Array[Float](vocabSize * dim)
    val initRng = new Rng(seed * 0x9e3779b9L + 17)
    var i = 0
    while (i < syn0.length) {
      syn0(i) = (((initRng.nextLong() >>> 11).toDouble / (1L << 53).toDouble - 0.5) / dim).toFloat
      i += 1
    }
    (syn0, new Array[Float](vocabSize * dim))
  }

  /** One pass of SGNS over `sentences(lo until hi)`, updating syn0/syn1
    * in place. `alpha` interpolates linearly from `aStart` to `aEnd`
    * across the slice (floored at 1e-4·aStart) — the word2vec.c decay
    * schedule with the global counter replaced by slice-local progress,
    * which drops the cross-thread atomic entirely. Shared verbatim by
    * the threaded local path and the per-partition distributed path. */
  private[walk] def trainRange(sentences: Array[Array[Int]], lo: Int, hi: Int,
                               syn0: Array[Float], syn1: Array[Float], sampler: Sampler,
                               dim: Int, window: Int, negative: Int, rngSeed: Long,
                               aStart: Double, aEnd: Double): Unit = {
    val rng = new Rng(rngSeed)
    val neu1e = new Array[Float](dim)
    // hoist shared state into locals: everything below sits on the
    // innermost loop, and JIT treats locals better than field reads
    val s0 = syn0; val s1 = syn1; val keptL = sampler.kept
    val tokL = sampler.keptTok; val probL = sampler.aliasProb; val aliasL = sampler.alias
    val mL = tokL.length
    val exp = expTable
    var sliceTokens = 0L
    var s = lo
    while (s < hi) { sliceTokens += sentences(s).length; s += 1 }
    val floor = aStart * 1e-4
    var done = 0L
    var alpha = math.max(floor, aStart)
    s = lo
    while (s < hi) {
      val sent = sentences(s)
      val n = sent.length
      var pos = 0
      while (pos < n) {
        val center = sent(pos)
        if (keptL(center)) {
          val b = 1 + rng.nextInt(window) // dynamic window, word2vec.c:536
          var cpos = math.max(0, pos - b)
          val cend = math.min(n - 1, pos + b)
          while (cpos <= cend) {
            val ctx = sent(cpos)
            if (cpos != pos && keptL(ctx)) {
              // SGNS update: input = center (syn0), outputs = ctx + negatives
              val l1 = center * dim
              java.util.Arrays.fill(neu1e, 0.0f)
              var d = 0
              while (d <= negative) {
                var target = 0
                var label = 0.0f
                if (d == 0) { target = ctx; label = 1.0f }
                else {
                  // alias draw; two independent RNG words — sharing one
                  // word's bits between slot and coin correlates them
                  val kk = ((rng.nextLong() >>> 1) % mL).toInt
                  val u = (rng.nextLong() >>> 11).toDouble / (1L << 53).toDouble
                  target = tokL(if (u < probL(kk)) kk else aliasL(kk))
                  if (target == ctx) target = -1 // skip collision
                }
                if (target >= 0) {
                  val l2 = target * dim
                  var f = 0.0f
                  var k = 0
                  while (k < dim) { f += s0(l1 + k) * s1(l2 + k); k += 1 }
                  val sg =
                    if (f >= MaxExp) 1.0f
                    else if (f <= -MaxExp) 0.0f
                    else exp(((f / MaxExp + 1.0f) * (ExpTableSize / 2)).toInt.min(ExpTableSize - 1))
                  val g = ((label - sg) * alpha).toFloat
                  k = 0
                  while (k < dim) {
                    neu1e(k) += g * s1(l2 + k)
                    s1(l2 + k) += g * s0(l1 + k)
                    k += 1
                  }
                }
                d += 1
              }
              var k = 0
              while (k < dim) { s0(l1 + k) += neu1e(k); k += 1 }
            }
            cpos += 1
          }
        }
        pos += 1
        done += 1L
        // refresh lr in 16k-token strides
        if ((done & 0x3fff) == 0L && sliceTokens > 0) {
          alpha = math.max(floor, aStart + (aEnd - aStart) * (done.toDouble / sliceTokens))
        }
      }
      s += 1
    }
  }

  /** Train SGNS over integer sentences, shared-memory multithreaded.
    *
    * @param sentences walk paths; token values must lie in [0, vocabSize)
    * @return input-embedding matrix, row i = vector of token i; rows for
    *         tokens below `minCount` are null (dropped downstream)
    */
  private[graft] def fitLocal(sentences: Array[Array[Int]], vocabSize: Int, dim: Int,
                              window: Int, epochs: Int, lr: Double, negative: Int,
                              minCount: Int, seed: Long, threads: Int): Array[Array[Float]] = {
    require(vocabSize > 0 && dim > 0 && window > 0 && epochs > 0 && negative >= 0)
    val nThreads = math.max(1, threads) // 0 would divide the slice bounds by zero
    val freq = new Array[Long](vocabSize)
    var si = 0
    while (si < sentences.length) {
      val s = sentences(si)
      var j = 0
      while (j < s.length) { freq(s(j)) += 1L; j += 1 }
      si += 1
    }
    val sampler = buildSampler(freq, minCount)
    val (syn0, syn1) = initParams(vocabSize, dim, seed)

    def alphaAt(epoch: Int, frac: Double) =
      math.max(lr * 1e-4, lr * (1.0 - (epoch + frac) / epochs))
    def runThread(threadIdx: Int): Unit = {
      val lo = (sentences.length.toLong * threadIdx / nThreads).toInt
      val hi = (sentences.length.toLong * (threadIdx + 1) / nThreads).toInt
      var epoch = 0
      while (epoch < epochs) {
        trainRange(sentences, lo, hi, syn0, syn1, sampler, dim, window, negative,
          seed + 0x51ab1e * (threadIdx + 1) + epoch * 1315423911L,
          alphaAt(epoch, 0.0), alphaAt(epoch, 1.0))
        epoch += 1
      }
    }

    if (nThreads <= 1) runThread(0)
    else {
      val pool = new Array[Thread](nThreads)
      val failure = new java.util.concurrent.atomic.AtomicReference[Throwable](null)
      var t = 0
      while (t < nThreads) {
        val idx = t
        pool(t) = new Thread(() =>
          try runThread(idx)
          catch { case e: Throwable => failure.compareAndSet(null, e) },
          s"graft-sgns-$idx")
        pool(t).start()
        t += 1
      }
      pool.foreach(_.join())
      if (failure.get() != null) throw failure.get()
    }

    toRows(syn0, sampler, vocabSize, dim)
  }

  private def toRows(syn0: Array[Float], sampler: Sampler,
                     vocabSize: Int, dim: Int): Array[Array[Float]] =
    Array.tabulate(vocabSize) { v =>
      if (!sampler.kept(v)) null
      else java.util.Arrays.copyOfRange(syn0, v * dim, v * dim + dim)
    }

  /** Unbounded-corpus path: sentences stay distributed; each epoch
    * broadcasts the current model, trains an independent replica per
    * partition over its local slice, and averages the replicas weighted
    * by partition token share — MLlib `Word2Vec`'s replica-average
    * scheme on this kernel. One RDD materialization total (the corpus
    * persists across epochs); model memory is 2·vocab·dim floats on the
    * driver and per task, the same bound MLlib's replicas carry. */
  def fitDistributed(spark: SparkSession, walks: DataFrame, vocabSize: Int, dim: Int,
                     window: Int, epochs: Int, lr: Double, negative: Int = 5,
                     minCount: Int = 0, seed: Long = 42L, numPartitions: Int = 0): DataFrame = {
    require(vocabSize > 0 && dim > 0 && window > 0 && epochs > 0 && negative >= 0)
    val sc = spark.sparkContext
    val parts = if (numPartitions > 0) numPartitions else sc.defaultParallelism
    val sentences = {
      import spark.implicits._
      // typed decode: primitive bulk copy instead of per-token boxing
      // (one-time cost, but it's the whole corpus)
      walks.select(col("path").cast("array<int>")).as[Array[Int]]
        .rdd
        .repartition(parts)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    try {
      val freq = sentences.treeAggregate(new Array[Long](vocabSize))(
        (acc, s) => { var j = 0; while (j < s.length) { acc(s(j)) += 1L; j += 1 }; acc },
        (a, b) => { var j = 0; while (j < a.length) { a(j) += b(j); j += 1 }; a })
      // guard before the epoch loop: an empty corpus (no walks, or every
      // sentence zero-length) would otherwise surface as treeReduce's
      // opaque "empty collection" UnsupportedOperationException
      require(freq.sum > 0L, "SkipGram.fitDistributed: empty corpus (no tokens in walks)")
      val sampler = buildSampler(freq, minCount)
      val samplerBc = sc.broadcast(sampler)
      var model = initParams(vocabSize, dim, seed)
      def alphaAt(epoch: Int, frac: Double) =
        math.max(lr * 1e-4, lr * (1.0 - (epoch + frac) / epochs))
      var epoch = 0
      while (epoch < epochs) {
        val modelBc = sc.broadcast(model)
        val (aStart, aEnd) = (alphaAt(epoch, 0.0), alphaAt(epoch, 1.0))
        val ep = epoch
        // each partition trains a replica of the broadcast model over its
        // slice; replicas merge as token-weighted sums
        val (sum0, sum1, totalTokens) = sentences.mapPartitionsWithIndex { (pid, it) =>
          val slice = it.toArray
          var tokens = 0L
          var j = 0
          while (j < slice.length) { tokens += slice(j).length; j += 1 }
          if (tokens == 0L) Iterator.empty
          else {
            // clone: broadcast blocks are shared within an executor JVM
            val s0 = modelBc.value._1.clone(); val s1 = modelBc.value._2.clone()
            trainRange(slice, 0, slice.length, s0, s1, samplerBc.value,
              dim, window, negative,
              seed + 0x51ab1e * (pid + 1) + ep * 1315423911L, aStart, aEnd)
            val w = tokens.toDouble
            var k = 0
            val d0 = new Array[Double](s0.length); val d1 = new Array[Double](s1.length)
            while (k < s0.length) { d0(k) = s0(k) * w; d1(k) = s1(k) * w; k += 1 }
            Iterator.single((d0, d1, tokens))
          }
        }.treeReduce { case ((a0, a1, na), (b0, b1, nb)) =>
          var k = 0
          while (k < a0.length) { a0(k) += b0(k); a1(k) += b1(k); k += 1 }
          (a0, a1, na + nb)
        }
        val inv = 1.0 / totalTokens
        val m0 = new Array[Float](sum0.length); val m1 = new Array[Float](sum1.length)
        var k = 0
        while (k < sum0.length) {
          m0(k) = (sum0(k) * inv).toFloat; m1(k) = (sum1(k) * inv).toFloat; k += 1
        }
        model = (m0, m1)
        modelBc.destroy()
        epoch += 1
      }
      samplerBc.destroy()
      embDF(spark, toRows(model._1, sampler, vocabSize, dim))
    } finally sentences.unpersist(blocking = false)
  }

  /** [[fitLocal]]'s rows as (node_id: long, vec: array<double>), the
    * shape [[fitDistributed]] returns; null (below-minCount) rows drop. */
  private[graft] def embDF(spark: SparkSession, emb: Array[Array[Float]]): DataFrame = {
    val rows = emb.iterator.zipWithIndex.collect {
      case (v, id) if v != null => (id.toLong, v.map(_.toDouble))
    }.toSeq
    import spark.implicits._
    rows.toDF("node_id", "vec").repartition(spark.sparkContext.defaultParallelism)
  }
}
