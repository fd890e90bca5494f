package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom

/** Seeded input generators. Every workload's inputs are a pure function of
  * (seed, scale): the program only ever receives the plain files these
  * write. `scale` < 1 shrinks user/item/rating counts for the self-test. */
object Gen {

  /** Published MovieLens-100k rating-value marginals, highest value first. */
  val Ml100kMarginals: Seq[(Double, Int)] =
    Seq(5.0 -> 21201, 4.0 -> 34174, 3.0 -> 27145, 2.0 -> 11370, 1.0 -> 6110)
  /** MovieLens-1M rating-value shares (1★..5★). */
  val Ml1mShares: Array[Double] = Array(0.0563, 0.1075, 0.2613, 0.3489, 0.2260)

  final case class Rating(user: Int, item: Int, value: Double, ts: Long)

  def writer(f: File): BufferedWriter = {
    f.getParentFile.mkdirs()
    new BufferedWriter(new OutputStreamWriter(new FileOutputStream(f), StandardCharsets.ISO_8859_1), 1 << 16)
  }

  /** Cumulative weights 1/(rank+offset)^s over a seeded permutation of 0 until n. */
  final class Zipf(n: Int, s: Double, offset: Double, rnd: SplittableRandom) {
    private val perm = shuffled(n, rnd)
    private val cum = {
      val c = new Array[Double](n)
      var acc = 0.0
      var r = 0
      while (r < n) { acc += math.pow(r + offset, -s); c(r) = acc; r += 1 }
      c
    }
    /** The element at popularity rank r (0 = most popular). */
    def atRank(r: Int): Int = perm(r)
    def draw(rnd: SplittableRandom): Int = {
      val x = rnd.nextDouble() * cum(n - 1)
      val i = java.util.Arrays.binarySearch(cum, x)
      perm(math.min(n - 1, if (i >= 0) i else -i - 1))
    }
  }

  def shuffled(n: Int, rnd: SplittableRandom): Array[Int] = {
    val a = Array.tabulate(n)(identity)
    var i = n - 1
    while (i > 0) { val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
    a
  }

  private def noise(u: Int, i: Int, seed: Long): Double =
    (scala.util.hashing.MurmurHash3.productHash((u, i, seed)) & 0xffffff).toDouble / 0xffffff

  /** ml-100k-shaped ratings: nUsers × nItems × nRatings distinct pairs, the
    * published rating marginals (scaled), 10 user communities that each
    * favour two of 10 item genres, Zipf item popularity, every user and
    * item rated at least once. Values go by global affinity rank, so high
    * ratings concentrate in favoured genres and the graph is learnable. */
  def ml100k(seed: Long, scale: Double): (Int, Int, Vector[Rating]) = {
    val nUsers = math.max(20, (943 * scale).round.toInt)
    val nItems = math.max(40, (1681 * scale).round.toInt)
    val marg = Ml100kMarginals.map { case (v, n) => v -> math.max(1, (n * scale * scale).round.toInt) }
    val nRatings = marg.map(_._2).sum
    val rnd = new SplittableRandom(seed)
    val nComm = 10
    val pop = new Zipf(nItems, 1.0, 20.0, rnd)
    val rankOf = new Array[Int](nItems)
    (0 until nItems).foreach(r => rankOf(pop.atRank(r)) = r)
    def favored(u: Int, i: Int) = { val g = i % nComm; g == u % nComm || g == (u + 1) % nComm }
    def drawFor(u: Int): Int = {
      var i = pop.draw(rnd); var tries = 0
      while (!favored(u, i) && rnd.nextDouble() < 0.8 && tries < 50) { i = pop.draw(rnd); tries += 1 }
      i
    }
    val pairs = scala.collection.mutable.LinkedHashSet.empty[(Int, Int)]
    (0 until nItems).foreach(i => pairs += ((rnd.nextInt(nUsers), i)))
    (0 until nUsers).foreach(u => pairs += ((u, drawFor(u))))
    while (pairs.size < nRatings) { val u = rnd.nextInt(nUsers); pairs += ((u, drawFor(u))) }
    def affinity(u: Int, i: Int) =
      (if (favored(u, i)) 2.0 else 0.0) + 1.0 / (1.0 + rankOf(i) / 150.0) + noise(u, i, seed)
    val ranked = pairs.toVector.take(nRatings).sortBy { case (u, i) => (-affinity(u, i), u, i) }
    val values = marg.flatMap { case (v, n) => Vector.fill(n)(v) }
    val day = 86400000L
    val rows = ranked.zip(values).map { case ((u, i), v) =>
      Rating(u + 1, i + 1, v, 820454400000L +
        math.floorMod(scala.util.hashing.MurmurHash3.productHash((u, i, seed, 7)).toLong, 300L * day))
    }
    (nUsers, nItems, rows)
  }

  /** Enriched.csv-shaped property table at the reference's ml-100k coverage
    * rates: 8 DBpedia columns; subject/starring/director/writer/producer
    * draw from per-genre pools, distributor/cinematography from
    * genre-blind pools, abstract is unique per item. */
  val EnrichedProps: Seq[(String, Int, Int)] = Seq(
    ("subject", 1000, 2), ("abstract", 997, 0), ("starring", 938, 40),
    ("director", 932, 30), ("distributor", 877, -25), ("writer", 832, 25),
    ("producer", 769, 15), ("cinematography", 728, -40))

  def writeEnriched(f: File, nItems: Int, seed: Long): Unit = {
    val rnd = new SplittableRandom(seed ^ 0x5eed5eedL)
    val w = writer(f)
    w.write("item_id::string," + EnrichedProps.map { case (n, _, _) =>
      if (n == "abstract") s"$n::string" else s"$n::string_list" }.mkString(",") + "\n")
    (0 until nItems).foreach { i =>
      val vals = EnrichedProps.map { case (name, cov, pool) =>
        if (rnd.nextInt(1000) >= cov) ""
        else if (pool == 0) s"${name}_${i + 1}"
        else if (pool < 0) s"${name}_${rnd.nextInt(-pool)}"
        else s"${name}_g${i % 10}_${rnd.nextInt(pool)}"
      }
      w.write((i + 1).toString + "," + vals.mkString(",") + "\n")
    }
    w.close()
  }

  def writeTypedRatings(f: File, rows: Iterable[Rating]): Unit = {
    val w = writer(f)
    w.write("user_id::string,item_id::string,rating::number,timestamp::number\n")
    rows.foreach(r => w.write(s"${r.user},${r.item},${r.value},${r.ts}\n"))
    w.close()
  }

  /** ml-1m-sized ratings with both Zipf user activity and Zipf item
    * popularity, so a k-core filter has work to do: the activity exponent
    * is chosen (deterministically, from the sizes alone) so that about 30%
    * of users fall below `lowUserK` ratings. Per user, timestamps ascend
    * from a user-specific start, as in a real rating log. */
  def ml1m(seed: Long, scale: Double, lowUserK: Int = 20): (Int, Int, Array[Rating]) = {
    val nUsers = math.max(40, (6040 * scale).round.toInt)
    val nItems = math.max(60, (3706 * scale).round.toInt)
    val total = math.max(2000L, (1000000L * scale * scale).round).toInt
    val maxPerUser = nItems * 2 / 5
    // per-rank counts f * (r+1)^-s, capped, with f solved so they sum to `total`
    def counts(s: Double): Array[Int] = {
      val w = Array.tabulate(nUsers)(r => math.pow(r + 1.0, -s))
      def at(f: Double) = w.map(x => math.max(1, math.min(maxPerUser, (f * x).round.toInt)))
      var (lo, hi) = (0.0, total.toDouble * nUsers)
      (0 until 60).foreach { _ => val mid = (lo + hi) / 2; if (at(mid).map(_.toLong).sum < total) lo = mid else hi = mid }
      at(hi)
    }
    val s = (0 to 40).map(i => 0.5 + i * 0.025)
      .minBy(s => math.abs(counts(s).count(_ < lowUserK).toDouble / nUsers - 0.30))
    val perRank = counts(s)
    val rnd = new SplittableRandom(seed)
    val users = shuffled(nUsers, rnd)
    val items = new Zipf(nItems, 0.9, 5.0, rnd)
    val out = Array.newBuilder[Rating]
    val seen = new java.util.BitSet(nItems)
    val cumShare = Ml1mShares.scanLeft(0.0)(_ + _).tail
    (0 until nUsers).foreach { r =>
      val u = users(r)
      seen.clear()
      var ts = 956703932000L + rnd.nextLong(86400000L * 900)
      var n = 0
      while (n < perRank(r)) {
        val i = items.draw(rnd)
        if (!seen.get(i)) {
          seen.set(i)
          val x = rnd.nextDouble()
          var v = 0
          while (v < 4 && x > cumShare(v)) v += 1
          ts += 1000L + rnd.nextLong(86400000L)
          out += Rating(u + 1, i + 1, v + 1.0, ts)
          n += 1
        }
      }
    }
    (nUsers, nItems, out.result())
  }

  // ---- ml-1m raw files for the data-integration workload ---------------

  private val syllables = Seq("ka", "lo", "mi", "ne", "ru", "sa", "to", "vi", "da", "fe",
    "go", "hu", "ji", "pe", "qua", "ri", "su", "te", "wo", "zy", "bra", "cle", "dro", "sta")

  /** Unique lowercase word-sequence titles: the only title form whose map
    * query the fixture transport can invert exactly (no punctuation, no
    * commas, no parentheses). */
  def titles(n: Int, rnd: SplittableRandom): Array[String] = {
    val vocab = (0 until 600).map { _ =>
      (0 until (2 + rnd.nextInt(2))).map(_ => syllables(rnd.nextInt(syllables.size))).mkString
    }.distinct
    val seen = scala.collection.mutable.HashSet.empty[String]
    Array.fill(n) {
      var t = ""
      while (t.isEmpty || seen(t))
        t = (0 until (1 + rnd.nextInt(4))).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
      seen += t
      t
    }
  }

  final case class Ml1mRaw(nItems: Int, nUsers: Int, nRatings: Int, titles: Array[String],
                           unmatched: Set[String])

  /** movies.dat / users.dat / ratings.dat in ml-1m's `::` layout; a seeded
    * `missShare` of titles is returned as `unmatched` (the transport answers
    * those with no candidate). */
  def writeMl1mRaw(dir: File, seed: Long, scale: Double, missShare: Double): Ml1mRaw = {
    val (nUsers, nItems, ratings) = ml1m(seed ^ 0x1a1aL, scale)
    val rnd = new SplittableRandom(seed ^ 0x77L)
    val ts = titles(nItems, rnd)
    val genres = Seq("Action", "Comedy", "Drama", "Horror", "Romance", "Thriller")
    val mw = writer(new File(dir, "movies.dat"))
    ts.zipWithIndex.foreach { case (t, i) =>
      mw.write(s"${i + 1}::$t (${1919 + rnd.nextInt(82)})::${genres(rnd.nextInt(genres.size))}|${genres(rnd.nextInt(genres.size))}\n")
    }
    mw.close()
    val uw = writer(new File(dir, "users.dat"))
    (1 to nUsers).foreach { u =>
      uw.write(s"$u::${if (rnd.nextBoolean()) "M" else "F"}::${Seq(1, 18, 25, 35, 45, 50, 56)(rnd.nextInt(7))}::${rnd.nextInt(21)}::${10000 + rnd.nextInt(89999)}\n")
    }
    uw.close()
    val rw = writer(new File(dir, "ratings.dat"))
    ratings.foreach(r => rw.write(s"${r.user}::${r.item}::${r.value.toInt}::${r.ts / 1000}\n"))
    rw.close()
    val nMiss = (nItems * missShare).round.toInt
    val miss = shuffled(nItems, rnd).take(nMiss).map(ts(_)).toSet
    Ml1mRaw(nItems, nUsers, ratings.length, ts, miss)
  }
}
