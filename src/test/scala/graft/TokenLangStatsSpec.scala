package graft

import graft.functions.{TokenLangStats, WordShingles}
import graft.text.TextOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the r15 fused kernels bit-equal to their composable forms:
  * [[graft.functions.TokenLangStats]] vs split + four filter() passes +
  * aggregate(length), and [[graft.functions.WordShingles.lines]] vs the
  * transform+slice+concat_ws word grouping. */
class TokenLangStatsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val texts = Seq(
    "the cat sat on the mat und der hund la la dans",
    "", "   ", "one", "a  b der die das", " le la et les ",
    "DER Die UND the THE la", "héllo the wörld und naïve la",
    "zu zu zu zu zu zu zu", "x\ty der"
  )

  test("TokenLangStats == split + filter(isin) x4 + aggregate(length)") {
    def swc(w: org.apache.spark.sql.Column, words: Seq[String]) =
      size(filter(w, x => x.isin(words.map(lit(_)): _*)))
    val df = texts.toDF("text")
      .select(col("text"), split(lower(col("text")), " ").as("w"))
    val want = df.select(size(col("w")), swc(col("w"), TextOps.EnStop),
      swc(col("w"), TextOps.DeStop), swc(col("w"), TextOps.FrStop),
      swc(col("w"), TextOps.EsStop),
      expr("aggregate(w, 0L, (acc, x) -> acc + length(x))")).collect()
    val got = df.select(TokenLangStats.of(lower(col("text"))).as("st"))
      .select("st.n", "st.en", "st.de", "st.fr", "st.es", "st.sumlen").collect()
    got.zip(want).zip(texts).foreach { case ((g, w), t) =>
      assert(g.toSeq == w.toSeq, s"text='$t'")
    }
  }

  test("the stopword probe bound is the longest stopword in UTF-8 bytes") {
    val all = TextOps.EnStop ++ TextOps.DeStop ++ TextOps.FrStop ++ TextOps.EsStop
    val longest = all.map(_.getBytes("UTF-8").length).max
    assert(TokenLangStats.maxStopwordBytes == longest)
    assert(longest == 5) // "nicht"
    // a stopword of exactly the bound still counts; one byte past it is
    // skipped, not probed
    val st = Seq("nicht nichts").toDF("text")
      .select(TokenLangStats.of(col("text")).as("st")).select("st.n", "st.de").head()
    assert(st.getInt(0) == 2 && st.getInt(1) == 1)
  }

  test("WordShingles.lines == transform+slice+concat_ws word grouping") {
    for (k <- Seq(1, 3, 5)) {
      val df = texts.toDF("text")
        .select(col("text"), split(col("text"), " ").as("w"))
      val want = df.select(expr(
        s"""transform(sequence(0, cast((size(w) + ${k - 1}) div $k as int) - 1),
           |  i -> concat_ws(' ', slice(w, i * $k + 1, $k)))""".stripMargin)).collect()
      val got = df.select(WordShingles.lines(col("text"), k)).collect()
      got.zip(want).zip(texts).foreach { case ((g, w), t) =>
        assert(g.getSeq[String](0) == w.getSeq[String](0), s"k=$k text='$t'")
      }
    }
  }

  test("langId and qualityScore unchanged through the fused kernel") {
    // reference forms, verbatim pre-r15
    def swc(w: org.apache.spark.sql.Column, words: Seq[String]) =
      size(filter(w, x => x.isin(words.map(lit(_)): _*)))
    val df = texts.filter(_.nonEmpty).toDF("text")
    val w = split(lower(col("text")), " ")
    val refLang = when(swc(w, TextOps.EnStop) >= swc(w, TextOps.DeStop) &&
        swc(w, TextOps.EnStop) >= swc(w, TextOps.FrStop) &&
        swc(w, TextOps.EnStop) >= swc(w, TextOps.EsStop), "en")
      .when(swc(w, TextOps.DeStop) >= swc(w, TextOps.FrStop) &&
        swc(w, TextOps.DeStop) >= swc(w, TextOps.EsStop), "de")
      .when(swc(w, TextOps.FrStop) >= swc(w, TextOps.EsStop), "fr")
      .otherwise("es")
    val n = size(w).cast("double")
    val refQ = round(least(n / 100.0, lit(1.0)) *
      (lit(0.5) + lit(0.5) * least(swc(w, TextOps.EnStop).cast("double") / n * 5.0, lit(1.0))), 6)
    val rows = df.select(TextOps.langId(col("text")), refLang,
      TextOps.qualityScore(col("text")), refQ).collect()
    rows.foreach { r =>
      assert(r.getString(0) == r.getString(1))
      assert(r.getDouble(2) == r.getDouble(3))
    }
  }
}
