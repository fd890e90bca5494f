package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Data-integration converters (SURVEY §2.1 S2/S3, §2.7 F1-F7): raw
  * dataset scans to the standardized item/user/rating/social schema.
  * One converter per reference dataset family; dataset-specific CSV
  * dialects ride on `spark.read` options (multi-char `sep`, encoding,
  * escape — all supported natively since Spark 3.0).
  */
object Converters {

  /** ml-100k raw item scan: `|`-separated, latin-1, headerless with
    * injected names (movielens.py:227-233). */
  def readDelimited(spark: SparkSession, path: String, sep: String,
                    encoding: String, names: Seq[String]): DataFrame = {
    val raw = spark.read
      .option("sep", sep).option("encoding", encoding).option("header", "false")
      .csv(path)
    raw.toDF(names: _*)
  }

  /** F1 year extraction: `\((\d{4})\)` -> int (movielens.py:100-105). */
  def extractYear(title: Column): Column =
    regexp_extract(title, "\\((\\d{4})\\)", 1).cast("int")

  /** F2 title normalization, step-exact to movielens.py:81-98:
    * 1. cut at the `(yyyy)` year match, strip;
    * 2. keep only text before the first `(` (alt-language titles);
    * 3. rotate comma segments: last segment first ("Saint, The" ->
    *    "The Saint"; "A, B, C" -> "C A B");
    * 4. trim.
    * Takes the source column NAME (the HOF lambda needs a bound ref). */
  def normalizeTitleExpr(titleCol: String): Column = {
    val noYear = s"trim(regexp_replace($titleCol, '\\\\(\\\\d{4}\\\\).*$$', ''))"
    val before = s"substring_index($noYear, '(', 1)"
    val sp = s"split($before, ',')"
    expr(
      s"""CASE WHEN size($sp) > 1
         |THEN trim(concat_ws(' ', trim(element_at($sp, -1)),
         |     array_join(transform(slice($sp, 1, size($sp) - 1), x -> trim(x)), ' ')))
         |ELSE trim($before) END""".stripMargin)
  }

  /** ml-100k-shaped conversion (movielens.py:199-216): raw item/user/
    * rating frames -> standardized frames with plain names; callers
    * write them through TypedCsv.write for the `name::type` headers. */
  def movielensItems(rawItems: DataFrame): DataFrame =
    rawItems
      .na.drop(Seq("movie_title")) // P4 dropna (movielens.py:239)
      .select(
        col("movie_id").as("item_id"),
        normalizeTitleExpr("movie_title").as("movie_title"),
        extractYear(col("movie_title")).cast("string").as("movie_year"))

  /** J3 surrogate-key join (douban-movie.py:61-70): build dims with
    * dense 0-based ids over the natural-key ordering, then join facts
    * back. Delegates to [[graft.graph.KGraph.relabel]], which switches
    * from the single-partition ranking window to a parallel
    * sort+zipWithIndex above a cardinality threshold — a dim with 1e9
    * distinct keys never funnels through one task. */
  def surrogateKeyJoin(facts: DataFrame, naturalKey: String, idName: String): (DataFrame, DataFrame) = {
    val dim = graft.graph.KGraph.relabel(facts.select(col(naturalKey).as("label")))
      .select(col("label").as(naturalKey), col("node_id").as(idName))
    (dim, facts.join(dim, Seq(naturalKey)))
  }

  /** lastfm social links (lastfm.py:35): (user1, user2) pairs, both
    * endpoints validated against known users via semi-joins (J4). */
  def socialLinks(pairs: DataFrame, users: DataFrame): DataFrame =
    pairs.join(users.select(col("user_id").as("user1")), Seq("user1"), "left_semi")
      .join(users.select(col("user_id").as("user2")), Seq("user2"), "left_semi")
}
