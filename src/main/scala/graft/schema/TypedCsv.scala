package graft.schema

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.LocalCsv
import org.apache.spark.sql.types._

/** The reference's only schema mechanism (S1): CSV headers carry a type
  * annotation `col_name::data_type` parsed at load
  * (`framework/dataloader/graph/graph.py:193-215`). Types:
  *  - `string`      -> StringType
  *  - `string_list` -> ArrayType(StringType), cells are `"::"`-joined
  *  - `number`      -> DoubleType (pd.to_numeric's int|float superset)
  *
  * An unparseable header is a hard error (graph.py:207-212 exits; we
  * throw — fail-fast at plan time, not mid-job).
  *
  * Note the reference's deliberate separator collision: `"::"` is both
  * the header type separator and the in-cell list separator
  * (graph.py:22). Isolated here as [[TypedCsv.Sep]].
  */
object TypedCsv {

  val Sep = "::"

  /** Read a typed-header CSV; returns a DataFrame with plain column
    * names and Spark-native types. */
  def read(spark: SparkSession, path: String): DataFrame =
    typed(spark.read.option("header", "true").csv(path))

  /** [[read]] on the driver, with no Spark job: the file or directory of
    * files at `path` is parsed by Spark's own CSV classes
    * (`LocalCsv.read`) into a local table of strings, under the same
    * typed casts. Returns that local table; the casts are evaluated when a
    * column is read (`Shim.localRows`), as Spark's optimizer folds them,
    * so a bad cell throws what [[read]]'s job throws, and only when a step
    * reads its column. Throws when `path` is not a file or a directory of
    * files (`LocalCsv.files`). */
  def readLocal(spark: SparkSession, path: String): DataFrame = {
    val files = LocalCsv.files(spark, path).getOrElse(throw new IllegalArgumentException(
      s"$path is not a file or a directory of files"))
    typed(LocalCsv.read(spark, files))
  }

  /** The typed view of a header CSV read as strings: each
    * `name::type` column cast to its type under its plain name. */
  private def typed(raw: DataFrame): DataFrame = {
    val cols = raw.columns.map { c =>
      c.split(Sep, -1) match {
        case Array(name, "string")      => col(raw.schema(c).name).cast(StringType).as(name)
        case Array(name, "string_list") => split(col(raw.schema(c).name), Sep).as(name)
        case Array(name, "number")      => col(raw.schema(c).name).cast(DoubleType).as(name)
        case _ => throw new IllegalArgumentException(
          s"Couldn't parse data type of column named $c. Should be col_name::data_type " +
            "(supported: string, string_list, number)") // graph.py:207-212
      }
    }
    raw.select(cols.toIndexedSeq: _*)
  }

  /** Write with typed headers (S6 sink, dataset.py:174-262): derive the
    * annotation from each column's Spark type. A single header file
    * (coalesce(1)) matches the reference's one-file-per-table layout. */
  def write(df: DataFrame, path: String): Unit = {
    val out = df.schema.fields.map { f =>
      f.dataType match {
        case ArrayType(StringType, _) => array_join(col(f.name), Sep).as(s"${f.name}${Sep}string_list")
        case _: NumericType           => col(f.name).as(s"${f.name}${Sep}number")
        case _                        => col(f.name).cast(StringType).as(s"${f.name}${Sep}string")
      }
    }
    df.select(out.toIndexedSeq: _*)
      .coalesce(1).write.mode("overwrite").option("header", "true").csv(path)
  }
}
