package org.apache.spark.sql.graftshim

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.deploy.SparkHadoopUtil
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.csv.{CSVHeaderChecker, CSVOptions, UnivocityGenerator, UnivocityParser}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.execution.datasources.{HadoopFileLinesReader, PartitionedFile}
import org.apache.spark.sql.execution.datasources.csv.{CSVDataSource, CSVUtils}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.HadoopFSUtils

/** Header CSVs read and written on the driver, without a Spark job,
  * through the classes Spark's CSV source runs in its tasks: `CSVOptions`,
  * the per-file reader of `CSVDataSource` (`UnivocityParser` over Hadoop's
  * line reader, `CSVHeaderChecker` dropping each file's header) and
  * `UnivocityGenerator`. Null, quote, escape, line and header rules are
  * therefore those of `spark.read.option("header", "true").csv(path)` and
  * `write.option("header", "true").csv(path)`.
  */
object LocalCsv {

  private val Header = Map("header" -> "true")

  /** The files `spark.read.csv(path)` reads, when `path` is a file or a
    * directory of files: a directory's files whose names Spark's file
    * index keeps (no `_` or `.` prefix), in name order. None when `path`
    * does not exist, is a glob, or is a directory holding a directory
    * (which Spark lists recursively or reads as partitions). Lists, opens
    * nothing. */
  def files(spark: SparkSession, path: String): Option[Seq[FileStatus]] = {
    val p = new Path(path)
    if (SparkHadoopUtil.get.isGlobPath(p)) None
    else {
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      scala.util.Try(fs.getFileStatus(p)).toOption.flatMap { status =>
        if (status.isFile) Some(Seq(status)).filterNot(_ => HadoopFSUtils.shouldFilterOutPathName(p.getName))
        else {
          val kept = fs.listStatus(p).toSeq.filterNot(s => HadoopFSUtils.shouldFilterOutPathName(s.getPath.getName))
          if (kept.exists(_.isDirectory)) None else Some(kept.sortBy(_.getPath.getName))
        }
      }
    }
  }

  /** `spark.read.option("header", "true").csv(...)` over `files` (see
    * [[files]]), read here as one local table. The schema is what Spark
    * infers without `inferSchema`: the first non-blank line of the largest
    * file (the first file Spark's scan opens), tokenized and made unique
    * by `CSVUtils.makeSafeHeader`, every column a string. Each file's own
    * first line is its header and is dropped. */
  def read(spark: SparkSession, files: Seq[FileStatus]): DataFrame = {
    val conf = spark.sessionState.conf
    val options = new CSVOptions(CaseInsensitiveMap(Header), conf.csvColumnPruning,
      conf.sessionLocalTimeZone, conf.columnNameOfCorruptRecord)
    val hadoopConf = spark.sessionState.newHadoopConfWithOptions(Header)
    def partitioned(f: FileStatus) = PartitionedFile(InternalRow.empty, SparkPath.fromFileStatus(f),
      0L, f.getLen, Array.empty[String], f.getModificationTime, f.getLen, Map.empty)
    // the first line Spark's schema inference takes: a line is blank when
    // trimming spaces (SQL `trim`) leaves nothing
    val firstLine = files.sortBy(-_.getLen).iterator.map { f =>
      val lines = new HadoopFileLinesReader(partitioned(f), options.lineSeparatorInRead, hadoopConf)
      try lines.map(l => new String(l.getBytes, 0, l.getLength, options.charset))
        .find(l => UTF8String.fromString(l).trim().numBytes() > 0)
      finally lines.close()
    }.collectFirst { case Some(l) => l }
    val schema = firstLine.flatMap(l => Option(new CsvParser(options.asParserSettings).parseLine(l)))
      .fold(StructType(Nil)) { tokens =>
        StructType(CSVUtils.makeSafeHeader(tokens, conf.caseSensitiveAnalysis, options)
          .map(StructField(_, StringType)).toSeq)
      }
    val rows = if (schema.isEmpty) Vector.empty[InternalRow] else files.toVector.flatMap { f =>
      val file = partitioned(f)
      val parser = new UnivocityParser(schema, schema, options, Seq.empty)
      val header = new CSVHeaderChecker(schema, options, s"CSV file: ${file.urlEncodedPath}", true)
      // the parser reuses its row object
      CSVDataSource(options).readFile(hadoopConf, file, parser, header, schema).map(_.copy())
    }
    Dataset.ofRows(castToImpl(spark), Shim.relation(DataTypeUtils.toAttributes(schema), rows))
  }

  /** `df.coalesce(1).write.mode("overwrite").option("header", "true")
    * .csv(path)` for a local table (`Shim.localRows`), written here:
    * `path` replaced by a directory of one `part-00000-<uuid>-c000.csv`
    * (header, then the rows in order) and an empty `_SUCCESS`, created
    * through the path's Hadoop file system as Spark's committer creates
    * them. False, writing nothing, when `df` is not a local table. */
  def write(df: DataFrame, path: String): Boolean = Shim.localRelation(df).exists { r =>
    val spark = df.sparkSession
    val conf = spark.sessionState.conf
    val options = new CSVOptions(Header, conf.csvColumnPruning, conf.sessionLocalTimeZone)
    val dir = new Path(path)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConfWithOptions(Header))
    if (fs.exists(dir)) fs.delete(dir, true)
    fs.mkdirs(dir)
    val part = new Path(dir, s"part-00000-${java.util.UUID.randomUUID()}-c000.csv")
    val gen = new UnivocityGenerator(df.schema,
      new java.io.OutputStreamWriter(fs.create(part, false), java.nio.charset.Charset.forName(options.charset)),
      options)
    try {
      if (options.headerFlag) gen.writeHeaders()
      r.data.foreach(gen.write)
    } finally gen.close()
    fs.create(new Path(dir, "_SUCCESS"), false).close()
    true
  }
}
