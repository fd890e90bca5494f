package graft

import org.apache.spark.sql.functions._

/** Regenerates a golden-parquet oracle in `goldens/` from the current
  * engine output. Goldens pin fully deterministic model queries (seeded
  * xxhash64 walk chains) that no SQL engine can replay; each golden is
  * keyed by the scale's ratings count (`n_ratings`) so ONE file serves
  * every sf the driver checks (the oracle filters
  * `WHERE n_ratings = (SELECT COUNT(*) FROM ratings)`).
  *
  * Usage:
  *   runMain graft.GoldenGen q45_deepwalk_walks /root/testdata/sf0.001 /root/testdata/sf0.01
  *
  * ONLY run this after the query's output has been verified by other
  * means (spec-level invariants, cross-kernel bit-equality) — a golden
  * records trusted output, it does not create trust.
  */
object GoldenGen {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: GoldenGen <query_name> <sfdir> [<sfdir> ...]")
    val name = args.head
    val dirs = args.tail.toSeq
    val spark = LocalSession()
    val all = dirs.map { dir =>
      val n = Tables.ratings(spark, dir).count()
      SparkEntry.queries(name)(spark, dir).withColumn("n_ratings", lit(n))
    }.reduce(_ unionByName _)

    // emit a single bare .parquet file (DuckDB reads it by path)
    val tmp = java.nio.file.Files.createTempDirectory("golden")
    all.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = java.nio.file.Files.list(tmp).filter(_.toString.endsWith(".parquet"))
      .findFirst().orElseThrow()
    val dest = java.nio.file.Path.of(s"goldens/$name.parquet")
    java.nio.file.Files.createDirectories(dest.getParent)
    java.nio.file.Files.move(part, dest,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    println(s"golden written: $dest (${dirs.size} scales)")
    spark.stop()
  }
}
