package graft.oracle

import org.apache.spark.ml.feature.BucketedRandomProjectionLSH
import org.apache.spark.ml.linalg.{Matrix, Vectors}

/** Prints the BRP-LSH random unit vectors for (seed 42, 4 tables,
  * dim 64): the q22 oracle constants in [[AnnReplaySql]]. The vectors
  * depend on the input's dimension only, so one constant row stands in
  * for the embeddings table.
  *
  * Usage: `Test/runMain graft.oracle.LshPlanes`
  */
object LshPlanes {
  def main(args: Array[String]): Unit = {
    val spark = graft.TestSpark.spark
    import spark.implicits._
    val e = Seq(Tuple1(Vectors.dense(Array.fill(64)(1.0)))).toDF("features")
    val model = new BucketedRandomProjectionLSH()
      .setBucketLength(0.25).setNumHashTables(4)
      .setInputCol("features").setOutputCol("hashes").setSeed(42L)
      .fit(e)
    val m = model.getClass.getDeclaredFields.find(_.getName.contains("randMatrix")).get
    m.setAccessible(true)
    m.get(model).asInstanceOf[Matrix].rowIter.zipWithIndex.foreach { case (v, i) =>
      println(s"UVEC$i=[" + v.toArray.map(x => java.lang.Double.toString(x)).mkString(",") + "]")
    }
    spark.stop()
  }
}
