package graft.graph

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shim

/** The heterogeneous user-item-property graph as two immutable
  * DataFrames, replacing the reference's mutable `Graph(nx.Graph)`
  * (`framework/dataloader/graph/graph.py:18-26`).
  *
  * Node identity is the canonical string label produced by the
  * reference's node classes — `Item(id)`, `User(id)`,
  * `Property(value, type)` (`framework/dataloader/graph/node.py:22-23,
  * 43-44, 65-66`). Property equality is scoped by type (node.py:75-77):
  * two equal values under different property types are DIFFERENT nodes,
  * which the label encodes naturally.
  */
object KGraph {

  /** `User({id})` — node.py:43-44. */
  def userLabel(id: Column): Column = format_string("User(%s)", id)

  /** `Item({id})` — node.py:22-23. */
  def itemLabel(id: Column): Column = format_string("Item(%s)", id)

  /** `Property({value}, {type})` — node.py:65-66. */
  def propertyLabel(value: Column, propertyType: String): Column =
    format_string(s"Property(%s, $propertyType)", value)

  /** Relation label `rating{r}` where {r} is Python `str()` of the
    * rating (graph.py:90,122): integral doubles print with a trailing
    * `.0` (str(4.0) == "4.0"), non-integral print plainly. */
  def ratingRelation(rating: Column): Column =
    concat(lit("rating"),
      when(rating === rating.cast("long").cast("double"),
        concat(rating.cast("long").cast("string"), lit(".0")))
        .otherwise(rating.cast("string")))

  /** Rating triples (User, rating{r}, Item) — graph.py:111-125. */
  def ratingTriples(ratings: DataFrame): DataFrame =
    ratings.select(
      userLabel(col("user_id")).as("head"),
      ratingRelation(col("rating")).as("relation"),
      itemLabel(col("item_id")).as("tail"))

  /** Property triples: (Item, has, Property) or (User, is, Property) —
    * graph.py:89-107. `values` may be a string_list column (exploded). */
  def propertyTriples(entities: DataFrame, idCol: String, isUser: Boolean,
                      valueCol: String, propertyType: String): DataFrame = {
    val head = if (isUser) userLabel(col(idCol)) else itemLabel(col(idCol))
    val rel = if (isUser) "is" else "has"
    entities
      .filter(col(valueCol).isNotNull)
      .select(head.as("head"), lit(rel).as("relation"),
        propertyLabel(col(valueCol), propertyType).as("tail"))
  }

  /** All triples = ratings ∪ user-props ∪ item-props (graph.py:79-109). */
  def allTriples(ratings: DataFrame, props: Seq[DataFrame]): DataFrame =
    props.foldLeft(ratingTriples(ratings))(_ unionByName _)

  /** Entity-column → Property-edge explosion (`_add_node_property`,
    * graph.py:246-257): each feature column value becomes a
    * Property(value, column) node; string_list columns fan out; null
    * and empty values are skipped. The construction the Experiment
    * CLI's enrich/extra_features channels feed into KGE `triples: all`
    * training — q174 puts it under the oracle gate.
    *
    * @return None when none of `cols` exist on `df` */
  def propertyEdges(df: DataFrame, idCol: String, isUser: Boolean,
                    cols: Seq[String]): Option[DataFrame] =
    cols.filter(df.columns.contains).map { f =>
      val vals = df.schema(f).dataType match {
        case _: org.apache.spark.sql.types.ArrayType => df.select(col(idCol), explode(col(f)).as("v"))
        case _ => df.select(col(idCol), col(f).cast("string").as("v"))
      }
      vals.filter(col("v").isNotNull && col("v") =!= "")
        .select(
          (if (isUser) userLabel(col(idCol)) else itemLabel(col(idCol))).as("src_label"),
          lit(if (isUser) "is" else "has").as("relation"),
          propertyLabel(col("v"), f).as("dst_label"))
    }.reduceOption(_ unionByName _)

  /** Bijective node-label -> dense-int relabeling, the Spark analogue of
    * `convert_node_labels_to_integer` (graph.py:168-191). Deterministic:
    * ids are the 0-based rank in the canonical label ordering, NOT
    * monotonically_increasing_id (SURVEY §1.3).
    *
    * Physical strategy: global sort (range-partitioned, parallel) + RDD
    * zipWithIndex, whose per-partition offsets come from one extra count
    * job — no single-partition stage at ANY cardinality. (An earlier
    * variant used a row_number window below a cardinality threshold;
    * that funnels the whole dimension through one task and spams
    * WindowExec warnings for zero benefit — at small cardinality both
    * formulations are sub-second, at large only this one survives.)
    * The RESULT comes back persisted and materialized (every caller
    * immediately joins it back from at least two sides); the
    * intermediate distinct set is released before returning, so one
    * relabel call pins exactly one node-dimension cache. Callers that
    * own the mapping's lifecycle should unpersist it when done (the
    * recommenders do, via fit-time unpersist or `release()`).
    */
  def relabel(labels: DataFrame): DataFrame = {
    val d = labels.distinct().persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sorted = d.orderBy("label")
    val schema = org.apache.spark.sql.types.StructType(
      sorted.schema.fields :+
        org.apache.spark.sql.types.StructField("node_id", org.apache.spark.sql.types.LongType, nullable = false))
    val out = sorted.sparkSession.createDataFrame(
      sorted.rdd.zipWithIndex().map { case (r, i) => org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i) },
      schema)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    d.unpersist(blocking = false)
    out
  }

  /** Most label-edge rows a recommender collects to train one fold on
    * the driver; past it the fold trains distributed. */
  val MaxDriverEdges: Long = 5000000L

  /** Most model floats a fold trains on the driver (KGE, SkipGram and
    * the MF trainers); past it the model trains distributed. */
  val MaxDriverParams: Long = 50000000L

  /** The string columns `cols` of `df` on the driver, one array per
    * column — or None when `df` has more than `maxRows` rows.
    *
    * The bound holds for the whole frame before any row leaves an
    * executor: a partition ships its rows only if they are at most its
    * share `maxRows / partitions`, and otherwise only its row count. So
    * one job never ships more than `maxRows` rows. When the counts sum
    * to at most `maxRows`, a second job fetches the partitions that went
    * over their share; an evenly partitioned frame needs one job. Equal
    * labels share one String instance per partition, so a task ships
    * each distinct label once. A local table (`Shim.localRows`) is read
    * in place, without a job. */
  def collectColumns(df: DataFrame, cols: Seq[String], maxRows: Long): Option[Array[Array[String]]] = {
    val width = cols.size
    collectBounded(df.select(cols.map(col): _*), maxRows) { it =>
      val interned = new java.util.HashMap[String, String]()
      val out = Array.fill(width)(scala.collection.mutable.ArrayBuffer.empty[String])
      it.foreach { r =>
        var c = 0
        while (c < width) {
          val s = r.getString(c)
          val prev = if (s == null) null else interned.putIfAbsent(s, s)
          out(c) += (if (prev == null) s else prev)
          c += 1
        }
      }
      out.map(_.toArray)
    }.map(parts => Array.tabulate(width)(c => parts.flatMap(_(c)).toArray))
  }

  /** The rows of `df` on the driver, under the same bound and in the same
    * jobs as [[collectColumns]] — or None when `df` has more than
    * `maxRows` rows. */
  def collectRows(df: DataFrame, maxRows: Long): Option[Array[Row]] =
    collectBounded(df, maxRows)(_.map(r => Row.fromSeq(r.toSeq)).toArray).map(_.flatten.toArray)

  /** Each partition's rows packed by `pack`, or None past `maxRows` rows
    * in all: the bounded scan behind [[collectColumns]]. */
  private def collectBounded[P](df: DataFrame, maxRows: Long)(pack: Iterator[Row] => P): Option[Seq[P]] =
    Shim.localRows(df) match {
      case Some(local) => if (local.size > maxRows) None else Some(Seq(pack(local.iterator)))
      case None => collectScan(df, maxRows)(pack)
    }

  private def collectScan[P](df: DataFrame, maxRows: Long)(pack: Iterator[Row] => P): Option[Seq[P]] = {
    val rows = df.rdd
    val share = maxRows / math.max(1, rows.getNumPartitions)
    // (rows seen, packed rows): nothing is packed past `keep` rows, and
    // counting stops once the partition alone is over `maxRows`
    val scan = (keep: Long) => (it: Iterator[Row]) => {
      var n = 0L
      val packed = pack(new Iterator[Row] {
        def hasNext: Boolean = n < keep && it.hasNext
        def next(): Row = { n += 1; it.next() }
      })
      while (it.hasNext && n <= maxRows) { it.next(); n += 1 }
      (n, if (n > keep) None else Some(packed))
    }
    val first = rows.mapPartitions(it => Iterator.single(scan(share)(it))).collect()
    if (first.iterator.map(_._1).sum > maxRows) None
    else {
      val over = first.indices.filter(p => first(p)._2.isEmpty)
      val refetched = if (over.isEmpty) Map.empty[Int, Option[P]]
        else over.zip(rows.sparkContext.runJob(rows, (it: Iterator[Row]) => scan(maxRows)(it)._2, over)).toMap
      val parts = first.indices.map(p => refetched.getOrElse(p, first(p)._2))
      // None only if a partition grew between the two jobs
      if (parts.exists(_.isEmpty)) None else Some(parts.flatten)
    }
  }

  /** [[relabel]] on the driver: the distinct labels of `columns` in
    * Spark's string order, so a label's index is the `node_id`
    * [[relabel]] would give it. Spark orders strings by their UTF-8
    * bytes (`UTF8String.compareTo`), which differs from
    * `String.compareTo`'s UTF-16 order once a label holds a character
    * above U+FFFF. */
  def localRelabel(columns: Array[String]*): Array[String] = {
    import org.apache.spark.unsafe.types.UTF8String
    val distinct = new java.util.HashSet[String]()
    columns.foreach(_.foreach(distinct.add))
    val keyed = distinct.toArray(new Array[String](0)).map(s => (UTF8String.fromString(s), s))
    java.util.Arrays.sort(keyed,
      (a: (UTF8String, String), b: (UTF8String, String)) => a._1.compareTo(b._1))
    keyed.map(_._2)
  }

  /** Replaces each label of a column by its index in `dictionary`. */
  def localEncoder(dictionary: Array[String]): Array[String] => Array[Int] = {
    val ids = new java.util.HashMap[String, Integer](dictionary.length * 2)
    dictionary.indices.foreach(i => ids.put(dictionary(i), i))
    column => column.map(label => ids.get(label).intValue)
  }

  /** `regexp_extract(label, "^<prefix>\((.*)\)$", 1)`, evaluated on the
    * driver: the id inside a `User(..)`/`Item(..)` label, or "" when the
    * pattern does not match. */
  def labelIdExtractor(prefix: String): String => String = {
    val pattern = java.util.regex.Pattern.compile(s"^$prefix\\((.*)\\)$$")
    label => {
      val m = pattern.matcher(label)
      if (m.find()) Option(m.group(1)).getOrElse("") else ""
    }
  }

  /** Edge-endpoint validation (J4, graph.py:293-302,309-314): keep only
    * edges whose endpoints exist in the node tables — two left-semi
    * joins, broadcast when dims are small. */
  def validateEdges(edges: DataFrame, users: DataFrame, items: DataFrame): DataFrame =
    edges
      .join(users.select("user_id"), Seq("user_id"), "left_semi")
      .join(items.select("item_id"), Seq("item_id"), "left_semi")
}
