package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Run and oracle helpers that more than one query family uses. A helper
  * only one family uses lives in that family's module. */
private[graft] object Shared {

  /** Per-run scratch root for the sink/roundtrip queries (q43, q44,
    * q50, q51, q88, q91, q93, q101). Keyed by pid (overridable with
    * SPARK_GRAFT_RUN_ID) so two concurrent Verify/Bench JVMs on one
    * machine can never clobber each other's sink mid-read — the r9
    * fixed `/tmp/graft_qNN` constants did exactly that. The oracle SQL
    * for the roundtrip queries interpolates the SAME value, and both
    * sides are emitted by the same JVM (Verify dumps oracle_sql.json),
    * so the DuckDB replay always reads this run's files. The dir must
    * therefore OUTLIVE the JVM (the driver replays the oracle after
    * Verify exits) — cleanup is the startup sweep of dead-pid siblings
    * in [[graft.util.Scratch.sweepStaleRuns]], not a shutdown hook. */
  val runScratch: String =
    s"/tmp/graft_run_${sys.env.getOrElse("SPARK_GRAFT_RUN_ID", ProcessHandle.current().pid().toString)}"

  def T(s: SparkSession, dir: String, name: String) = Tables.t(s, dir, name)

  val R = Tables.ratingsSql // "WITH ratings AS (...)"

  /** DuckDB CTE chain replaying [[graft.text.Dedup.minhashLsh]] exactly:
    * shingles → md5 → 48-bit x (digit-weighted hex parse, validated ==
    * Spark's conv(_,16,10)) → affine minhashes from the SAME
    * [[graft.text.Dedup.MinhashA]] constants → banded self-join →
    * count-based exact Jaccard. Ends with CTEs `sh` (doc_id, s), `cand`
    * (doc_a, doc_b) and `cnt`/`inter`; callers append the final select. */
  def minhashCtes(nBands: Int, rowsPerBand: Int,
                          src: String = "documents", lead: String = "WITH "): String = {
    import graft.text.Dedup.{MinhashA, MinhashP}
    val nHash = nBands * rowsPerBand
    val abValues = (0 until nHash).map(j => s"($j, ${MinhashA(j)})").mkString(", ")
    val keyCols = (0 until rowsPerBand)
      .map(r => s"MIN(m) FILTER (WHERE j % $rowsPerBand = $r) AS h${r + 1}")
      .mkString(", ")
    val keyEq = (1 to rowsPerBand).map(r => s"a.h$r = c.h$r").mkString(" AND ")
    s"""${lead}docs AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM $src),
       |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
       |       FROM docs, UNNEST(generate_series(1, len(w) - 2)) AS t(i) WHERE len(w) >= 3),
       |mh AS (SELECT doc_id, md5(s) AS h FROM sh),
       |xh AS (SELECT doc_id, CAST(SUM((strpos('0123456789abcdef', h[i]) - 1)
       |         * CAST(pow(16, 12 - i) AS BIGINT)) AS BIGINT) AS x
       |       FROM mh, UNNEST(generate_series(1, 12)) AS ti(i) GROUP BY doc_id, h),
       |mins AS (SELECT doc_id, ab.j, MIN((ab.a * x + ab.j) % $MinhashP) AS m
       |         FROM xh CROSS JOIN (VALUES $abValues) AS ab(j, a) GROUP BY 1, 2),
       |sig AS (SELECT doc_id, j // $rowsPerBand AS b, $keyCols
       |        FROM mins GROUP BY 1, 2),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
       |         FROM sig a JOIN sig c ON a.b = c.b AND $keyEq AND a.doc_id < c.doc_id),
       |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
       |inter AS (SELECT p.doc_a, p.doc_b, COUNT(*) AS ni
       |          FROM cand p JOIN sh x ON x.doc_id = p.doc_a
       |          JOIN sh y ON y.doc_id = p.doc_b AND y.s = x.s GROUP BY 1, 2)""".stripMargin
  }

  /** The q200/q202/q204 catalog pair: master records and a
    * deterministically dirtied copy (last name word dropped, ids
    * offset by 1e6). One definition of the catalog, the dirtied copy
    * and the blocking keys, so the top-1 (q200) and one-to-one (q202)
    * forms can never drift. */
  def erCatalog(s: org.apache.spark.sql.SparkSession,
                        dir: String): (DataFrame, DataFrame) = {
    val p = T(s, dir, "part")
    (p.select(col("p_partkey").as("left_id"), col("p_name").as("l_name"),
      col("p_brand").as("l_brand"), col("p_size").as("l_size")),
      p.select((col("p_partkey") + lit(1000000L)).as("right_id"),
        regexp_replace(col("p_name"), " [^ ]+$", "").as("r_name"),
        col("p_brand").as("r_brand"), col("p_size").as("r_size")))
  }

  /** The production blocking keys shared by q200/q202/q204:
    * (first name token, brand) and (brand, size) — both composite so
    * block sizes stay bounded as the table grows (a bare first-token key
    * has CONSTANT cardinality on this vocabulary: blocks grow linearly
    * with the table and candidates quadratically — measured 116 s at
    * sf0.1 before the tightening, ~15 s after).
    * compositeKey, not bare concat_ws: concat_ws SKIPS null args, so
    * a NULL name/brand/size would silently degrade to a partial key
    * and pair rows the oracle's NULL-rejecting AND-equality join
    * rejects; compositeKey is NULL-propagating and collision-free. */
  def erBlockKeys: Seq[(org.apache.spark.sql.Column, org.apache.spark.sql.Column)] = {
    import graft.text.EntityResolution.compositeKey
    Seq(
      (compositeKey(element_at(split(col("l_name"), " "), 1), col("l_brand")),
        compositeKey(element_at(split(col("r_name"), " "), 1), col("r_brand"))),
      (compositeKey(col("l_brand"), col("l_size")),
        compositeKey(col("r_brand"), col("r_size"))))
  }

  /** DuckDB from-scratch recompute of [[graft.util.QuantileSketch]]
    * (refresh == scratch is the sketch's algebra, so one full-table
    * replay checks every refresh step): the pure-integer log bucketing
    * via length(bin(v)) and shifts, cumulative rollup, nearest-rank
    * selection, representative recovery. */
  def quantileSketchSql(s: Int,
      srcSql: String = "SELECT l_partkey, CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents FROM lineitem WHERE l_extendedprice IS NOT NULL",
      grp: String = "l_partkey"): String = {
    val cap = 1L << s
    def posIdx(v: String) =
      s"""(CASE WHEN $v < $cap THEN $v
         |  ELSE CAST(length(bin($v)) - 1 - $s AS BIGINT) * $cap
         |       + ($v >> (length(bin($v)) - 1 - $s)) END)""".stripMargin
    def posRep(i: String) =
      s"""(CASE WHEN $i < ${2 * cap} THEN $i
         |  ELSE ((($i % $cap) + ${cap + 1}) << CAST($i // $cap - 1 AS INT)) - 1 END)""".stripMargin
    s"""WITH v AS ($srcSql),
       |b AS (SELECT $grp,
       |        CASE WHEN cents >= 0 THEN ${posIdx("cents")}
       |             ELSE -1 - ${posIdx("(- cents)")} END AS qb
       |      FROM v),
       |st AS (SELECT $grp, qb, COUNT(*) AS cnt FROM b GROUP BY 1, 2),
       |tot AS (SELECT $grp, SUM(cnt) AS n FROM st GROUP BY 1),
       |cum AS (SELECT $grp, qb,
       |          SUM(cnt) OVER (PARTITION BY $grp ORDER BY qb) AS cum FROM st),
       |rk AS (SELECT $grp, q, CAST(FLOOR(q * (n - 1)) AS BIGINT) + 1 AS rk
       |       FROM tot CROSS JOIN (VALUES (0.5), (0.9), (0.99)) t(q)),
       |sel AS (SELECT r.$grp, r.q, MIN(c.qb) AS qb
       |        FROM rk r JOIN cum c ON c.$grp = r.$grp AND c.cum >= r.rk
       |        GROUP BY 1, 2),
       |rv AS (SELECT $grp, q,
       |         CASE WHEN qb >= 0 THEN ${posRep("qb")}
       |              ELSE - ${posRep("(-1 - qb)")} END AS value
       |       FROM sel)
       |SELECT $grp,
       |  MAX(CASE WHEN q = 0.5 THEN value END) AS p50_cents,
       |  MAX(CASE WHEN q = 0.9 THEN value END) AS p90_cents,
       |  MAX(CASE WHEN q = 0.99 THEN value END) AS p99_cents
       |FROM rv GROUP BY 1""".stripMargin
  }
}
