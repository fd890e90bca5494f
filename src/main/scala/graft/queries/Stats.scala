package graft.queries

import graft.Tables
import Shared._
import org.apache.spark.sql.functions._

/** Sampling, quantiles, sketches and statistical tests. */
object Stats {

  val all: Seq[Query] = Seq(

    // Exact-count stratified sample: first 5 docs per lang under the
    // seeded-md5 total order (Sampling.stratifiedTake)
    Query("q80_stratified_sample", run = (s, dir) =>
      graft.util.Sampling.stratifiedTake(T(s, dir, "documents"), Seq("lang"),
          n = 5, seed = 11L, keyCols = Seq("doc_id"))
        .select(col("doc_id"), col("lang"), col("source")),
      // replay of Sampling.stratifiedTake(lang, 5, seed=11): row_number
      // under the seeded-md5 order, key-render tiebreak
      oracle = """SELECT doc_id, lang, source FROM (
        |  SELECT doc_id, lang, source,
        |    ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR) || '|' || '11'), CAST(doc_id AS VARCHAR)) AS rk
        |  FROM documents) WHERE rk <= 5""".stripMargin),

    // Per-group EXACT interpolated quantiles (Profile.groupQuantiles =
    // ANSI percentile_cont semantics, which DuckDB's quantile_cont
    // replays bit-for-bit under round-6)
    Query("q82_group_quantiles", run = (s, dir) =>
      graft.util.Profile.groupQuantiles(T(s, dir, "lineitem"),
          Seq("l_returnflag"), "l_extendedprice", Seq(0.25, 0.5, 0.75, 0.99))
        .select(col("l_returnflag"),
          round(col("q_25"), 6).as("p25"), round(col("q_50"), 6).as("p50"),
          round(col("q_75"), 6).as("p75"), round(col("q_99"), 6).as("p99")),
      // quantile_cont == Spark's percentile: both interpolate at
      // p*(n-1) with linear weights (ANSI percentile_cont)
      oracle = """SELECT l_returnflag,
        |  CAST(ROUND(quantile_cont(l_extendedprice, 0.25), 6) AS DOUBLE) AS p25,
        |  CAST(ROUND(quantile_cont(l_extendedprice, 0.50), 6) AS DOUBLE) AS p50,
        |  CAST(ROUND(quantile_cont(l_extendedprice, 0.75), 6) AS DOUBLE) AS p75,
        |  CAST(ROUND(quantile_cont(l_extendedprice, 0.99), 6) AS DOUBLE) AS p99
        |FROM lineitem GROUP BY 1""".stripMargin),

    // Tukey-fence outlier tagging per event type (Profile.iqrOutliers —
    // broadcast fences, corpus never shuffles); emits per-group counts
    // + the fences themselves so the quantile parity is under the hash
    Query("q83_iqr_outliers", run = (s, dir) =>
      graft.util.Profile.iqrOutliers(Tables.events(s, dir), Seq("event_type"), "value")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(when(col("is_outlier"), 1L).otherwise(0L)).as("n_outliers")),
      oracle = """WITH f AS (SELECT event_type AS g, quantile_cont(value, 0.25) AS q1,
        |             quantile_cont(value, 0.75) AS q3 FROM events GROUP BY 1)
        |SELECT t.event_type, COUNT(*) AS n,
        |  COUNT(*) FILTER (t.value < q1 - 1.5 * (q3 - q1) OR
        |                   t.value > q3 + 1.5 * (q3 - q1)) AS n_outliers
        |FROM events t JOIN f ON t.event_type = f.g
        |GROUP BY 1""".stripMargin),

    // Deterministic global shuffle into 8 training shards
    // (Sampling.shard): balanced md5-mod shard id + stable in-shard
    // position, independent of partitioning
    Query("q84_shard_assign", run = (s, dir) =>
      graft.util.Sampling.shard(T(s, dir, "documents"), nShards = 8, seed = 5L,
          keyCols = Seq("doc_id"))
        .select(col("doc_id"), col("shard"), col("shard_pos")),
      // replay of Sampling.shard(8, seed=5): md5 prefix as a 32-bit int
      // mod nShards; in-shard order by the full md5, key tiebreak
      oracle = """WITH h AS (SELECT doc_id,
        |             md5(CAST(doc_id AS VARCHAR) || '|' || '5') AS hh FROM documents)
        |SELECT doc_id,
        |  CAST(CAST(('0x' || substring(hh, 1, 8)) AS BIGINT) % 8 AS INT) AS shard,
        |  ROW_NUMBER() OVER (
        |    PARTITION BY CAST(('0x' || substring(hh, 1, 8)) AS BIGINT) % 8
        |    ORDER BY hh, CAST(doc_id AS VARCHAR)) AS shard_pos
        |FROM h""".stripMargin),

    // exact hot-token detection WITHOUT a full token shuffle: narrow
    // Misra-Gries candidate pass (capacity 30 < the 31-word vocab, so
    // the eviction path runs for real) + exact recount of candidates;
    // deterministic, so a plain GROUP BY/HAVING replays it
    Query("q117_heavy_hitters", run = (s, dir) => {
      val words = T(s, dir, "documents")
        .select(explode(split(lower(col("text")), " ")).as("w"))
        .filter(length(col("w")) > 0)
      graft.util.HeavyHitters.exact(words, "w", m = 30)
    },
      // the MG pass only proposes candidates; the answer is exactly
      // "count*(m+1) > n", which GROUP BY/HAVING states directly
      oracle = """WITH w AS (SELECT w FROM (SELECT UNNEST(string_split(lower(text), ' ')) AS w
        |                          FROM documents) WHERE len(w) > 0)
        |SELECT w AS key, COUNT(*) AS cnt FROM w GROUP BY 1
        |HAVING COUNT(*) * 31 > (SELECT COUNT(*) FROM w)""".stripMargin),

    // exact global quantile_cont WITHOUT a global sort: recursive
    // width_bucket range refinement (distributed selection) — skinny
    // per-slice aggregates, nothing corpus-sized sorted or collected
    // (tight nBuckets/sortThreshold so the RECURSIVE path — not the
    // small-subset sort endgame — is what the oracle pins at test SFs)
    Query("q160_global_percentile", run = (s, dir) =>
      graft.util.GlobalPercentile.quantileCont(
        T(s, dir, "lineitem"), "l_extendedprice", Seq(0.25, 0.5, 0.9, 0.99),
        nBuckets = 64, sortThreshold = 500L),
      // exact global percentiles: the INDEPENDENT builtin, not a replay
      // of the engine's selection algorithm (interpolation parity:
      // lo*(1-frac)+hi*frac, probed bit-equal)
      oracle = """SELECT CAST(0.25 AS DOUBLE) AS q,
        |       quantile_cont(l_extendedprice, 0.25) AS value FROM lineitem
        |UNION ALL SELECT 0.5, quantile_cont(l_extendedprice, 0.5) FROM lineitem
        |UNION ALL SELECT 0.9, quantile_cont(l_extendedprice, 0.9) FROM lineitem
        |UNION ALL SELECT 0.99, quantile_cont(l_extendedprice, 0.99) FROM lineitem""".stripMargin),

    // exact per-row global ECDF of the extended price — the q109 rank
    // decomposition as a public primitive: bucket-partitioned windows
    // only, never a corpus-wide single-partition sort
    Query("q167_global_ecdf", run = (s, dir) =>
      graft.util.GlobalRank.ecdf(
        T(s, dir, "lineitem").select("l_orderkey", "l_linenumber", "l_extendedprice"),
        "l_extendedprice", Seq(col("l_orderkey"), col("l_linenumber")))
        .select("l_orderkey", "l_linenumber", "l_extendedprice", "rn", "pct_e6"),
      // ECDF: the monolithic window form DuckDB can afford
      oracle = """SELECT l_orderkey, l_linenumber, l_extendedprice, rn,
        |       rn * 1000000 // n_total AS pct_e6
        |FROM (SELECT l_orderkey, l_linenumber, l_extendedprice,
        |        ROW_NUMBER() OVER (ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rn,
        |        COUNT(*) OVER () AS n_total
        |      FROM lineitem)""".stripMargin),

    // Efraimidis-Spirakis weighted reservoir: exactly 500 orders,
    // P(selected) ∝ o_totalprice — the md5-derived A-ES key quantized
    // to e-12 ints so the DuckDB replay is an exact-integer order;
    // bounded-heap combine, no global sort (plan spec-pinned)
    Query("q169_weighted_sample", run = (s, dir) =>
      graft.util.Sampling.weightedReservoir(
        T(s, dir, "orders"), n = 500, weightCol = "o_totalprice",
        keyCols = Seq("o_orderkey"), seed = 42L)
        .select("o_orderkey", "o_totalprice", "rank"),
      // A-ES weighted reservoir: the e-12-quantized ln(u)/w key is an
      // exact-integer order both engines compute identically (the md5 →
      // 52-bit uniform scheme of q31's portable hash)
      oracle = """WITH k AS (SELECT o_orderkey, o_totalprice,
        |  CAST(round(ln((('0x'||substr(md5(CAST(o_orderkey AS VARCHAR)||'|42'),1,13))::UBIGINT + 1)
        |       / 4503599627370497.0) / CAST(o_totalprice AS DOUBLE) * 1e12) AS BIGINT) AS key
        |  FROM orders WHERE o_totalprice > 0)
        |SELECT o_orderkey, o_totalprice,
        |       ROW_NUMBER() OVER (ORDER BY key DESC, o_orderkey) AS rank
        |FROM k QUALIFY rank <= 500""".stripMargin),

    // stratified A-ES: an independent 50-row weighted reservoir per
    // order priority (TopK heap combine — low-cardinality strata never
    // funnel the corpus through one task's window sort)
    Query("q170_weighted_sample_stratified", run = (s, dir) =>
      graft.util.Sampling.weightedReservoirByGroup(
        T(s, dir, "orders"), n = 50, weightCol = "o_totalprice",
        strataCols = Seq("o_orderpriority"), keyCols = Seq("o_orderkey"), seed = 7L)
        .select("o_orderpriority", "o_orderkey", "o_totalprice", "rank"),
      oracle = """WITH k AS (SELECT o_orderpriority, o_orderkey, o_totalprice,
        |  CAST(round(ln((('0x'||substr(md5(CAST(o_orderkey AS VARCHAR)||'|7'),1,13))::UBIGINT + 1)
        |       / 4503599627370497.0) / CAST(o_totalprice AS DOUBLE) * 1e12) AS BIGINT) AS key
        |  FROM orders WHERE o_totalprice > 0)
        |SELECT o_orderpriority, o_orderkey, o_totalprice,
        |       ROW_NUMBER() OVER (PARTITION BY o_orderpriority
        |                          ORDER BY key DESC, o_orderkey) AS rank
        |FROM k QUALIFY rank <= 50""".stripMargin),

    // grouped EXACT quantile_cont: the q160 recursive width_bucket
    // selection generalized to (group, value) — breadth-wise rounds
    // across all groups' slices, one job per round; sortThreshold
    // forced low so the refinement recursion is what the oracle gates
    Query("q173_grouped_quantiles", run = (s, dir) =>
      graft.util.GlobalPercentile.quantileContByGroup(
        T(s, dir, "lineitem"), Seq("l_returnflag", "l_linestatus"),
        "l_extendedprice", Seq(0.25, 0.5, 0.75, 0.9),
        nBuckets = 64, sortThreshold = 500L),
      // grouped quantile_cont: DuckDB's builtin list form, q cast to
      // DOUBLE so both engines render 0.9 identically
      oracle = """WITH g AS (SELECT l_returnflag, l_linestatus,
        |             quantile_cont(l_extendedprice, [0.25, 0.5, 0.75, 0.9]) AS vs
        |           FROM lineitem GROUP BY 1, 2)
        |SELECT l_returnflag, l_linestatus,
        |       CAST([0.25, 0.5, 0.75, 0.9][i] AS DOUBLE) AS q, vs[i] AS value
        |FROM g, UNNEST(generate_series(1, 4)) AS t(i)""".stripMargin),

    // HyperLogLog distinct (Flajolet 2007) — the md5-portable,
    // exact-integer-state variant: registers and the scaled harmonic
    // sum are pure ints both engines compute identically; est_e6 is
    // the one float, derived from those ints
    Query("q177_hll_distinct", run = (s, dir) =>
      graft.util.Sketches.hllEstimate(
        graft.util.Sketches.hllRegisters(
          T(s, dir, "lineitem"), Seq("l_orderkey"), b = 10, seed = 42L), b = 10),
      // HLL: identical md5 hash, bin()-length rho, exact scaled sum
      oracle = """WITH h AS (SELECT ('0x'||substr(md5(CAST(l_orderkey AS VARCHAR)||'|42'),1,13))::UBIGINT AS h
        |           FROM lineitem),
        |reg AS (SELECT h >> 42 AS idx,
        |        CASE WHEN (h & ((1::UBIGINT << 42) - 1)) = 0 THEN 43
        |             ELSE 42 - length(bin(h & ((1::UBIGINT << 42) - 1))) + 1 END AS rho
        |        FROM h),
        |regs AS (SELECT idx, MAX(rho) AS r FROM reg GROUP BY idx),
        |agg AS (SELECT COUNT(*) AS occ,
        |               SUM((1::UBIGINT << (43 - r))::HUGEINT) AS socc FROM regs),
        |est AS (SELECT 1024 AS m, CAST(1024 - occ AS BIGINT) AS n_zero,
        |        CAST(socc + (1024 - occ)::HUGEINT * (1::HUGEINT << 43) AS BIGINT) AS s_scaled
        |        FROM agg)
        |SELECT m, n_zero, s_scaled,
        |  CAST(round(CASE WHEN raw <= 2560.0 AND n_zero > 0
        |               THEN 1024.0 * ln(1024.0 / n_zero) ELSE raw END * 1e6) AS BIGINT) AS est_e6
        |FROM est, LATERAL (SELECT (0.7213 / (1.0 + 1.079/1024)) * 1024.0 * 1024.0
        |                          * 8796093022208.0 / CAST(s_scaled AS DOUBLE) AS raw)""".stripMargin),

    // Count-Min frequency estimates (Cormode-Muthukrishnan 2005) for
    // the low suppkeys — counters exact ints, est = min over depth
    Query("q178_cms_counts", run = (s, dir) => {
      val li = T(s, dir, "lineitem")
      graft.util.Sketches.cmsEstimate(
        graft.util.Sketches.cmsCounters(li, Seq("l_suppkey"), depth = 4,
          width = 512, seed = 7L),
        li.filter(col("l_suppkey") <= 20).select("l_suppkey").distinct(),
        Seq("l_suppkey"), depth = 4, width = 512, seed = 7L)
    },
      // CMS: same md5(key|row|seed) % width counters, min over rows
      oracle = """WITH c AS (SELECT j AS row,
        |    CAST(('0x'||substr(md5(CAST(l_suppkey AS VARCHAR)||'|'||CAST(j AS VARCHAR)||'|7'),1,13))::UBIGINT % 512 AS BIGINT) AS idx,
        |    COUNT(*) AS c
        |  FROM lineitem, UNNEST(generate_series(0, 3)) AS t(j) GROUP BY 1, 2),
        |q AS (SELECT DISTINCT l_suppkey FROM lineitem WHERE l_suppkey <= 20),
        |e AS (SELECT q.l_suppkey, j AS row,
        |    CAST(('0x'||substr(md5(CAST(q.l_suppkey AS VARCHAR)||'|'||CAST(j AS VARCHAR)||'|7'),1,13))::UBIGINT % 512 AS BIGINT) AS idx
        |  FROM q, UNNEST(generate_series(0, 3)) AS t(j))
        |SELECT e.l_suppkey, MIN(COALESCE(c.c, 0)) AS est
        |FROM e LEFT JOIN c USING (row, idx) GROUP BY 1""".stripMargin),

    // winsorization at exact per-group p05/p95 (deterministic clip
    // bounds from the grouped quantile selection), rolled up to
    // clip-rate + clipped-sum stats per group
    Query("q180_winsorize", run = (s, dir) => {
      val w = graft.util.GlobalPercentile.winsorizeByGroup(
        T(s, dir, "lineitem"), Seq("l_returnflag"), "l_extendedprice",
        loQ = 0.05, hiQ = 0.95, nBuckets = 64, sortThreshold = 500L)
      w.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(when(col("l_extendedprice") < col("l_extendedprice_lo"), 1L)
            .otherwise(0L)).as("n_clipped_lo"),
          sum(when(col("l_extendedprice") > col("l_extendedprice_hi"), 1L)
            .otherwise(0L)).as("n_clipped_hi"),
          round(max("l_extendedprice_lo"), 4).as("lo_bound"),
          round(max("l_extendedprice_hi"), 4).as("hi_bound"),
          round(sum("l_extendedprice_w"), 2).as("sum_w"))
    },
      // winsorize: DuckDB quantile_cont bounds + LEAST/GREATEST clip
      oracle = """WITH b AS (SELECT l_returnflag,
        |             quantile_cont(l_extendedprice, 0.05) AS lo,
        |             quantile_cont(l_extendedprice, 0.95) AS hi
        |           FROM lineitem GROUP BY 1)
        |SELECT l.l_returnflag, COUNT(*) AS n,
        |       CAST(SUM(CASE WHEN l_extendedprice < lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_lo,
        |       CAST(SUM(CASE WHEN l_extendedprice > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_hi,
        |       ROUND(MAX(lo), 4) AS lo_bound, ROUND(MAX(hi), 4) AS hi_bound,
        |       ROUND(SUM(LEAST(GREATEST(l_extendedprice, lo), hi)), 2) AS sum_w
        |FROM lineitem l JOIN b USING (l_returnflag) GROUP BY 1""".stripMargin),

    // sketched table profile — the 100 TB ANALYZE: per-column HLL
    // distinct estimates (bounded register state, one Expand-shaped
    // scan) next to plain nonnull/min/max; integer columns so the
    // string extrema render identically cross-engine
    Query("q181_profile_sketched", run = (s, dir) =>
      graft.util.Profile.profileSketched(T(s, dir, "lineitem"),
        Seq("l_orderkey", "l_partkey", "l_suppkey"), b = 10, seed = 42L),
      // sketched profile: the q177 HLL replay per exploded column
      oracle = """WITH src AS (
        |  SELECT u.col, u.v FROM lineitem,
        |  LATERAL (VALUES ('l_orderkey', CAST(l_orderkey AS VARCHAR)),
        |                  ('l_partkey', CAST(l_partkey AS VARCHAR)),
        |                  ('l_suppkey', CAST(l_suppkey AS VARCHAR))) AS u(col, v)
        |  WHERE u.v IS NOT NULL),
        |h AS (SELECT col, ('0x'||substr(md5(v||'|42'),1,13))::UBIGINT AS h FROM src),
        |reg AS (SELECT col, h >> 42 AS idx,
        |        CASE WHEN (h & ((1::UBIGINT << 42) - 1)) = 0 THEN 43
        |             ELSE 42 - length(bin(h & ((1::UBIGINT << 42) - 1))) + 1 END AS rho
        |        FROM h),
        |regs AS (SELECT col, idx, MAX(rho) AS r FROM reg GROUP BY 1, 2),
        |agg AS (SELECT col, COUNT(*) AS occ,
        |               SUM((1::UBIGINT << (43 - r))::HUGEINT) AS socc FROM regs GROUP BY 1),
        |est AS (SELECT col, CAST(1024 - occ AS BIGINT) AS n_zero,
        |        CAST(socc + (1024 - occ)::HUGEINT * (1::HUGEINT << 43) AS BIGINT) AS s_scaled
        |        FROM agg),
        |ee AS (SELECT col,
        |  CAST(round(CASE WHEN raw <= 2560.0 AND n_zero > 0
        |               THEN 1024.0 * ln(1024.0 / n_zero) ELSE raw END * 1e6) AS BIGINT) AS distinct_est_e6
        |  FROM est, LATERAL (SELECT (0.7213 / (1.0 + 1.079/1024)) * 1024.0 * 1024.0
        |                            * 8796093022208.0 / CAST(s_scaled AS DOUBLE) AS raw)),
        |stats AS (SELECT col, COUNT(*) AS nonnull, MIN(v) AS min_s, MAX(v) AS max_s
        |          FROM src GROUP BY 1)
        |SELECT stats.col, nonnull, min_s, max_s, distinct_est_e6
        |FROM stats JOIN ee USING (col)""".stripMargin),

    // Hampel-filter outliers (median/MAD robust z) per event type —
    // exact fences from the grouped quantile selection, twice
    Query("q184_mad_outliers", run = (s, dir) =>
      graft.util.GlobalPercentile.madOutliersByGroup(
        Tables.events(s, dir).select("event_type", "value"),
        Seq("event_type"), "value", k = 3.5, nBuckets = 64, sortThreshold = 500L)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(when(col("is_outlier"), 1L).otherwise(0L)).as("n_outliers"),
          round(max("__med"), 4).as("med"),
          round(max("__mad"), 4).as("mad")),
      // Hampel: DuckDB medians + the same left-assoc fence expression
      oracle = """WITH m AS (SELECT event_type, quantile_cont(value, 0.5) AS med
        |           FROM events GROUP BY 1),
        |d AS (SELECT e.event_type, abs(e.value - m.med) AS dev, m.med
        |      FROM events e JOIN m USING (event_type)),
        |md AS (SELECT event_type, quantile_cont(dev, 0.5) AS mad FROM d GROUP BY 1)
        |SELECT d.event_type, COUNT(*) AS n,
        |       CAST(SUM(CASE WHEN (CASE WHEN md.mad = 0 THEN d.dev > 0
        |                   ELSE d.dev > 3.5 * 1.4826 * md.mad END)
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |       ROUND(MAX(d.med), 4) AS med, ROUND(MAX(md.mad), 4) AS mad
        |FROM d JOIN md USING (event_type) GROUP BY 1""".stripMargin),

    // incremental quantile maintenance: the DDSketch-style pure-integer
    // log-bucket sketch (util/QuantileSketch) refreshed through two
    // delta batches — counts add per bucket, so refresh == from-scratch
    // exactly, which is what the DuckDB oracle recomputes; percentile
    // read is nearest-rank over the per-group bucket rollup
    Query("q189_incremental_quantiles", run = (s, dir) => {
      import graft.util.QuantileSketch
      val li = T(s, dir, "lineitem").select(col("l_partkey"),
        expr("cast(round(l_extendedprice * 100) as bigint)").as("cents"),
        expr("unix_millis(cast(l_shipdate as timestamp)) div 86400000").as("ship_day"))
      val grp = Seq("l_partkey")
      val base = li.filter(col("ship_day") < 9496)
      val d1 = li.filter(col("ship_day") >= 9496 && col("ship_day") < 9862)
      val d2 = li.filter(col("ship_day") >= 9862)
      val s0 = QuantileSketch.state(base, grp, "cents", s = 5)
      val s1 = QuantileSketch.refresh(s0, d1, grp, "cents", s = 5)
      val s2 = QuantileSketch.refresh(s1, d2, grp, "cents", s = 5)
      QuantileSketch.quantiles(s2, grp, Seq(0.5, 0.9, 0.99), s = 5)
        .groupBy("l_partkey")
        .agg(max(when(col("q") === 0.5, col("value"))).as("p50_cents"),
          max(when(col("q") === 0.9, col("value"))).as("p90_cents"),
          max(when(col("q") === 0.99, col("value"))).as("p99_cents"))
    },
      oracle = quantileSketchSql(s = 5)),

    // sketch-based winsorization: the ONE-PASS approximate clip (q180
    // is the exact recursive sibling) — bounds are bucket
    // representatives from the q189 sketch, deterministic integers
    Query("q193_sketch_winsorize", run = (s, dir) => {
      val li = T(s, dir, "lineitem").select(col("l_partkey"),
        expr("cast(round(l_extendedprice * 100) as bigint)").as("cents"))
      graft.util.QuantileSketch.winsorizeByGroup(li, Seq("l_partkey"),
        "cents", 0.05, 0.95, s = 5)
        .groupBy("l_partkey")
        .agg(count(lit(1)).as("n"), sum("cents_w").as("sum_w"),
          min("cents_w").as("min_w"), max("cents_w").as("max_w"))
    },
      oracle = sketchWinsorizeSql(s = 5)),

    // HLL set-overlap: |A∩B| by inclusion–exclusion over register
    // unions (per-idx MAX) — 1996-vs-1997 customer-base overlap with
    // no exact distinct set ever materialized; same register algebra
    // as q177, so the whole derivation replays in DuckDB
    Query("q195_hll_overlap", run = (s, dir) => {
      val o = T(s, dir, "orders").select(col("o_custkey"),
        expr("year(cast(o_orderdate as timestamp))").as("y"))
      graft.util.Sketches.hllOverlap(
        o.filter(col("y") === 1996).select("o_custkey"),
        o.filter(col("y") === 1997).select("o_custkey"),
        Seq("o_custkey"), b = 10, seed = 42L)
    },
      // HLL overlap: the q177 register chain per side + union-by-max,
      // inclusion–exclusion in e6 integers
      oracle = """WITH src AS (SELECT o_custkey, EXTRACT(year FROM o_orderdate) AS y FROM orders),
        |ha AS (SELECT ('0x'||substr(md5(CAST(o_custkey AS VARCHAR)||'|42'),1,13))::UBIGINT AS h
        |       FROM src WHERE y = 1996),
        |hb AS (SELECT ('0x'||substr(md5(CAST(o_custkey AS VARCHAR)||'|42'),1,13))::UBIGINT AS h
        |       FROM src WHERE y = 1997),
        |rega AS (SELECT h >> 42 AS idx,
        |    MAX(CASE WHEN (h & ((1::UBIGINT << 42) - 1)) = 0 THEN 43
        |             ELSE 42 - length(bin(h & ((1::UBIGINT << 42) - 1))) + 1 END) AS r
        |  FROM ha GROUP BY 1),
        |regb AS (SELECT h >> 42 AS idx,
        |    MAX(CASE WHEN (h & ((1::UBIGINT << 42) - 1)) = 0 THEN 43
        |             ELSE 42 - length(bin(h & ((1::UBIGINT << 42) - 1))) + 1 END) AS r
        |  FROM hb GROUP BY 1),
        |regu AS (SELECT idx, MAX(r) AS r
        |         FROM (SELECT * FROM rega UNION ALL SELECT * FROM regb) GROUP BY 1),
        |regs AS (SELECT 'a' AS side, idx, r FROM rega
        |         UNION ALL SELECT 'b', idx, r FROM regb
        |         UNION ALL SELECT 'u', idx, r FROM regu),
        |agg AS (SELECT side, COUNT(*) AS occ,
        |               SUM((1::UBIGINT << (43 - r))::HUGEINT) AS socc FROM regs GROUP BY 1),
        |est AS (SELECT side, CAST(1024 - occ AS BIGINT) AS n_zero,
        |        CAST(socc + (1024 - occ)::HUGEINT * (1::HUGEINT << 43) AS BIGINT) AS s_scaled
        |        FROM agg),
        |e AS (SELECT side,
        |        CAST(round(CASE WHEN raw <= 2560.0 AND n_zero > 0
        |                     THEN 1024.0 * ln(1024.0 / n_zero) ELSE raw END * 1e6) AS BIGINT) AS est_e6
        |      FROM est, LATERAL (SELECT (0.7213 / (1.0 + 1.079/1024)) * 1024.0 * 1024.0
        |                                * 8796093022208.0 / CAST(s_scaled AS DOUBLE) AS raw))
        |SELECT MAX(CASE WHEN side = 'a' THEN est_e6 END) AS est_a_e6,
        |  MAX(CASE WHEN side = 'b' THEN est_e6 END) AS est_b_e6,
        |  MAX(CASE WHEN side = 'u' THEN est_e6 END) AS est_union_e6,
        |  MAX(CASE WHEN side = 'a' THEN est_e6 END)
        |    + MAX(CASE WHEN side = 'b' THEN est_e6 END)
        |    - MAX(CASE WHEN side = 'u' THEN est_e6 END) AS est_inter_e6
        |FROM e""".stripMargin),

    // KMV set algebra (Beyer et al. 2007): the churn question q195's
    // HLL cannot answer — an ESTIMATED SET DIFFERENCE (customers who
    // ordered in 1996 but not 1997) from two bounded k-minimum-values
    // synopses; bounded-state custom Aggregator, ≤ k longs per
    // partition cross the shuffle
    Query("q196_kmv_set_diff", run = (s, dir) => {
      val o = T(s, dir, "orders").select(col("o_custkey"),
        expr("year(cast(o_orderdate as timestamp))").as("y"))
      graft.util.Kmv.setOps(
        o.filter(col("y") === 1996).select("o_custkey"),
        o.filter(col("y") === 1997).select("o_custkey"),
        Seq("o_custkey"), k = 512, seed = 42L)
    },
      // KMV set algebra: k smallest distinct md5-52 hashes per side are
      // deterministic, so the whole synopsis + every estimator replays
      // relationally (union synopsis via ORDER BY LIMIT, membership via
      // EXISTS semi-joins, the one double expression in matched
      // left-assoc order)
      oracle = """WITH src AS (SELECT o_custkey, EXTRACT(year FROM o_orderdate) AS y FROM orders),
        |ha AS (SELECT DISTINCT ('0x'||substr(md5(CAST(o_custkey AS VARCHAR)||'|42'),1,13))::UBIGINT AS h
        |       FROM src WHERE y = 1996),
        |hb AS (SELECT DISTINCT ('0x'||substr(md5(CAST(o_custkey AS VARCHAR)||'|42'),1,13))::UBIGINT AS h
        |       FROM src WHERE y = 1997),
        |ka AS (SELECT h FROM ha ORDER BY h LIMIT 512),
        |kb AS (SELECT h FROM hb ORDER BY h LIMIT 512),
        |ku AS (SELECT h FROM (SELECT h FROM ha UNION SELECT h FROM hb) ORDER BY h LIMIT 512),
        |stats AS (SELECT
        |    (SELECT COUNT(*) FROM ka) AS n_a, (SELECT MAX(h) FROM ka) AS hk_a,
        |    (SELECT COUNT(*) FROM kb) AS n_b, (SELECT MAX(h) FROM kb) AS hk_b,
        |    (SELECT COUNT(*) FROM ku) AS n_u, (SELECT MAX(h) FROM ku) AS hk_u,
        |    (SELECT COUNT(*) FROM ku u
        |     WHERE EXISTS(SELECT 1 FROM ka WHERE ka.h = u.h)
        |       AND EXISTS(SELECT 1 FROM kb WHERE kb.h = u.h)) AS ki,
        |    (SELECT COUNT(*) FROM ku u
        |     WHERE EXISTS(SELECT 1 FROM ka WHERE ka.h = u.h)
        |       AND NOT EXISTS(SELECT 1 FROM kb WHERE kb.h = u.h)) AS kd),
        |e AS (SELECT *,
        |    CASE WHEN n_a < 512 THEN CAST(n_a AS DOUBLE) * 1e6
        |         ELSE 511e0 * 4503599627370496e0 / CAST(hk_a AS DOUBLE) * 1e6 END AS ea,
        |    CASE WHEN n_b < 512 THEN CAST(n_b AS DOUBLE) * 1e6
        |         ELSE 511e0 * 4503599627370496e0 / CAST(hk_b AS DOUBLE) * 1e6 END AS eb,
        |    CASE WHEN n_u < 512 THEN CAST(n_u AS DOUBLE) * 1e6
        |         ELSE 511e0 * 4503599627370496e0 / CAST(hk_u AS DOUBLE) * 1e6 END AS eu
        |  FROM stats)
        |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        |  CAST(n_u AS BIGINT) AS n_u,
        |  CAST(round(ea) AS BIGINT) AS est_a_e6,
        |  CAST(round(eb) AS BIGINT) AS est_b_e6,
        |  CAST(round(eu) AS BIGINT) AS est_union_e6,
        |  CAST(ki AS BIGINT) AS k_inter,
        |  CASE WHEN n_u > 0
        |       THEN CAST(round(CAST(ki AS DOUBLE) / CAST(n_u AS DOUBLE) * eu) AS BIGINT)
        |       ELSE 0 END AS est_inter_e6,
        |  CAST(kd AS BIGINT) AS k_diff,
        |  CASE WHEN n_u > 0
        |       THEN CAST(round(CAST(kd AS DOUBLE) / CAST(n_u AS DOUBLE) * eu) AS BIGINT)
        |       ELSE 0 END AS est_diff_e6
        |FROM e""".stripMargin),

    // grouped KMV: per-language vocabulary-size estimates — the
    // grouped form of q196's synopsis (one map-side-combined aggregate,
    // ≤ k longs per (partition, group)); k=16 < per-lang vocab so the
    // (k−1)·2^52/h_k estimator branch is live and oracle-replayed
    Query("q203_kmv_grouped_vocab", run = (s, dir) => {
      val words = T(s, dir, "documents")
        .select(col("lang"), explode(split(lower(col("text")), " ")).as("w"))
        .filter(length(col("w")) > 0)
      graft.util.Kmv.estimateGrouped(words, Seq("lang"), Seq("w"), k = 16, seed = 42L)
    },
      // grouped KMV: per-lang k-smallest distinct word hashes via
      // window rank, estimator in matched left-assoc double order
      oracle = """WITH w AS (SELECT lang, t AS word
        |           FROM documents, UNNEST(string_split(lower(text), ' ')) AS u(t)
        |           WHERE t != ''),
        |h AS (SELECT DISTINCT lang,
        |        ('0x'||substr(md5(word||'|42'),1,13))::UBIGINT AS h FROM w),
        |rk AS (SELECT lang, h, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h) AS r FROM h),
        |ks AS (SELECT lang, h FROM rk WHERE r <= 16),
        |agg AS (SELECT lang, COUNT(*) AS n_kept, MAX(h) AS hk FROM ks GROUP BY 1)
        |SELECT lang, CAST(n_kept AS BIGINT) AS n_kept,
        |  CAST(round(CASE WHEN n_kept < 16 THEN CAST(n_kept AS DOUBLE) * 1e6
        |                  ELSE 15e0 * 4503599627370496e0 / CAST(hk AS DOUBLE) * 1e6 END) AS BIGINT) AS est_e6
        |FROM agg""".stripMargin),

    // KMV churn riding the incremental-agg state (q114's surface +
    // q196's algebra): per-supplier part-catalog stats built from a
    // pre-1996 base and TWO yearly refreshes — the final state's
    // synopsis must equal from-scratch (merge law), and the churn
    // columns estimate parts NEW in 1997+ and parts DISCONTINUED
    // (seen before 1997, absent after) per supplier, a question the
    // HLL state (q114) structurally cannot answer
    Query("q205_kmv_churn", run = (s, dir) => {
      import graft.util.{IncrementalAgg, Kmv}
      val li = T(s, dir, "lineitem").select(col("l_suppkey"), col("l_partkey"),
        col("l_quantity").cast("long").as("qty"),
        expr("unix_millis(cast(l_shipdate as timestamp)) div 86400000").as("ship_day"))
      val grp = Seq("l_suppkey")
      val k = 16
      val base = li.filter(col("ship_day") < 9496).drop("ship_day")
      val d1 = li.filter(col("ship_day") >= 9496 && col("ship_day") < 9862).drop("ship_day")
      val d2 = li.filter(col("ship_day") >= 9862).drop("ship_day")
      val s0 = IncrementalAgg.stateWithKmv(base, grp, "qty", "l_partkey", k, 42L)
      // s1 feeds BOTH the s2 refresh and the churn comparison — but
      // measured A/B shows checkpointing it HURTS (18.5 → 28.5 CPU-s):
      // ReuseExchange already dedups the identical s1 subtrees, so the
      // barrier only breaks pipelining. Left shared-lazy deliberately
      // (contrast q213, where the duplicated subtree is NOT
      // exchange-deduped and the checkpoint wins 173 → 105 CPU-s).
      val s1 = IncrementalAgg.refreshWithKmv(s0, d1, grp, "qty", "l_partkey", k, 42L)
      val s2 = IncrementalAgg.refreshWithKmv(s1, d2, grp, "qty", "l_partkey", k, 42L)
      val ch = IncrementalAgg.kmvChurn(s1,
        IncrementalAgg.stateWithKmv(d2, grp, "qty", "l_partkey", k, 42L), grp, k)
      s2.select(col("l_suppkey"), col("n"), col("sum").as("sum_qty"),
          size(col("kmv")).cast("long").as("k_total"),
          round(Kmv.estE6(col("kmv"), k)).cast("long").as("est_total_e6"))
        .join(ch, grp)
    },
      // KMV churn: per-supplier period sketches via window rank over
      // distinct md5-52 hashes, union synopsis, EXISTS membership, the
      // estimator in matched left-assoc double order; exact n/sum from
      // the whole table (refresh == from-scratch)
      oracle = """WITH li AS MATERIALIZED (SELECT l_suppkey, l_partkey,
        |    CAST(l_quantity AS BIGINT) AS qty,
        |    CAST(epoch_ms(CAST(l_shipdate AS TIMESTAMP)) // 86400000 AS BIGINT) AS ship_day
        |  FROM lineitem),
        |ex AS (SELECT l_suppkey, COUNT(*) AS n, SUM(qty) AS sum_qty FROM li GROUP BY 1),
        |ha AS (SELECT DISTINCT l_suppkey,
        |        ('0x'||substr(md5(CAST(l_partkey AS VARCHAR)||'|42'),1,13))::UBIGINT AS h
        |       FROM li WHERE ship_day < 9862),
        |hb AS (SELECT DISTINCT l_suppkey,
        |        ('0x'||substr(md5(CAST(l_partkey AS VARCHAR)||'|42'),1,13))::UBIGINT AS h
        |       FROM li WHERE ship_day >= 9862),
        |ht AS (SELECT DISTINCT l_suppkey,
        |        ('0x'||substr(md5(CAST(l_partkey AS VARCHAR)||'|42'),1,13))::UBIGINT AS h
        |       FROM li),
        |ka AS (SELECT l_suppkey, h FROM
        |        (SELECT l_suppkey, h, ROW_NUMBER() OVER (PARTITION BY l_suppkey ORDER BY h) rn FROM ha)
        |       WHERE rn <= 16),
        |kb AS (SELECT l_suppkey, h FROM
        |        (SELECT l_suppkey, h, ROW_NUMBER() OVER (PARTITION BY l_suppkey ORDER BY h) rn FROM hb)
        |       WHERE rn <= 16),
        |kt AS (SELECT l_suppkey, h FROM
        |        (SELECT l_suppkey, h, ROW_NUMBER() OVER (PARTITION BY l_suppkey ORDER BY h) rn FROM ht)
        |       WHERE rn <= 16),
        |ku AS (SELECT l_suppkey, h FROM
        |        (SELECT l_suppkey, h, ROW_NUMBER() OVER (PARTITION BY l_suppkey ORDER BY h) rn
        |         FROM (SELECT l_suppkey, h FROM ka UNION SELECT l_suppkey, h FROM kb))
        |       WHERE rn <= 16),
        |m AS (SELECT u.l_suppkey, u.h,
        |        EXISTS(SELECT 1 FROM ka WHERE ka.l_suppkey = u.l_suppkey AND ka.h = u.h) AS ina,
        |        EXISTS(SELECT 1 FROM kb WHERE kb.l_suppkey = u.l_suppkey AND kb.h = u.h) AS inb
        |      FROM ku u),
        |ag AS (SELECT l_suppkey, COUNT(*) AS n_u, MAX(h) AS hk_u,
        |        COUNT(*) FILTER (WHERE inb AND NOT ina) AS k_new,
        |        COUNT(*) FILTER (WHERE ina AND NOT inb) AS k_lost
        |       FROM m GROUP BY 1),
        |sa AS (SELECT l_suppkey, COUNT(*) AS n_a, MAX(h) AS hk_a FROM ka GROUP BY 1),
        |sb AS (SELECT l_suppkey, COUNT(*) AS n_b, MAX(h) AS hk_b FROM kb GROUP BY 1),
        |st AS (SELECT l_suppkey, COUNT(*) AS n_t, MAX(h) AS hk_t FROM kt GROUP BY 1),
        |j AS (SELECT ex.l_suppkey, ex.n, ex.sum_qty,
        |        COALESCE(st.n_t, 0) AS n_t, st.hk_t,
        |        COALESCE(sa.n_a, 0) AS n_a, sa.hk_a,
        |        COALESCE(sb.n_b, 0) AS n_b, sb.hk_b,
        |        COALESCE(ag.n_u, 0) AS n_u, ag.hk_u,
        |        COALESCE(ag.k_new, 0) AS k_new, COALESCE(ag.k_lost, 0) AS k_lost
        |      FROM ex LEFT JOIN st USING (l_suppkey) LEFT JOIN sa USING (l_suppkey)
        |        LEFT JOIN sb USING (l_suppkey) LEFT JOIN ag USING (l_suppkey)),
        |e AS (SELECT *,
        |    CASE WHEN n_t < 16 THEN CAST(n_t AS DOUBLE) * 1e6
        |         ELSE 15e0 * 4503599627370496e0 / CAST(hk_t AS DOUBLE) * 1e6 END AS et,
        |    CASE WHEN n_a < 16 THEN CAST(n_a AS DOUBLE) * 1e6
        |         ELSE 15e0 * 4503599627370496e0 / CAST(hk_a AS DOUBLE) * 1e6 END AS ea,
        |    CASE WHEN n_b < 16 THEN CAST(n_b AS DOUBLE) * 1e6
        |         ELSE 15e0 * 4503599627370496e0 / CAST(hk_b AS DOUBLE) * 1e6 END AS eb,
        |    CASE WHEN n_u < 16 THEN CAST(n_u AS DOUBLE) * 1e6
        |         ELSE 15e0 * 4503599627370496e0 / CAST(hk_u AS DOUBLE) * 1e6 END AS eu
        |  FROM j)
        |SELECT l_suppkey, CAST(n AS BIGINT) AS n, CAST(sum_qty AS BIGINT) AS sum_qty,
        |  CAST(n_t AS BIGINT) AS k_total, CAST(round(et) AS BIGINT) AS est_total_e6,
        |  CAST(n_a AS BIGINT) AS k_h1, CAST(round(ea) AS BIGINT) AS est_h1_e6,
        |  CAST(n_b AS BIGINT) AS k_h2, CAST(round(eb) AS BIGINT) AS est_h2_e6,
        |  CAST(k_new AS BIGINT) AS k_new,
        |  CASE WHEN n_u > 0
        |       THEN CAST(round(CAST(k_new AS DOUBLE) / CAST(n_u AS DOUBLE) * eu) AS BIGINT)
        |       ELSE 0 END AS est_new_e6,
        |  CAST(k_lost AS BIGINT) AS k_lost,
        |  CASE WHEN n_u > 0
        |       THEN CAST(round(CAST(k_lost AS DOUBLE) / CAST(n_u AS DOUBLE) * eu) AS BIGINT)
        |       ELSE 0 END AS est_lost_e6
        |FROM e""".stripMargin),

    // one-pass Poisson bootstrap (Chamandy et al.): B=32 resampled
    // means of the per-flag price ride ONE aggregation — hash-derived
    // Poisson(1) weights from precomputed integer CDF thresholds,
    // exact-integer replica means, rank-based CI
    Query("q213_poisson_bootstrap", warm = true, run = (s, dir) => {
      val li = T(s, dir, "lineitem").select(col("l_returnflag"),
        col("l_orderkey"), col("l_linenumber"),
        expr("cast(round(l_extendedprice * 100) as bigint)").as("cents"))
      // reps feeds BOTH join sides: checkpoint it eagerly or the whole
      // ×32 explode + md5 ladder subtree evaluates twice (guide §2.4;
      // the q189 duplicated-subtree lesson). groups×32 rows — tiny.
      val reps = graft.util.PoissonBootstrap.replicaMeans(li,
        Seq("l_returnflag"), "cents", Seq("l_orderkey", "l_linenumber"),
        b = 32, seed = 42L).localCheckpoint(true)
      reps.join(graft.util.PoissonBootstrap.ci(reps, Seq("l_returnflag"),
        loRank = 2), Seq("l_returnflag"))
    },
      // Poisson bootstrap: hash-CDF weights, integer means, rank CI
      oracle = poissonBootstrapSql(b = 32, loRank = 2)),

    // Welch two-sample t over every variant pair: ONE moment
    // aggregation collapses the corpus, broadcast-sized pair join,
    // exact integer moments + a pinned float tail rounded once to e6
    Query("q221_welch_ttest", run = (s, dir) => {
      val ev = Tables.events(s, dir).select(col("event_type"),
          expr("cast(round(value * 100) as bigint)").as("cents"))
        .filter(col("cents").isNotNull)
      graft.util.AbTest.welch(ev, "event_type", "cents")
    },
      // Welch t: same moment table, same pinned float tree (one division
      // per exact ratio, one add, one sqrt), e6-rounded once
      oracle = """WITH m AS (SELECT event_type AS g, COUNT(*) AS n,
        |    CAST(SUM(cents) AS BIGINT) AS s,
        |    CAST(SUM(cents * cents) AS BIGINT) AS ss
        |  FROM (SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS cents
        |        FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL)
        |  GROUP BY 1 HAVING COUNT(*) >= 2)
        |SELECT a.g AS g1, b.g AS g2, a.n AS n1, b.n AS n2,
        |  a.s AS sum1, b.s AS sum2,
        |  CASE WHEN (CAST(a.n AS HUGEINT) * a.ss - CAST(a.s AS HUGEINT) * a.s) > 0
        |         OR (CAST(b.n AS HUGEINT) * b.ss - CAST(b.s AS HUGEINT) * b.s) > 0 THEN
        |    CAST(ROUND(((a.s / a.n) - (b.s / b.n)) / sqrt(
        |      (CAST(a.n AS HUGEINT) * a.ss - CAST(a.s AS HUGEINT) * a.s)
        |        / (CAST(a.n AS HUGEINT) * a.n * (a.n - 1))
        |      + (CAST(b.n AS HUGEINT) * b.ss - CAST(b.s AS HUGEINT) * b.s)
        |        / (CAST(b.n AS HUGEINT) * b.n * (b.n - 1))) * 1e6) AS BIGINT)
        |  END AS t_e6,
        |  CASE WHEN (CAST(a.n AS HUGEINT) * a.ss - CAST(a.s AS HUGEINT) * a.s) > 0
        |         OR (CAST(b.n AS HUGEINT) * b.ss - CAST(b.s AS HUGEINT) * b.s) > 0 THEN
        |    CAST(ROUND((
        |      ((CAST(a.n AS HUGEINT) * a.ss - CAST(a.s AS HUGEINT) * a.s)
        |         / (CAST(a.n AS HUGEINT) * a.n * (a.n - 1))
        |       + (CAST(b.n AS HUGEINT) * b.ss - CAST(b.s AS HUGEINT) * b.s)
        |         / (CAST(b.n AS HUGEINT) * b.n * (b.n - 1)))
        |      * ((CAST(a.n AS HUGEINT) * a.ss - CAST(a.s AS HUGEINT) * a.s)
        |         / (CAST(a.n AS HUGEINT) * a.n * (a.n - 1))
        |       + (CAST(b.n AS HUGEINT) * b.ss - CAST(b.s AS HUGEINT) * b.s)
        |         / (CAST(b.n AS HUGEINT) * b.n * (b.n - 1)))
        |    ) / (
        |      ((CAST(a.n AS HUGEINT) * a.ss - CAST(a.s AS HUGEINT) * a.s)
        |         / (CAST(a.n AS HUGEINT) * a.n * (a.n - 1)))
        |      * ((CAST(a.n AS HUGEINT) * a.ss - CAST(a.s AS HUGEINT) * a.s)
        |         / (CAST(a.n AS HUGEINT) * a.n * (a.n - 1))) / (a.n - 1)
        |      + ((CAST(b.n AS HUGEINT) * b.ss - CAST(b.s AS HUGEINT) * b.s)
        |         / (CAST(b.n AS HUGEINT) * b.n * (b.n - 1)))
        |      * ((CAST(b.n AS HUGEINT) * b.ss - CAST(b.s AS HUGEINT) * b.s)
        |         / (CAST(b.n AS HUGEINT) * b.n * (b.n - 1))) / (b.n - 1)
        |    ) * 1e6) AS BIGINT)
        |  END AS df_e6
        |FROM m a JOIN m b ON a.g < b.g""".stripMargin)
  )

  /** DuckDB replay of [[graft.util.PoissonBootstrap]]: the identical
    * integer CDF-threshold ladder (single Scala source of truth), the
    * overflow-free integer mean decomposition, rank-based CI. */
  private def poissonBootstrapSql(b: Int, loRank: Int): String = {
    val kCase = graft.util.PoissonBootstrap.poissonCaseSql("h")
    s"""WITH x AS (SELECT l_returnflag AS g, l_orderkey, l_linenumber,
       |    CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents FROM lineitem),
       |rep AS (SELECT g, l_orderkey, l_linenumber, cents, r
       |        FROM x, UNNEST(generate_series(0, ${b - 1})) AS t(r)),
       |hh AS (SELECT g, r, cents,
       |    ('0x'||substr(md5(CAST(l_orderkey AS VARCHAR)||'|'||CAST(l_linenumber AS VARCHAR)
       |      ||'|'||CAST(r AS VARCHAR)||'|42'),1,13))::UBIGINT AS h
       |  FROM rep),
       |kk AS (SELECT g, r, cents, $kCase AS k FROM hh),
       |m AS (SELECT g, r, CAST(SUM(k) AS BIGINT) AS n_eff,
       |    CAST(CASE WHEN SUM(k) > 0 THEN
       |      (SUM(k*cents) // SUM(k)) * 1000000 + ((SUM(k*cents) % SUM(k)) * 1000000) // SUM(k)
       |    END AS BIGINT) AS mean_e6
       |  FROM kk GROUP BY 1, 2),
       |rk AS (SELECT *,
       |    ROW_NUMBER() OVER (PARTITION BY g ORDER BY mean_e6 ASC, r ASC) AS ra,
       |    ROW_NUMBER() OVER (PARTITION BY g ORDER BY mean_e6 DESC, r DESC) AS rd
       |  FROM m WHERE mean_e6 IS NOT NULL),
       |ci AS (SELECT g, COUNT(*) AS b_eff,
       |    CAST(MAX(CASE WHEN ra = $loRank THEN mean_e6 END) AS BIGINT) AS ci_lo_e6,
       |    CAST(MAX(CASE WHEN rd = $loRank THEN mean_e6 END) AS BIGINT) AS ci_hi_e6
       |  FROM rk GROUP BY 1)
       |SELECT m.g AS l_returnflag, m.r, m.n_eff, m.mean_e6,
       |       ci.b_eff, ci.ci_lo_e6, ci.ci_hi_e6
       |FROM m JOIN ci USING (g)""".stripMargin
  }

  /** DuckDB replay of [[graft.util.QuantileSketch.winsorizeByGroup]]:
    * the q189 bucket chain at qs (0.05, 0.95), representative bounds
    * joined back, NULL-guarded integer clip, exact-long aggregate. */
  private def sketchWinsorizeSql(s: Int): String = {
    val cap = 1L << s
    def posIdx(v: String) =
      s"""(CASE WHEN $v < $cap THEN $v
         |  ELSE CAST(length(bin($v)) - 1 - $s AS BIGINT) * $cap
         |       + ($v >> (length(bin($v)) - 1 - $s)) END)""".stripMargin
    def posRep(i: String) =
      s"""(CASE WHEN $i < ${2 * cap} THEN $i
         |  ELSE ((($i % $cap) + ${cap + 1}) << CAST($i // $cap - 1 AS INT)) - 1 END)""".stripMargin
    s"""WITH v AS (SELECT l_partkey, CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents
       |           FROM lineitem),
       |nn AS (SELECT l_partkey, cents FROM v WHERE cents IS NOT NULL),
       |b AS (SELECT l_partkey,
       |        CASE WHEN cents >= 0 THEN ${posIdx("cents")}
       |             ELSE -1 - ${posIdx("(- cents)")} END AS qb
       |      FROM nn),
       |st AS (SELECT l_partkey, qb, COUNT(*) AS cnt FROM b GROUP BY 1, 2),
       |tot AS (SELECT l_partkey, SUM(cnt) AS n FROM st GROUP BY 1),
       |cum AS (SELECT l_partkey, qb,
       |          SUM(cnt) OVER (PARTITION BY l_partkey ORDER BY qb) AS cum FROM st),
       |rk AS (SELECT l_partkey, q, CAST(FLOOR(q * (n - 1)) AS BIGINT) + 1 AS rk
       |       FROM tot CROSS JOIN (VALUES (0.05), (0.95)) t(q)),
       |sel AS (SELECT r.l_partkey, r.q, MIN(c.qb) AS qb
       |        FROM rk r JOIN cum c ON c.l_partkey = r.l_partkey AND c.cum >= r.rk
       |        GROUP BY 1, 2),
       |bounds AS (SELECT l_partkey,
       |    MAX(CASE WHEN q = 0.05 THEN val END) AS lo,
       |    MAX(CASE WHEN q = 0.95 THEN val END) AS hi
       |  FROM (SELECT l_partkey, q,
       |          CASE WHEN qb >= 0 THEN ${posRep("qb")}
       |               ELSE - ${posRep("(-1 - qb)")} END AS val
       |        FROM sel) GROUP BY 1)
       |SELECT v.l_partkey, COUNT(*) AS n,
       |  CAST(SUM(LEAST(GREATEST(v.cents, b2.lo), b2.hi)) AS BIGINT) AS sum_w,
       |  MIN(LEAST(GREATEST(v.cents, b2.lo), b2.hi)) AS min_w,
       |  MAX(LEAST(GREATEST(v.cents, b2.lo), b2.hi)) AS max_w
       |FROM v LEFT JOIN bounds b2 ON v.l_partkey = b2.l_partkey
       |GROUP BY 1""".stripMargin
  }
}
