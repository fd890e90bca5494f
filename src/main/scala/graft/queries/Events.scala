package graft.queries

import graft.Tables
import Shared._
import org.apache.spark.sql.functions._

/** The event log: windows, sessions, funnels, attribution, labels, trending and forecasting. */
object Events {

  val all: Seq[Query] = Seq(

    // streaming-equivalent tumbling window aggregation over events
    Query("q23_events_hourly", run = (s, dir) =>
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
        .select(unix_millis(col("w.start").cast("timestamp")).as("ws"),
          col("event_type"), col("n"), col("sum_value")),
      oracle = """SELECT epoch_ms(date_trunc('hour', ts)) AS ws, event_type,
        |  COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin),

    // F16/A5: JSON decode + null accounting over events.props
    Query("q30_json_props", run = (s, dir) =>
      Tables.events(s, dir)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .groupBy((col("k") % 10).as("k_mod"))
        .agg(count(lit(1)).as("n"), count(when(col("k").isNull, 1)).as("n_null"),
          round(avg("value"), 4).as("avg_value")),
      oracle = """SELECT CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_mod,
        |  COUNT(*) AS n,
        |  COUNT(CASE WHEN json_extract_string(props, '$.k') IS NULL THEN 1 END) AS n_null,
        |  ROUND(AVG(value), 4) AS avg_value
        |FROM events GROUP BY 1""".stripMargin),

    // streaming-equivalent sliding window (2h window, 1h slide)
    Query("q32_events_sliding", run = (s, dir) =>
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "2 hours", "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
        .select(unix_millis(col("w.start").cast("timestamp")).as("ws"),
          col("event_type"), col("n"), col("sum_value")),
      oracle = """SELECT epoch_ms(date_trunc('hour', ts) - o * INTERVAL 1 HOUR) AS ws, event_type,
        |  COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
        |FROM events, UNNEST(generate_series(0, 1)) AS t(o)
        |GROUP BY 1, 2""".stripMargin),

    // batch gap-sessionization (window algebra form)
    Query("q35_sessionize", run = (s, dir) =>
      graft.stream.EventStreams.sessionizeBatch(Tables.events(s, dir), 30 * 60000L),
      oracle = """WITH e AS (SELECT user_id, event_id, value, epoch_ms(ts) AS ms FROM events),
        |g AS (SELECT user_id, event_id, value, ms,
        |  CASE WHEN ms - LAG(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) > 1800000
        |         OR LAG(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) IS NULL
        |       THEN 1 ELSE 0 END AS brk
        |  FROM e),
        |sid AS (SELECT user_id, value, ms,
        |  CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY ms, event_id
        |                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM g)
        |SELECT user_id, session_id, MIN(ms) AS session_start, MAX(ms) AS session_end,
        |  COUNT(*) AS n_events, ROUND(SUM(value), 4) AS total_value
        |FROM sid GROUP BY 1, 2""".stripMargin),

    // per-window top-k (batch form of the streaming top-k refresh)
    Query("q36_topk_per_window", run = (s, dir) =>
      graft.stream.EventStreams.topKPerWindow(Tables.events(s, dir), "6 hours", 3),
      oracle = """WITH w AS (SELECT epoch_ms(time_bucket(INTERVAL 6 HOURS, ts)) AS ws, user_id,
        |                  COUNT(*) AS n_events
        |           FROM events GROUP BY 1, 2)
        |SELECT ws, user_id, n_events, rank FROM (
        |  SELECT ws, user_id, n_events,
        |         ROW_NUMBER() OVER (PARTITION BY ws ORDER BY n_events DESC, user_id) AS rank
        |  FROM w) WHERE rank <= 3""".stripMargin),

    // exposure→outcome interval label join (view→click attribution
    // within 30 min) — batch form of the watermarked stream-stream join;
    // StreamingAndPipelineSpec pins stream == batch on the same pairs
    Query("q56_label_join", run = (s, dir) => {
      val ev = Tables.events(s, dir)
      graft.stream.EventStreams.labelJoin(
        ev.filter(col("event_type") === "view"),
        ev.filter(col("event_type") === "click"), "30 minutes")
    },
      oracle = """SELECT e.event_id AS exposure_id, o.event_id AS outcome_id, e.user_id,
        |       epoch_ms(o.ts) - epoch_ms(e.ts) AS lag_ms
        |FROM (SELECT * FROM events WHERE event_type = 'view') e
        |JOIN (SELECT * FROM events WHERE event_type = 'click') o
        |  ON e.user_id = o.user_id
        | AND o.ts > e.ts AND o.ts <= e.ts + INTERVAL 30 MINUTE""".stripMargin),

    // training-set assembly over the label join: one row per exposure,
    // binary label, match count, earliest-outcome lag (null on negatives)
    Query("q57_labeled_exposures", run = (s, dir) => {
      val ev = Tables.events(s, dir)
      graft.stream.EventStreams.labeledExposures(
        ev.filter(col("event_type") === "view"),
        ev.filter(col("event_type") === "click"), "30 minutes")
    },
      oracle = """WITH pairs AS (
        |  SELECT e.event_id AS exposure_id, COUNT(*) AS n_outcomes,
        |         MIN(epoch_ms(o.ts) - epoch_ms(e.ts)) AS first_lag_ms
        |  FROM (SELECT * FROM events WHERE event_type = 'view') e
        |  JOIN (SELECT * FROM events WHERE event_type = 'click') o
        |    ON e.user_id = o.user_id
        |   AND o.ts > e.ts AND o.ts <= e.ts + INTERVAL 30 MINUTE
        |  GROUP BY 1)
        |SELECT v.event_id AS exposure_id, v.user_id, epoch_ms(v.ts) AS exp_ms,
        |       CASE WHEN p.n_outcomes IS NULL THEN 0 ELSE 1 END AS label,
        |       COALESCE(p.n_outcomes, 0) AS n_outcomes, p.first_lag_ms
        |FROM (SELECT * FROM events WHERE event_type = 'view') v
        |LEFT JOIN pairs p ON p.exposure_id = v.event_id""".stripMargin),

    // negative downsampling over the labeled exposures: class-0 rows
    // hash-Bernoulli'd at 50%, positives untouched — deterministic
    // (md5-prefix threshold), shuffle-free, oracle-replayable
    Query("q58_downsample_negatives", run = (s, dir) => {
      val ev = Tables.events(s, dir)
      val labeled = graft.stream.EventStreams.labeledExposures(
        ev.filter(col("event_type") === "view"),
        ev.filter(col("event_type") === "click"), "30 minutes")
      graft.util.Sampling.downsampleClass(
        labeled, "label", 0, keep = 0.5, seed = 42L, keyCols = Seq("exposure_id"))
    },
      // same labeled CTE as q57, then the md5-prefix Bernoulli gate on
      // class 0: floor(0.5 * 2^32) = 0x80000000
      oracle = """WITH pairs AS (
        |  SELECT e.event_id AS exposure_id, COUNT(*) AS n_outcomes,
        |         MIN(epoch_ms(o.ts) - epoch_ms(e.ts)) AS first_lag_ms
        |  FROM (SELECT * FROM events WHERE event_type = 'view') e
        |  JOIN (SELECT * FROM events WHERE event_type = 'click') o
        |    ON e.user_id = o.user_id
        |   AND o.ts > e.ts AND o.ts <= e.ts + INTERVAL 30 MINUTE
        |  GROUP BY 1),
        |labeled AS (
        |  SELECT v.event_id AS exposure_id, v.user_id, epoch_ms(v.ts) AS exp_ms,
        |         CASE WHEN p.n_outcomes IS NULL THEN 0 ELSE 1 END AS label,
        |         COALESCE(p.n_outcomes, 0) AS n_outcomes, p.first_lag_ms
        |  FROM (SELECT * FROM events WHERE event_type = 'view') v
        |  LEFT JOIN pairs p ON p.exposure_id = v.event_id)
        |SELECT * FROM labeled
        |WHERE label <> 0
        |   OR substring(md5(CAST(exposure_id AS VARCHAR) || '|42'), 1, 8) < '80000000'""".stripMargin),

    // Backward as-of join: each click enriched with the user's most
    // recent prior-or-equal purchase (AsofJoin.asofBackward — union +
    // one keyed window, zero join nodes). Oracled by DuckDB's native
    // ASOF LEFT JOIN; equal-ts purchase dups deduped to max event_id on
    // both sides so both engines pick the same row.
    Query("q77_asof_join", run = (s, dir) => {
      val ev = Tables.events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      graft.util.AsofJoin.asofBackward(clicks, purchases, Seq("user_id"),
          "ts", "ts", Seq("event_id", "value"), "event_id")
        .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("ts_ms"),
          col("asof_event_id").as("purchase_id"),
          round(col("asof_value"), 4).as("purchase_value"),
          (unix_millis(col("ts")) - unix_millis(col("asof_ts"))).as("lag_ms"))
    },
      // independent replay via DuckDB's native ASOF LEFT JOIN (the engine
      // side never builds a join at all — union + window carry)
      oracle = """WITH c AS (SELECT user_id, event_id, ts, value FROM events WHERE event_type = 'click'),
        |p0 AS (SELECT user_id, event_id, ts, value FROM events WHERE event_type = 'purchase'),
        |p AS (SELECT * FROM p0
        |      QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) = 1)
        |SELECT c.user_id, c.event_id, epoch_ms(c.ts) AS ts_ms,
        |  p.event_id AS purchase_id, ROUND(p.value, 4) AS purchase_value,
        |  epoch_ms(c.ts) - epoch_ms(p.ts) AS lag_ms
        |FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts""".stripMargin),

    // The STATEFUL as-of kernel itself under the oracle gate: q77's
    // point-in-time semantics computed by EventStreams.asofEnrich
    // (flatMapGroupsWithState) in batch mode instead of the union+window
    // kernel — same DuckDB ASOF oracle, so the state-machine path is
    // hash-checked, not just spec-checked
    Query("q87_asof_stateful", run = (s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
        .as[graft.stream.EventStreams.Event]
      graft.stream.EventStreams.asofEnrich(ev, "click", "purchase").toDF()
        .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("ts_ms"),
          col("asof_event_id").as("purchase_id"),
          round(col("asof_value"), 4).as("purchase_value"),
          (unix_millis(col("ts")) - unix_millis(col("asof_ts"))).as("lag_ms"))
    },
      // q87 = the same point-in-time semantics through the stateful
      // kernel; identical oracle
      oracle = """WITH c AS (SELECT user_id, event_id, ts, value FROM events WHERE event_type = 'click'),
        |p0 AS (SELECT user_id, event_id, ts, value FROM events WHERE event_type = 'purchase'),
        |p AS (SELECT * FROM p0
        |      QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) = 1)
        |SELECT c.user_id, c.event_id, epoch_ms(c.ts) AS ts_ms,
        |  p.event_id AS purchase_id, ROUND(p.value, 4) AS purchase_value,
        |  epoch_ms(c.ts) - epoch_ms(p.ts) AS lag_ms
        |FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts""".stripMargin),

    // view -> click -> purchase conversion funnel (strict-order
    // progression, one shuffle + per-user sorted walk)
    Query("q129_funnel", run = (s, dir) =>
      graft.stream.Funnel.windowFunnel(
        Tables.events(s, dir).withColumn("ts_ms", unix_millis(col("ts"))),
        "user_id", "event_type", "ts_ms", Seq("view", "click", "purchase"))
        .select(col("user_id"), col("step0_ms").as("view_ms"),
          col("step1_ms").as("click_ms"), col("step2_ms").as("purchase_ms"),
          col("stage")),
      // unrolled min-after-min: step i's first completion is the MIN
      // step-i event strictly after step i-1's completion — equals the
      // Spark side's sorted-array walk (first qualifying event in
      // ascending order IS that min; slots never overwrite)
      oracle = funnelSql),

    // weekly cohort retention over the event log (pure epoch-week
    // buckets, one corpus shuffle)
    Query("q131_cohort_retention", run = (s, dir) =>
      graft.stream.Cohorts.retention(
        Tables.events(s, dir).withColumn("ts_ms", unix_millis(col("ts"))),
        "user_id", "ts_ms"),
      oracle = """WITH act AS (
        |  SELECT DISTINCT user_id, epoch_ms(ts) // 604800000 AS w FROM events),
        |coh AS (SELECT user_id, MIN(w) AS cw FROM act GROUP BY 1)
        |SELECT cw AS cohort_week, w - cw AS week_offset,
        |       CAST(COUNT(*) AS BIGINT) AS users
        |FROM act JOIN coh USING (user_id) GROUP BY 1, 2""".stripMargin),

    // session Markov transitions with ^/$ entry/exit states
    // (30-minute gap sessions, one exchange)
    Query("q132_session_transitions", run = (s, dir) =>
      graft.stream.Journeys.sessionTransitions(
        Tables.events(s, dir), gapMs = 1800000L),
      // same two chained windows; "next row starts a new session" is
      // the session-exit test (sessions are contiguous per-user runs)
      oracle = """WITH ev AS (SELECT user_id, event_id, event_type, epoch_ms(ts) AS ms FROM events),
        |s AS (SELECT user_id, event_id, event_type, ms,
        |        CASE WHEN ms - LAG(ms) OVER w > 1800000
        |               OR LAG(ms) OVER w IS NULL THEN 1 ELSE 0 END AS new
        |      FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)),
        |t AS (SELECT event_type AS f, new,
        |        LEAD(event_type) OVER w AS nt, LEAD(new) OVER w AS nn
        |      FROM s WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)),
        |edges AS (
        |  SELECT f AS from_type,
        |         CASE WHEN nn IS NULL OR nn = 1 THEN '$' ELSE nt END AS to_type
        |  FROM t
        |  UNION ALL
        |  SELECT '^', f FROM t WHERE new = 1)
        |SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
        |FROM edges GROUP BY 1, 2""".stripMargin),

    // hourly rate-burst flags per event type vs the trailing-24h
    // baseline (exact scaled integers; window on the skinny rollup)
    Query("q135_rate_bursts", run = (s, dir) =>
      graft.stream.Bursts.hourlyBursts(
        Tables.events(s, dir).withColumn("ts_ms", unix_millis(col("ts"))),
        "event_type", "ts_ms", baseline = 24, thresholdE4 = 30000L),
      // trailing window EXCLUDES the current hour (a burst can't
      // dilute its own baseline); partial baselines emit rate -1
      oracle = """WITH hourly AS (
        |  SELECT event_type, epoch_ms(ts) // 3600000 AS hour,
        |         CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2),
        |sc AS (
        |  SELECT event_type, hour, cnt,
        |         CAST(SUM(cnt) OVER w AS BIGINT) AS trail,
        |         COUNT(*) OVER w AS nw
        |  FROM hourly
        |  WINDOW w AS (PARTITION BY event_type ORDER BY hour
        |               ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
        |SELECT event_type, hour, cnt,
        |  CASE WHEN nw < 24 OR trail = 0 THEN -1
        |       ELSE cnt * 24 * 10000 // trail END AS rate_e4,
        |  CASE WHEN nw >= 24 AND trail > 0
        |            AND cnt * 24 * 10000 // trail >= 30000 THEN 1
        |       ELSE 0 END AS is_burst
        |FROM sc""".stripMargin),

    // the streaming funnel kernel run in batch mode (one group pass,
    // empty initial state == the q129 batch walk, same oracle)
    Query("q136_funnel_stateful", run = (s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
        .as[graft.stream.EventStreams.Event]
      graft.stream.Funnel.statefulProgress(ev, Seq("view", "click", "purchase")).toDF()
        .select(col("user_id"), col("slots")(0).as("view_ms"),
          col("slots")(1).as("click_ms"), col("slots")(2).as("purchase_ms"),
          col("stage"))
    },
      // the stateful kernel invoked in batch mode == the batch walk
      // (one group pass, empty initial state) — same replay
      oracle = funnelSql),

    // the q129 funnel under a 24h conversion horizon (ClickHouse
    // windowFunnel's `window`): steps 2..k must land within 24h of
    // the first view
    Query("q140_funnel_horizon", run = (s, dir) =>
      graft.stream.Funnel.windowFunnel(
        Tables.events(s, dir).withColumn("ts_ms", unix_millis(col("ts"))),
        "user_id", "event_type", "ts_ms", Seq("view", "click", "purchase"),
        horizonMs = Some(86400000L))
        .select(col("user_id"), col("step0_ms").as("view_ms"),
          col("step1_ms").as("click_ms"), col("step2_ms").as("purchase_ms"),
          col("stage")),
      // the horizon form: t2/t3 additionally bounded by t1 + 24h (the
      // anchor is the earliest view — greedy, same as the Spark walk)
      oracle = """WITH ev AS (SELECT user_id, epoch_ms(ts) AS ms, event_type AS et FROM events
        |            WHERE event_type IN ('view', 'click', 'purchase')),
        |s1 AS (SELECT user_id, MIN(ms) AS t1 FROM ev WHERE et = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, MIN(ms) AS t2 FROM ev e JOIN s1 USING (user_id)
        |       WHERE et = 'click' AND ms > t1 AND ms <= t1 + 86400000 GROUP BY 1),
        |s3 AS (SELECT e.user_id, MIN(ms) AS t3 FROM ev e JOIN s2 USING (user_id) JOIN s1 USING (user_id)
        |       WHERE et = 'purchase' AND ms > t2 AND ms <= t1 + 86400000 GROUP BY 1)
        |SELECT u.user_id,
        |       COALESCE(t1, -1) AS view_ms, COALESCE(t2, -1) AS click_ms,
        |       COALESCE(t3, -1) AS purchase_ms,
        |       CAST(t1 IS NOT NULL AS INT) + CAST(t2 IS NOT NULL AS INT)
        |         + CAST(t3 IS NOT NULL AS INT) AS stage
        |FROM (SELECT DISTINCT user_id FROM ev) u
        |LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
        |LEFT JOIN s3 USING (user_id)""".stripMargin),

    // last-touch attribution: each purchase credited to the latest
    // preceding view/click within a 6h lookback (as-of kernel — one
    // exchange, zero join nodes)
    Query("q141_attribution", run = (s, dir) =>
      graft.stream.Attribution.lastTouch(
        Tables.events(s, dir).withColumn("ts_ms", unix_millis(col("ts"))),
        convType = "purchase", touchTypes = Seq("view", "click"),
        lookbackMs = 21600000L),
      // DuckDB native ASOF LEFT JOIN replay (the q77 precedent) over
      // (user, ms)-collapsed touches; lookback applied post-match
      oracle = """WITH p AS (SELECT event_id, user_id, epoch_ms(ts) AS conversion_ms
        |           FROM events WHERE event_type = 'purchase'),
        |t AS (SELECT user_id, epoch_ms(ts) AS ms, MAX(event_id) AS touch_id,
        |             ARG_MAX(event_type, event_id) AS touch_type
        |      FROM events WHERE event_type IN ('view', 'click') GROUP BY 1, 2)
        |SELECT p.event_id, p.user_id, p.conversion_ms,
        |       CASE WHEN t.ms >= p.conversion_ms - 21600000 THEN t.touch_id END AS touch_id,
        |       CASE WHEN t.ms >= p.conversion_ms - 21600000 THEN t.touch_type END AS touch_type,
        |       CASE WHEN t.ms >= p.conversion_ms - 21600000 THEN t.ms END AS touch_ms
        |FROM p ASOF LEFT JOIN t
        |  ON p.user_id = t.user_id AND p.conversion_ms >= t.ms""".stripMargin),

    // multi-touch LINEAR attribution: every view/click within 6h of a
    // purchase shares its credit equally (exact 10⁶ div n) — the
    // (user, time-bin) equi-join form of the point-in-interval match
    Query("q154_linear_attribution", run = (s, dir) =>
      graft.stream.Attribution.linearTouch(
        Tables.events(s, dir).withColumn("ts_ms", unix_millis(col("ts"))),
        convType = "purchase", touchTypes = Seq("view", "click"),
        lookbackMs = 21600000L, binWidthMs = 21600000L),
      // linear attribution: the oracle affords the raw theta join; the
      // Spark side bins (user, time) — same matches exactly
      oracle = """WITH p AS (SELECT event_id, user_id, epoch_ms(ts) AS conversion_ms
        |           FROM events WHERE event_type = 'purchase'),
        |t AS (SELECT user_id, event_id AS touch_id, event_type AS touch_type,
        |             epoch_ms(ts) AS touch_ms
        |      FROM events WHERE event_type IN ('view', 'click')),
        |m AS (SELECT p.event_id, p.user_id, p.conversion_ms,
        |             t.touch_id, t.touch_type, t.touch_ms
        |      FROM p JOIN t ON p.user_id = t.user_id
        |        AND t.touch_ms BETWEEN p.conversion_ms - 21600000 AND p.conversion_ms),
        |n AS (SELECT event_id, COUNT(*) AS n FROM m GROUP BY 1)
        |SELECT m.event_id, m.user_id, m.conversion_ms, m.touch_id, m.touch_type,
        |       m.touch_ms, 1000000 // n.n AS credit_e6
        |FROM m JOIN n USING (event_id)""".stripMargin),

    // time-decay multi-touch attribution: per-touch weight 10^6 div
    // 2^(age div 1h) (exact power-of-two buckets, the q149 trick),
    // normalized per conversion — recent touches dominate
    Query("q159_timedecay_attribution", run = (s, dir) =>
      graft.stream.Attribution.timeDecayTouch(
        Tables.events(s, dir).withColumn("ts_ms", unix_millis(col("ts"))),
        convType = "purchase", touchTypes = Seq("view", "click"),
        lookbackMs = 21600000L, binWidthMs = 21600000L, halfLifeMs = 3600000L),
      // time-decay attribution: the q154 frame with power-of-two
      // half-life-bucket weights (`<<` exact on BIGINT both engines)
      oracle = """WITH p AS (SELECT event_id, user_id, epoch_ms(ts) AS conversion_ms
        |           FROM events WHERE event_type = 'purchase'),
        |t AS (SELECT user_id, event_id AS touch_id, event_type AS touch_type,
        |             epoch_ms(ts) AS touch_ms
        |      FROM events WHERE event_type IN ('view', 'click')),
        |m AS (SELECT p.event_id, p.user_id, p.conversion_ms,
        |             t.touch_id, t.touch_type, t.touch_ms,
        |             1000000 // (CAST(1 AS BIGINT) <<
        |               CAST(LEAST((p.conversion_ms - t.touch_ms) // 3600000, 40) AS INT)) AS w_e6
        |      FROM p JOIN t ON p.user_id = t.user_id
        |        AND t.touch_ms BETWEEN p.conversion_ms - 21600000 AND p.conversion_ms),
        |w AS (SELECT event_id, CAST(SUM(w_e6) AS BIGINT) AS tw FROM m GROUP BY 1)
        |SELECT m.event_id, m.user_id, m.conversion_ms, m.touch_id, m.touch_type,
        |       m.touch_ms, CAST(m.w_e6 AS BIGINT) AS w_e6,
        |       CASE WHEN w.tw > 0 THEN CAST(m.w_e6 * 1000000 // w.tw AS BIGINT)
        |            ELSE 0 END AS credit_e6
        |FROM m JOIN w USING (event_id)""".stripMargin),

    // streaming-trending serving path, batch form: per-(item, absolute
    // half-life bucket) counts with 41-bucket retention (the bounded
    // flatMapGroupsWithState state), then the exact integer decay
    // rollup — stream == batch spec-pinned under trigger slicing
    Query("q163_trending_buckets", run = (s, dir) =>
      graft.stream.StreamingTrending.trendingFromBuckets(
        graft.stream.StreamingTrending.bucketCountsBatch(
          Tables.ratings(s, dir).select("item_id", "ts"), 2592000000L, 41), 20),
      // bucketed trending: absolute half-life buckets, per-item newest-41
      // retention, bucket-index-age decay against the global max bucket
      oracle = (R +
      """, b AS (SELECT item_id, ts // 2592000000 AS bucket, COUNT(*) AS n
        |        FROM ratings GROUP BY 1, 2),
        |bm AS (SELECT item_id, MAX(bucket) AS mb FROM b GROUP BY 1),
        |kept AS (SELECT b.item_id, b.bucket, b.n FROM b JOIN bm USING (item_id)
        |         WHERE b.bucket > bm.mb - 41),
        |gm AS (SELECT MAX(bucket) AS g FROM kept)
        |SELECT item_id,
        |       CAST(SUM(n * (1000000 // (CAST(1 AS BIGINT) <<
        |         CAST(LEAST(g - bucket, 40) AS INT)))) AS BIGINT) AS score_e6,
        |       CAST(SUM(n) AS BIGINT) AS n
        |FROM kept, gm GROUP BY item_id
        |ORDER BY score_e6 DESC, item_id LIMIT 20""".stripMargin)),

    // composed streaming surface, batch form: sessionize → session-
    // count funnel (stage = min(ordinal, 3)) → half-life trending —
    // the stream form chains three fMGWS in ONE query (soak-pinned)
    Query("q175_session_funnel_trending", run = (s, dir) =>
      graft.stream.SessionFunnelTrending.batch(Tables.events(s, dir),
        gapMs = 30 * 60000L, maxStage = 3, halfLifeMs = 21600000L,
        keep = 41, k = 3),
      // composed sessionize → funnel → trending: q35's session CTEs,
      // stage = least(session ordinal, 3), q163's decay rollup
      oracle = """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ms FROM events),
        |g AS (SELECT user_id, event_id, ms,
        |  CASE WHEN ms - LAG(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) > 1800000
        |         OR LAG(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) IS NULL
        |       THEN 1 ELSE 0 END AS brk
        |  FROM e),
        |sid AS (SELECT user_id, ms,
        |  CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY ms, event_id
        |                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM g),
        |sess AS (SELECT user_id, session_id, MAX(ms) AS session_end
        |         FROM sid GROUP BY 1, 2),
        |msx AS (SELECT LEAST(session_id, 3) AS item_id, session_end AS ts FROM sess),
        |b AS (SELECT item_id, ts // 21600000 AS bucket, COUNT(*) AS n
        |      FROM msx GROUP BY 1, 2),
        |bm AS (SELECT item_id, MAX(bucket) AS mb FROM b GROUP BY 1),
        |kept AS (SELECT b.item_id, b.bucket, b.n FROM b JOIN bm USING (item_id)
        |         WHERE b.bucket > bm.mb - 41),
        |gm AS (SELECT MAX(bucket) AS g FROM kept)
        |SELECT item_id AS stage,
        |       CAST(SUM(n * (1000000 // (CAST(1 AS BIGINT) <<
        |         CAST(LEAST(g - bucket, 40) AS INT)))) AS BIGINT) AS score_e6,
        |       CAST(SUM(n) AS BIGINT) AS n
        |FROM kept, gm GROUP BY item_id
        |ORDER BY score_e6 DESC, stage LIMIT 3""".stripMargin),

    // Holt linear smoothing per event type over the dense daily count
    // series — level/trend/7-day forecast; the recursion is one
    // codegen'd aggregate HOF with the exact op sequence the DuckDB
    // recursive CTE replays (α=1/2, β=1/4, binary-exact)
    Query("q179_holt_forecast", run = (s, dir) =>
      graft.model.Forecast.holtLinear(Tables.events(s, dir), Seq("event_type"),
        unix_millis(col("ts").cast("timestamp")), bucketMs = 86400000L,
        horizon = 7),
      oracle = """WITH RECURSIVE
        |e AS (SELECT event_type, epoch_ms(ts) // 86400000 AS d FROM events),
        |mm AS (SELECT min(d) AS d0, max(d) AS d1 FROM e),
        |ks AS (SELECT DISTINCT event_type FROM e),
        |y AS (SELECT ks.event_type, t.i, CAST(COALESCE(c.cnt, 0) AS DOUBLE) AS y
        |      FROM ks CROSS JOIN mm
        |      CROSS JOIN UNNEST(generate_series(0, CAST(mm.d1 - mm.d0 AS INT))) AS t(i)
        |      LEFT JOIN (SELECT event_type, d, COUNT(*) AS cnt FROM e GROUP BY 1, 2) c
        |        ON c.event_type = ks.event_type AND c.d = mm.d0 + t.i),
        |tt AS (SELECT CAST(max(i) AS INT) AS tmax FROM y),
        |r AS (
        |  SELECT y0.event_type, 1 AS i, y1.y AS l, y1.y - y0.y AS b
        |  FROM y y0 JOIN y y1 ON y1.event_type = y0.event_type AND y1.i = 1
        |  WHERE y0.i = 0
        |  UNION ALL
        |  SELECT r.event_type, r.i + 1,
        |         0.5 * y.y + 0.5 * (r.l + r.b),
        |         0.25 * ((0.5 * y.y + 0.5 * (r.l + r.b)) - r.l) + 0.75 * r.b
        |  FROM r JOIN y ON y.event_type = r.event_type AND y.i = r.i + 1
        |  WHERE r.i < (SELECT tmax FROM tt))
        |SELECT event_type, (SELECT tmax FROM tt) + 1 AS n_buckets,
        |       ROUND(l, 4) AS level, ROUND(b, 4) AS trend,
        |       ROUND(l + 7.0 * b, 4) AS forecast
        |FROM r WHERE i = (SELECT tmax FROM tt)""".stripMargin),

    // two-sided CUSUM drift alarms per event type (Page 1954) —
    // baseline-mean target over the first 10 days, the q179
    // recursion-parity discipline
    Query("q187_cusum_alarms", run = (s, dir) =>
      graft.model.Forecast.cusum(Tables.events(s, dir), Seq("event_type"),
        unix_millis(col("ts").cast("timestamp")), bucketMs = 86400000L,
        baseline = 10, kappa = 3.0, h = 25.0),
      // CUSUM: the q179 recursive-CTE scheme with double-typed anchors
      oracle = """WITH RECURSIVE
        |e AS (SELECT event_type, epoch_ms(ts) // 86400000 AS d FROM events),
        |mm AS (SELECT min(d) AS d0, max(d) AS d1 FROM e),
        |ks AS (SELECT DISTINCT event_type FROM e),
        |y AS (SELECT ks.event_type, t.i, CAST(COALESCE(c.cnt, 0) AS DOUBLE) AS y
        |      FROM ks CROSS JOIN mm
        |      CROSS JOIN UNNEST(generate_series(0, CAST(mm.d1 - mm.d0 AS INT))) AS t(i)
        |      LEFT JOIN (SELECT event_type, d, COUNT(*) AS cnt FROM e GROUP BY 1, 2) c
        |        ON c.event_type = ks.event_type AND c.d = mm.d0 + t.i),
        |tt AS (SELECT CAST(max(i) AS INT) AS tmax FROM y),
        |mu AS (SELECT event_type, SUM(y) / 10.0 AS mu FROM y WHERE i < 10 GROUP BY 1),
        |r AS (
        |  SELECT y.event_type, 9 AS i,
        |         CAST(0.0 AS DOUBLE) AS shi, CAST(0.0 AS DOUBLE) AS slo, -1 AS alarm
        |  FROM y WHERE i = 0
        |  UNION ALL
        |  SELECT r.event_type, r.i + 1,
        |         greatest(0.0, r.shi + (y.y - mu.mu - 3.0)),
        |         greatest(0.0, r.slo + (mu.mu - 3.0 - y.y)),
        |         CASE WHEN r.alarm >= 0 THEN r.alarm
        |              WHEN greatest(0.0, r.shi + (y.y - mu.mu - 3.0)) > 25.0
        |                OR greatest(0.0, r.slo + (mu.mu - 3.0 - y.y)) > 25.0 THEN r.i + 1
        |              ELSE -1 END
        |  FROM r JOIN y ON y.event_type = r.event_type AND y.i = r.i + 1
        |  JOIN mu ON mu.event_type = r.event_type
        |  WHERE r.i < (SELECT tmax FROM tt))
        |SELECT r.event_type, (SELECT tmax FROM tt) + 1 AS n_buckets,
        |       ROUND(mu.mu, 4) AS mu, ROUND(shi, 4) AS s_hi, ROUND(slo, 4) AS s_lo,
        |       alarm AS first_alarm
        |FROM r JOIN mu USING (event_type) WHERE i = (SELECT tmax FROM tt)""".stripMargin),

    // streaming-quantiles serving path, batch form (the q163 scheme):
    // per-event-type value percentiles from the mergeable bucket
    // sketch the ingest-time flatMapGroupsWithState kernel maintains —
    // stream == batch spec-pinned under trigger slicing AND checkpoint
    // kill/resume (StreamingQuantilesSpec, CheckpointRecoverySpec)
    Query("q206_stream_quantiles", run = (s, dir) => {
      val ev = Tables.events(s, dir).select(col("event_type"),
          expr("cast(round(value * 100) as bigint)").as("cents"))
        .filter(col("cents").isNotNull)
      graft.util.QuantileSketch.quantiles(
          graft.stream.StreamingQuantiles.sketchBatch(ev, "event_type", "cents", 5),
          Seq("g"), Seq(0.5, 0.9, 0.99), 5)
        .groupBy(col("g").as("event_type"))
        .agg(max(when(col("q") === 0.5, col("value"))).as("p50_cents"),
          max(when(col("q") === 0.9, col("value"))).as("p90_cents"),
          max(when(col("q") === 0.99, col("value"))).as("p99_cents"))
    },
      // streaming quantiles: the same bucket-sketch chain over events
      // per event_type (stream == batch is spec-pinned; the oracle
      // replays the batch form, the q163 adjudication scheme)
      oracle = quantileSketchSql(s = 5,
      srcSql = "SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS cents " +
        "FROM events WHERE value IS NOT NULL",
      grp = "event_type")),

    // streaming distinct-count surface, batch form: per-(event_type ×
    // hour) unique-user HLL — register state ≤ 2^b per group forever;
    // StreamingDistinctSpec pins stream == batch registers under
    // trigger slicing and the JVM/SQL hash parity
    Query("q209_stream_distinct", run = (s, dir) => {
      val ev = Tables.events(s, dir).select(
        concat(col("event_type"), lit("|"),
          expr("cast(unix_millis(ts) div 3600000 as string)")).as("g"),
        col("user_id").cast("string").as("k"))
      graft.stream.StreamingDistinct.estimates(
        graft.stream.StreamingDistinct.registersBatch(ev, "g", "k", b = 6, seed = 42L),
        b = 6)
    },
      // streaming HLL distinct, batch twin: q177's register chain at
      // b = 6 grouped by (event_type × hour), alpha = 0.709
      oracle = """WITH src AS (SELECT event_type || '|' || CAST(epoch_ms(ts) // 3600000 AS VARCHAR) AS g,
        |                    CAST(user_id AS VARCHAR) AS k
        |             FROM events WHERE user_id IS NOT NULL),
        |h AS (SELECT g, ('0x'||substr(md5(k||'|42'),1,13))::UBIGINT AS h FROM src),
        |reg AS (SELECT g, h >> 46 AS idx,
        |        CASE WHEN (h & ((1::UBIGINT << 46) - 1)) = 0 THEN 47
        |             ELSE 46 - length(bin(h & ((1::UBIGINT << 46) - 1))) + 1 END AS rho
        |        FROM h),
        |regs AS (SELECT g, idx, MAX(rho) AS r FROM reg GROUP BY 1, 2),
        |agg AS (SELECT g, COUNT(*) AS occ,
        |               SUM((1::UBIGINT << (47 - r))::HUGEINT) AS socc FROM regs GROUP BY 1),
        |est AS (SELECT g, 64 AS m, CAST(64 - occ AS BIGINT) AS n_zero,
        |        CAST(socc + (64 - occ)::HUGEINT * (1::HUGEINT << 47) AS BIGINT) AS s_scaled
        |        FROM agg)
        |SELECT g, m, n_zero, s_scaled,
        |  CAST(round(CASE WHEN raw <= 160e0 AND n_zero > 0
        |               THEN 64e0 * ln(64e0 / n_zero) ELSE raw END * 1e6) AS BIGINT) AS est_e6
        |FROM est, LATERAL (SELECT 0.709e0 * 64e0 * 64e0 * 140737488355328e0
        |                          / CAST(s_scaled AS DOUBLE) AS raw)""".stripMargin),

    // streaming frequency surface, batch form: CMS counters +
    // overestimate-bounded per-event-type counts — StreamingCmsSpec
    // pins stream == batch counters under trigger slicing; completes
    // the streaming sketch family (q206 quantiles, q209 distinct)
    Query("q212_stream_cms", run = (s, dir) => {
      val ev = Tables.events(s, dir)
      graft.stream.StreamingCms.estimates(
        graft.stream.StreamingCms.countersBatch(ev, Seq("event_type"),
          depth = 4, width = 64, seed = 7L),
        ev.select("event_type").distinct(), Seq("event_type"),
        depth = 4, width = 64, seed = 7L)
    },
      // streaming CMS, batch twin: q178's counter chain over events
      oracle = """WITH c AS (SELECT j AS row,
        |    CAST(('0x'||substr(md5(event_type||'|'||CAST(j AS VARCHAR)||'|7'),1,13))::UBIGINT % 64 AS BIGINT) AS idx,
        |    COUNT(*) AS c
        |  FROM events, UNNEST(generate_series(0, 3)) AS t(j) GROUP BY 1, 2),
        |q AS (SELECT DISTINCT event_type FROM events),
        |e AS (SELECT q.event_type, j AS row,
        |    CAST(('0x'||substr(md5(q.event_type||'|'||CAST(j AS VARCHAR)||'|7'),1,13))::UBIGINT % 64 AS BIGINT) AS idx
        |  FROM q, UNNEST(generate_series(0, 3)) AS t(j))
        |SELECT e.event_type, MIN(COALESCE(c.c, 0)) AS est
        |FROM e LEFT JOIN c USING (row, idx) GROUP BY 1""".stripMargin),

    // Holt–Winters additive seasonal (q179's triple-exponential rung):
    // weekly period over daily buckets, textbook two-season init,
    // m-long rotating seasonal state inside one aggregate HOF —
    // replayed by a recursive CTE carrying the seasonal LIST
    Query("q214_holt_winters", run = (s, dir) =>
      graft.model.Forecast.holtWinters(Tables.events(s, dir), Seq("event_type"),
        unix_millis(col("ts").cast("timestamp")), bucketMs = 86400000L,
        m = 7, horizon = 7),
      // Holt recursion replayed as a recursive CTE, identical op order
      // Holt–Winters: the q179 dense-series CTEs + a recursive walk
      // carrying the m-long seasonal LIST (s[1] = s_{t−m}, rotate-append)
      oracle = """WITH RECURSIVE
        |e AS (SELECT event_type, epoch_ms(ts) // 86400000 AS d FROM events),
        |mm AS (SELECT min(d) AS d0, max(d) AS d1 FROM e),
        |ks AS (SELECT DISTINCT event_type FROM e),
        |y AS (SELECT ks.event_type, t.i, CAST(COALESCE(c.cnt, 0) AS DOUBLE) AS y
        |      FROM ks CROSS JOIN mm
        |      CROSS JOIN UNNEST(generate_series(0, CAST(mm.d1 - mm.d0 AS INT))) AS t(i)
        |      LEFT JOIN (SELECT event_type, d, COUNT(*) AS cnt FROM e GROUP BY 1, 2) c
        |        ON c.event_type = ks.event_type AND c.d = mm.d0 + t.i),
        |tt AS (SELECT CAST(max(i) AS INT) AS tmax FROM y),
        |agg AS (SELECT event_type,
        |          SUM(y) FILTER (WHERE i < 7) AS sum1,
        |          SUM(y) FILTER (WHERE i >= 7 AND i < 14) AS sum2,
        |          list(y ORDER BY i) FILTER (WHERE i < 7) AS ys1
        |        FROM y GROUP BY 1),
        |init AS (SELECT event_type, sum1 / 7e0 AS l0, (sum2 - sum1) / 49e0 AS b0,
        |           list_transform(ys1, v -> v - sum1 / 7e0) AS s0
        |         FROM agg),
        |r AS (
        |  SELECT event_type, 6 AS i, l0 AS l, b0 AS b, s0 AS s FROM init
        |  UNION ALL
        |  SELECT r.event_type, r.i + 1,
        |    0.5 * (y.y - r.s[1]) + 0.5 * (r.l + r.b),
        |    0.25 * ((0.5 * (y.y - r.s[1]) + 0.5 * (r.l + r.b)) - r.l) + 0.75 * r.b,
        |    r.s[2:] || [0.25 * (y.y - (0.5 * (y.y - r.s[1]) + 0.5 * (r.l + r.b))) + 0.75 * r.s[1]]
        |  FROM r JOIN y ON y.event_type = r.event_type AND y.i = r.i + 1
        |  WHERE r.i < (SELECT tmax FROM tt))
        |SELECT event_type, (SELECT tmax FROM tt) + 1 AS n_buckets,
        |       ROUND(l, 4) AS level, ROUND(b, 4) AS trend,
        |       ROUND(s[7], 4) AS season_h,
        |       ROUND(l + 7.0 * b + s[7], 4) AS forecast
        |FROM r WHERE i = (SELECT tmax FROM tt)""".stripMargin)
  )

  /** DuckDB replay of the view→click→purchase funnel — shared by the
    * batch walk (q129) and the stateful kernel in batch mode (q136). */
  private lazy val funnelSql: String =
    """WITH ev AS (SELECT user_id, epoch_ms(ts) AS ms, event_type AS et FROM events
      |            WHERE event_type IN ('view', 'click', 'purchase')),
      |s1 AS (SELECT user_id, MIN(ms) AS t1 FROM ev WHERE et = 'view' GROUP BY 1),
      |s2 AS (SELECT e.user_id, MIN(ms) AS t2 FROM ev e JOIN s1 USING (user_id)
      |       WHERE et = 'click' AND ms > t1 GROUP BY 1),
      |s3 AS (SELECT e.user_id, MIN(ms) AS t3 FROM ev e JOIN s2 USING (user_id)
      |       WHERE et = 'purchase' AND ms > t2 GROUP BY 1)
      |SELECT u.user_id,
      |       COALESCE(t1, -1) AS view_ms, COALESCE(t2, -1) AS click_ms,
      |       COALESCE(t3, -1) AS purchase_ms,
      |       CAST(t1 IS NOT NULL AS INT) + CAST(t2 IS NOT NULL AS INT)
      |         + CAST(t3 IS NOT NULL AS INT) AS stage
      |FROM (SELECT DISTINCT user_id FROM ev) u
      |LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
      |LEFT JOIN s3 USING (user_id)""".stripMargin
}
