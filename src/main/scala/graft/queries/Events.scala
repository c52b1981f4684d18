package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.tables.Tables

/**
 * Batch event-stream analytics. `streaming/EventStreams.scala` hosts the
 * Structured Streaming twins of these plans (same logic on `readStream`).
 */
object Events {

  val queries: Seq[Q] = Seq(
    Q(
      "e01_event_funnel",
      (s, dir) => {
        val t = Tables(s, dir)
        t.events
          .groupBy(to_date(col("ts")).as("day"))
          .agg(
            sum(when(col("event_type") === "view", 1).otherwise(0)).cast("long").as("views"),
            sum(when(col("event_type") === "click", 1).otherwise(0)).cast("long").as("clicks"),
            sum(when(col("event_type") === "purchase", 1).otherwise(0)).cast("long").as("purchases"),
            sum(when(col("event_type") === "error", 1).otherwise(0)).cast("long").as("errors"),
            count(lit(1)).as("total"))
          .orderBy("day")
      },
      Some("""SELECT CAST(ts AS DATE) AS day,
             |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS views,
             |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS clicks,
             |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchases,
             |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS errors,
             |  count(*) AS total
             |FROM events GROUP BY CAST(ts AS DATE) ORDER BY day""".stripMargin)),

    Q(
      "e02_sessionize",
      (s, dir) => {
        val t = Tables(s, dir)
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t.events
          .select(
            col("user_id"), col("ts"), col("event_id"),
            when(
              lag(col("ts"), 1).over(w).isNull ||
                unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)) > 1800000000L,
              1).otherwise(0).as("new_session"))
          .select(
            col("user_id"),
            sum("new_session").over(wRun).cast("long").as("session_id"))
          .groupBy("user_id", "session_id")
          .agg(count(lit(1)).as("n_events"))
          .orderBy("user_id", "session_id")
      },
      Some("""SELECT user_id, session_id, count(*) AS n_events FROM (
             |  SELECT user_id,
             |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
             |  FROM (
             |    SELECT user_id, ts, event_id,
             |      CASE WHEN lag(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
             |        OR date_diff('microsecond',
             |             lag(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts) > 1800000000
             |        THEN 1 ELSE 0 END AS new_session
             |    FROM events))
             |GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin)),

    Q(
      "e04_asof_join",
      (s, dir) => {
        val t = Tables(s, dir)
        val clicks = t.events.filter(col("event_type") === "click")
          .select("event_id", "user_id", "ts")
        val views = t.events.filter(col("event_type") === "view")
          .select(col("user_id"), col("ts"), col("event_id").as("view_id"))
        graft.ops.AsOf.asofJoin(clicks, views, "user_id", "ts", Seq("view_id"))
          .select("event_id", "user_id", "view_id")
          .orderBy("event_id")
      },
      // DuckDB has a NATIVE ASOF JOIN — ideal oracle for the composed op.
      Some("""WITH clicks AS (SELECT event_id, user_id, ts FROM events
             |                WHERE event_type = 'click'),
             |views AS (SELECT event_id AS view_id, user_id, ts AS view_ts
             |          FROM events WHERE event_type = 'view')
             |SELECT event_id, clicks.user_id AS user_id, view_id
             |FROM clicks ASOF LEFT JOIN views
             |  ON clicks.user_id = views.user_id AND clicks.ts >= views.view_ts
             |ORDER BY event_id""".stripMargin)),

    Q(
      "e06_attribution",
      (s, dir) => {
        // Last-touch attribution: each purchase credits the same user's
        // LATEST click no older than one hour. The as-of op does the
        // matching in one shuffle (its tolerance nulls stale clicks); the
        // day rollup is tie-robust — equal-timestamp click ties change
        // which click id matches, never whether/how much revenue counts.
        val t = Tables(s, dir)
        val purchases = t.events.filter(col("event_type") === "purchase")
          .select("event_id", "user_id", "ts", "value")
        val clicks = t.events.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts"), col("event_id").as("click_id"))
        graft.ops.AsOf.asofJoin(purchases, clicks, "user_id", "ts",
            Seq("click_id"), tolerance = Some(lit(3600L)))
          .groupBy(to_date(col("ts")).as("day"))
          .agg(
            count(lit(1)).as("n_purchases"),
            sum(when(col("click_id").isNotNull, 1).otherwise(0)).cast("long").as("n_attributed"),
            fround(sum(when(col("click_id").isNotNull, col("value")).otherwise(lit(0.0))), 2)
              .as("rev_attributed"))
          .orderBy("day")
      },
      Some("""WITH p AS (SELECT event_id, user_id, ts, value FROM events
             |           WHERE event_type = 'purchase'),
             |c AS (SELECT event_id AS click_id, user_id, ts AS cts FROM events
             |      WHERE event_type = 'click')
             |SELECT CAST(ts AS DATE) AS day,
             |  count(*) AS n_purchases,
             |  CAST(sum(CASE WHEN click_id IS NOT NULL
             |                 AND date_diff('second', cts, ts) <= 3600
             |                THEN 1 ELSE 0 END) AS BIGINT) AS n_attributed,
             |  floor(sum(CASE WHEN click_id IS NOT NULL
             |                  AND date_diff('second', cts, ts) <= 3600
             |                 THEN value ELSE 0.0 END) * 100.0 + 0.5) / 100.0 AS rev_attributed
             |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.cts
             |GROUP BY 1 ORDER BY day""".stripMargin)),

    Q(
      "e08_transition_matrix",
      (s, dir) => {
        // Per-user event TRANSITION matrix (the first-order Markov view
        // of user paths): consecutive (src → dst) event-type pairs in
        // (ts, event_id) order, with per-source transition
        // probabilities. The window partitions by user — bounded by
        // per-user event volume (human-scale; bot-grade users are
        // pre-capped upstream with a p04-style quota), unlike a
        // content-keyed window where one hot key is unbounded. The
        // transition counts are event-type² rows — model-sized at any
        // corpus scale.
        val t = Tables(s, dir)
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        // the count table feeds BOTH the totals and the final join —
        // sharedScan runs the events window once (event-type²-sized
        // cache, model-small)
        val cnt = org.apache.spark.sql.graftshim.InternalFrame.sharedScan(t.events
          .select(col("event_type").as("src"),
            lead(col("event_type"), 1).over(w).as("dst"))
          .where(col("dst").isNotNull)
          .groupBy("src", "dst").agg(count(lit(1)).as("n")))
        val tot = cnt.groupBy("src").agg(sum("n").as("t"))
        cnt.join(tot, "src")
          .select(col("src"), col("dst"), col("n"),
            fround(col("n") * lit(1.0) / col("t"), 4).as("p"))
          .orderBy("src", "dst")
      },
      Some("""WITH tr AS (SELECT event_type AS src,
             |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
             |  FROM events),
             |cnt AS (SELECT src, dst, count(*) AS n FROM tr WHERE dst IS NOT NULL GROUP BY 1, 2),
             |tot AS (SELECT src, sum(n) AS t FROM cnt GROUP BY 1)
             |SELECT src, dst, n, floor(n * 1.0 / t * 10000.0 + 0.5) / 10000.0 AS p
             |FROM cnt JOIN tot USING (src)
             |ORDER BY src, dst""".stripMargin)),

    Q(
      "e09_user_growth",
      (s, dir) => {
        // Daily new vs cumulative users — exact RUNNING DISTINCT
        // without a distinct-over-window: each user reduces to their
        // FIRST-TOUCH day (one min-aggregate, map-side combinable),
        // daily new-user counts follow, and the cumulative count is a
        // running sum over the day-level frame — day-cardinality rows,
        // so the window is trivially small however large the event
        // log. The windowed-distinct formulation would carry every
        // user id through every day's frame.
        val t = Tables(s, dir)
        val firstTouch = t.events
          .groupBy("user_id")
          .agg(min(to_date(col("ts"))).as("day"))
        val daily = firstTouch.groupBy("day").agg(count(lit(1)).as("new_users"))
        val w = Window.orderBy("day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        daily
          .withColumn("cum_users", sum("new_users").over(w).cast("long"))
          .orderBy("day")
      },
      Some("""WITH ft AS (SELECT user_id, min(CAST(ts AS DATE)) AS day FROM events GROUP BY 1),
             |daily AS (SELECT day, count(*) AS new_users FROM ft GROUP BY 1)
             |SELECT day, new_users,
             |  CAST(sum(new_users) OVER (ORDER BY day
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
             |FROM daily ORDER BY day""".stripMargin)),

    Q(
      "e07_ordered_funnel",
      (s, dir) => {
        // Strict-ORDERED funnel (e01 counts stages independently): a
        // user converts view → first click AT/AFTER that view → first
        // purchase at/after that click. Three key-local aggregates
        // chained by equi-joins on user_id — no window over the whole
        // stream, no cross-stage row blowup; at 100 TB each stage is
        // one user-keyed shuffle (exchange-free if events are bucketed
        // by user). Output: users surviving each stage.
        val ev = Tables(s, dir).events
        val v = ev.filter(col("event_type") === "view")
          .groupBy("user_id").agg(min("ts").as("v_ts"))
        val c = ev.filter(col("event_type") === "click").join(v, "user_id")
          .where(col("ts") >= col("v_ts"))
          .groupBy("user_id").agg(min("ts").as("c_ts"))
        val p = ev.filter(col("event_type") === "purchase").join(c, "user_id")
          .where(col("ts") >= col("c_ts"))
          .groupBy("user_id").agg(min("ts").as("p_ts"))
        val one = (df: org.apache.spark.sql.DataFrame, stage: Int, nm: String) =>
          df.agg(count(lit(1)).as("n_users")).select(lit(stage).as("stage"),
            lit(nm).as("stage_name"), col("n_users"))
        one(v, 1, "view").unionAll(one(c, 2, "click_after_view"))
          .unionAll(one(p, 3, "purchase_after_click"))
          .orderBy("stage")
      },
      Some("""WITH v AS (SELECT user_id, min(ts) AS v_ts FROM events
             |  WHERE event_type = 'view' GROUP BY 1),
             |c AS (SELECT e.user_id, min(e.ts) AS c_ts
             |  FROM events e JOIN v ON e.user_id = v.user_id
             |  WHERE e.event_type = 'click' AND e.ts >= v.v_ts GROUP BY 1),
             |p AS (SELECT e.user_id, min(e.ts) AS p_ts
             |  FROM events e JOIN c ON e.user_id = c.user_id
             |  WHERE e.event_type = 'purchase' AND e.ts >= c.c_ts GROUP BY 1)
             |SELECT CAST(stage AS INT) AS stage, stage_name, n_users FROM (
             |  SELECT 1 AS stage, 'view' AS stage_name, count(*) AS n_users FROM v
             |  UNION ALL
             |  SELECT 2, 'click_after_view', count(*) FROM c
             |  UNION ALL
             |  SELECT 3, 'purchase_after_click', count(*) FROM p)
             |ORDER BY stage""".stripMargin)),

    Q(
      "e05_retention_cohorts",
      (s, dir) => {
        // Cohort retention: users grouped by first-activity day, distinct
        // actives per (cohort, day offset ≤ 7). The first-day frame and
        // the activity frame both hash-partition on user_id, so the join
        // reuses one shuffle; at dim-scale the cohort side broadcasts.
        val t = Tables(s, dir)
        val activity = t.events.select(col("user_id"), to_date(col("ts")).as("day")).distinct()
        val cohorts = activity.groupBy("user_id").agg(min("day").as("cohort"))
        activity.join(cohorts, "user_id")
          .select(col("cohort"), datediff(col("day"), col("cohort")).as("day_offset"),
            col("user_id"))
          .filter(col("day_offset") <= 7)
          .groupBy("cohort", "day_offset")
          .agg(count_distinct(col("user_id")).as("users"))
          .orderBy("cohort", "day_offset")
      },
      Some("""WITH activity AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
             |cohorts AS (SELECT user_id, min(day) AS cohort FROM activity GROUP BY user_id)
             |SELECT cohort, date_diff('day', cohort, day) AS day_offset,
             |  count(DISTINCT a.user_id) AS users
             |FROM activity a JOIN cohorts c ON a.user_id = c.user_id
             |WHERE date_diff('day', cohort, day) <= 7
             |GROUP BY 1, 2 ORDER BY cohort, day_offset""".stripMargin)),

    Q(
      "st02_stream_sessionize",
      (s, dir) => {
        // The STREAMING sessionizer under the DuckDB oracle (st01's
        // pattern): events arrive as two ts-ordered MemoryStream
        // micro-batches through EventStreams.sessionize (fMGWS session
        // state, micro-precision gap math), and the drained per-session
        // totals must hash-match e02's batch oracle. Cross-batch
        // sessions exercise real state carry; the final open session of
        // each user is recovered as the max cumulative update per
        // (user, session). Streaming ids are 0-based, batch 1-based —
        // the +1 is numbering, not semantics. collect() is the
        // MemoryStream feeding harness; production uses readStream.
        import graft.streaming.EventStreams
        implicit val sqlCtx = s.sqlContext
        implicit val evEnc = org.apache.spark.sql.Encoders.product[EventStreams.Event]
        // a deterministic 20% user slice: the gate proves cross-batch
        // session-state correctness, which needs sessions spanning
        // chunks, not sf-scaled volume — the full sf0.1 harness spent
        // 7.5 s/sweep on state commits for 25k users
        val rows = Tables(s, dir).events
          .filter(col("user_id") % 5 === 0)
          .select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value"))
          .orderBy("ts", "event_id")
          .as[EventStreams.Event](evEnc)
          .collect()
        val stream = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[EventStreams.Event]
        // two micro-batches: the minimum that still proves cross-batch
        // session-state carry (sessions spanning the chunk boundary)
        val chunk = math.max(1, (rows.length + 1) / 2)
        StreamReplay(s, EventStreams.sessionize(stream.toDS()), "st02_sessions")(
          rows.grouped(chunk).map(b => () => stream.addData(b.toSeq)))
          .groupBy("user_id", "session_id")
          .agg(max("n_events").as("n_events"))
          .select(col("user_id"),
            (col("session_id") + 1).as("session_id"), col("n_events"))
          .orderBy("user_id", "session_id")
      },
      Some("""SELECT user_id, session_id, count(*) AS n_events FROM (
             |  SELECT user_id,
             |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
             |  FROM (
             |    SELECT user_id, ts, event_id,
             |      CASE WHEN lag(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
             |        OR date_diff('microsecond',
             |             lag(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts) > 1800000000
             |        THEN 1 ELSE 0 END AS new_session
             |    FROM events WHERE user_id % 5 = 0))
             |GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin)),

    Q(
      "st03_stream_asof_join",
      (s, dir) => {
        // The STREAMING as-of join under the DuckDB oracle (st01/st02's
        // pattern): e04's click→prevailing-view enrichment, with views
        // arriving as the reference stream and clicks as the probe
        // stream through AsOfStream.asofJoin (fMGWS per-key ref-buffer
        // state). Feeding is TIME-SPLIT into two micro-batches at the
        // corpus median ts: the operator absorbs a batch's references
        // before matching its probes (AsOfStreamSpec proves this), so
        // every reference with ref.ts <= probe.ts arrives in the
        // probe's batch or earlier — arrival order equals event-time
        // order and the default lowest-latency mode is already
        // event-time-exact on this feed, with no pending-probe flush
        // at stop. Cross-batch ref state is the point: batch-2 clicks
        // whose prevailing view arrived in batch 1 only match if the
        // reference buffer persisted. view_id rides the Ref payload
        // (doubles are exact to 2^53, far above any event_id).
        // collect() is the MemoryStream feeding harness; production
        // uses readStream. 20% user slice = st02's cap discipline.
        import graft.streaming.AsOfStream
        implicit val sqlCtx = s.sqlContext
        implicit val pEnc = org.apache.spark.sql.Encoders.product[AsOfStream.Probe]
        implicit val rEnc = org.apache.spark.sql.Encoders.product[AsOfStream.Ref]
        val ev = Tables(s, dir).events.filter(col("user_id") % 5 === 0)
        // ONE tagged scan feeds both streams (the st14/st33 fusion,
        // r18): the probe and ref collects each re-scanned and re-sorted
        // the events slice. Probes sorted by (ts, probe_id) and refs by
        // (ts, payload) are both subsequences of the (ts, event_id)
        // sort — payload IS event_id cast to double (exact to 2^53) —
        // and a filtered subsequence of a sorted array equals the
        // independently sorted filter (stable sort, total key), so the
        // split arrays are bit-identical to the two-scan feed's.
        val tagged = ev.filter(col("event_type").isin("click", "view"))
          .select(col("event_type"), col("user_id").cast("long").as("key"),
            col("ts"), col("event_id").cast("long").as("event_id"))
          .orderBy("ts", "event_id")
          .collect()
        val probes = tagged.iterator.filter(_.getString(0) == "click")
          .map(r => AsOfStream.Probe(r.getLong(1), r.getTimestamp(2),
            r.getLong(3))).toArray
        val refs = tagged.iterator.filter(_.getString(0) == "view")
          .map(r => AsOfStream.Ref(r.getLong(1), r.getTimestamp(2),
            r.getLong(3).toDouble)).toArray
        val allTs = (probes.map(_.ts.getTime) ++ refs.map(_.ts.getTime)).sorted
        val thr = allTs(allTs.length / 2)
        val pStream = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[AsOfStream.Probe]
        val rStream = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[AsOfStream.Ref]
        // idleExpiry must exceed the corpus's longest view→click gap:
        // the batch oracle has unbounded lookback, and the default 24 h
        // retention dropped ref buffers for users whose prevailing view
        // was days old (15/408 rows nulled). 90 days > the table's span.
        StreamReplay(s,
            AsOfStream.asofJoin(pStream.toDS(), rStream.toDS(),
              watermark = "1 hour", idleExpiryHours = 90L * 24L),
            "st03_asof")(
          Seq(true, false).map { firstHalf => () =>
            rStream.addData(refs.filter(r => (r.ts.getTime <= thr) == firstHalf).toSeq)
            pStream.addData(probes.filter(p => (p.ts.getTime <= thr) == firstHalf).toSeq)
          })
          .select(col("probe_id").as("event_id"), col("key").as("user_id"),
            col("ref_payload").cast("long").as("view_id"))
          .orderBy("event_id")
      },
      // DuckDB's native ASOF JOIN — e04's oracle on the sliced corpus.
      Some("""WITH clicks AS (SELECT event_id, user_id, ts FROM events
             |                WHERE event_type = 'click' AND user_id % 5 = 0),
             |views AS (SELECT event_id AS view_id, user_id, ts AS view_ts
             |          FROM events WHERE event_type = 'view' AND user_id % 5 = 0)
             |SELECT event_id, clicks.user_id AS user_id, view_id
             |FROM clicks ASOF LEFT JOIN views
             |  ON clicks.user_id = views.user_id AND clicks.ts >= views.view_ts
             |ORDER BY event_id""".stripMargin)),

    Q(
      "st14_stream_interval_join",
      (s, dir) => {
        // Spark's NATIVE watermarked STREAM-STREAM join under the
        // DuckDB oracle (the one streaming surface previously covered
        // only by batch-parity specs): purchases join the same user's
        // clicks from the trailing hour (`EventStreams.attributionJoin`
        // — e06's attribution predicate, ALL qualifying clicks, where
        // e06/st03 reduce to the latest). Both sides watermark their
        // event time and the join carries the explicit range
        // constraint, so each side's state store expires at the
        // horizon. Feeding is TIME-SPLIT at the corpus median ts: a
        // batch-2 purchase matching a batch-1 click proves the click
        // buffer survived the batch boundary, and the eviction math
        // guarantees no legitimate pair is lost on a time-ordered
        // feed — clicks evicted after batch 1 (click_ts < median − 2 h
        // under the 1 h watermark + 1 h tolerance) can only match
        // purchases with purchase_ts < median − 1 h, which all arrived
        // in batch 1. Inner-join output needs no watermark
        // finalization, so the drained sink is the complete pair set.
        // collect() is the MemoryStream feeding harness; production
        // uses readStream. The feed caps at user_id < 500 — an ABSOLUTE
        // bound, not a % slice: per-user event density is SF-constant
        // in this corpus, so the harness feeds ~13 K rows at ANY SF ≥
        // 0.1 (the whole corpus at sf0.01, where ids stop at 149) —
        // st13's cap discipline; a % slice would grow the state-commit
        // cost linearly with SF and measure the harness, not the join.
        import graft.streaming.EventStreams
        implicit val sqlCtx = s.sqlContext
        implicit val evEnc = org.apache.spark.sql.Encoders.product[EventStreams.Event]
        // ONE scan+sort feeds both sides (the driver-side type split
        // preserves the (ts, event_id) order each side's separate
        // orderBy produced — filter is stable), instead of two full
        // events scans
        val fed = Tables(s, dir).events.filter(col("user_id") < 500)
          .filter(col("event_type").isin("click", "purchase"))
          .select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value"))
          .orderBy("ts", "event_id").as[EventStreams.Event](evEnc).collect()
        val clicks = fed.filter(_.event_type == "click")
        val purchases = fed.filter(_.event_type == "purchase")
        val allTs = (clicks.map(_.ts.getTime) ++ purchases.map(_.ts.getTime)).sorted
        val thr = allTs(allTs.length / 2)
        val cStream = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[EventStreams.Event]
        val pStream = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[EventStreams.Event]
        StreamReplay(s,
            EventStreams.attributionJoin(cStream.toDF(), pStream.toDF()),
            "st14_pairs")(
          Seq(true, false).map { firstHalf => () =>
            cStream.addData(clicks.filter(c => (c.ts.getTime <= thr) == firstHalf).toSeq)
            pStream.addData(purchases.filter(p => (p.ts.getTime <= thr) == firstHalf).toSeq)
          })
          .select(col("user_id"), col("purchase_id"), col("click_id"),
            unix_micros(col("purchase_ts")).as("p_us"),
            unix_micros(col("click_ts")).as("c_us"),
            fround(col("value"), 2).as("value"))
          .orderBy("purchase_id", "click_id")
      },
      Some("""SELECT p.user_id, p.event_id AS purchase_id,
             |  c.event_id AS click_id, epoch_us(p.ts) AS p_us,
             |  epoch_us(c.ts) AS c_us,
             |  floor(p.value * 100.0 + 0.5) / 100.0 AS value
             |FROM events p JOIN events c
             |  ON c.user_id = p.user_id
             | AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
             |WHERE p.event_type = 'purchase' AND c.event_type = 'click'
             |  AND p.user_id < 500
             |ORDER BY purchase_id, click_id""".stripMargin)),

    Q(
      "st16_stream_static_enrich",
      (s, dir) => {
        // STREAM-STATIC enrichment under the DuckDB oracle — the third
        // streaming join shape (st03 = stream-stream as-of, st14 =
        // stream-stream interval): the event stream joins the STATIC
        // customer dimension (broadcast per micro-batch, zero streaming
        // state added) and aggregates hourly totals per enriched
        // market segment. Values quantize to integer cents per row
        // BEFORE the sum, so window totals are engine-exact. Fed
        // time-split in two halves: a window straddling the split
        // proves the (window, segment) state merged both batches'
        // contributions; st09's two flush batches advance the
        // watermark so append mode emits every real window (the flush
        // events' own windows never finalize and are absent by
        // construction — their user_id 0 is DROPPED by the inner dim
        // join (c_custkey starts at 1), but they still advance the
        // watermark because event-time tracking sits upstream of the
        // join). The feed caps at
        // user_id < 150 — an ABSOLUTE bound (st13's discipline): the
        // harness feeds ~10 K rows at ANY SF, so the artifact measures
        // the join + state commit, not MemoryStream volume.
        import graft.streaming.EventStreams
        implicit val sqlCtx = s.sqlContext
        implicit val evEnc = org.apache.spark.sql.Encoders.product[EventStreams.Event]
        val rows = Tables(s, dir).events.filter(col("user_id") < 150)
          .select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value"))
          .orderBy("ts", "event_id").as[EventStreams.Event](evEnc).collect()
        val dim = Tables(s, dir).customer
          .select(col("c_custkey"), col("c_mktsegment"))
        val maxTs = rows.last.ts.getTime
        val stream = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[EventStreams.Event]
        val half = (rows.length + 1) / 2
        StreamReplay(s, EventStreams.enrichedSegmentTotals(stream.toDF(), dim),
            "st16_segments")(
          Seq(rows.take(half), rows.drop(half))
            .map(b => () => stream.addData(b.toIndexedSeq)) ++
          Seq(72L, 73L).map(off => () =>
            stream.addData(IndexedSeq(EventStreams.Event(-1L,
              new java.sql.Timestamp(maxTs + off * 3600L * 1000L),
              0L, "flush", 0.0)))))
          .orderBy("segment", "start_us")
      },
      Some("""SELECT c.c_mktsegment AS segment,
             |  epoch_us(date_trunc('hour', e.ts)) AS start_us,
             |  count(*) AS n_events,
             |  CAST(sum(CAST(floor(e.value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
             |    AS value_cents
             |FROM events e JOIN customer c ON e.user_id = c.c_custkey
             |WHERE e.user_id < 150
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    Q(
      "st20_stream_quality_audit",
      (s, dir) => {
        // STREAMING DATA-QUALITY MONITOR — l13's constraint-audit
        // posture at INGEST (what a Deequ-style metrics repository
        // computes per arriving batch): per-event-type running
        // counters of fk-orphan and value-range violations, as a
        // complete-mode aggregate. The fk check rides the
        // STREAM-STATIC broadcast join (st16's shape — the dim adds
        // zero streaming state; left-outer so violating rows COUNT
        // instead of dropping); the range check is row-local. State =
        // one counter row per event type, bounded by type cardinality
        // however long the stream runs, and complete-mode aggregate
        // merge is exact integer addition, so the drained snapshot
        // equals the batch audit bit-for-bit under any
        // micro-batching. The clean slice would report zeros, so the
        // feed carries l13's deterministic mutations (%83 event ids
        // orphan their user to -1, %101 negate their value) — each
        // counter must find exactly its planted class. Feed caps at
        // user_id < 150 (st13's absolute-bound discipline).
        import graft.streaming.EventStreams
        implicit val sqlCtx = s.sqlContext
        implicit val evEnc = org.apache.spark.sql.Encoders.product[EventStreams.Event]
        val rows = Tables(s, dir).events.filter(col("user_id") < 150)
          .select(col("event_id"), col("ts"),
            when(col("event_id") % 83 === 0, lit(-1L))
              .otherwise(col("user_id")).as("user_id"),
            col("event_type"),
            when(col("event_id") % 101 === 0, -col("value"))
              .otherwise(col("value")).as("value"))
          .orderBy("ts", "event_id").as[EventStreams.Event](evEnc).collect()
        val dimKeys = Tables(s, dir).customer.select(col("c_custkey"))
        val stream = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[EventStreams.Event]
        val audit = stream.toDF()
          .join(broadcast(dimKeys), col("user_id") === col("c_custkey"), "left")
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"),
            sum(when(col("c_custkey").isNull, 1L).otherwise(0L)).as("fk_orphans"),
            sum(when(col("value") < 0, 1L).otherwise(0L)).as("range_violations"))
        val half = (rows.length + 1) / 2
        // complete mode: the table IS the final snapshot
        StreamReplay(s, audit, "st20_quality", "complete")(
          Seq(rows.take(half), rows.drop(half))
            .map(b => () => stream.addData(b.toIndexedSeq)))
          .orderBy("event_type")
      },
      Some("""WITH m AS (SELECT event_id, event_type,
             |    CASE WHEN event_id % 83 = 0 THEN -1 ELSE user_id END AS user_id,
             |    CASE WHEN event_id % 101 = 0 THEN -value ELSE value END AS value
             |  FROM events WHERE user_id < 150)
             |SELECT event_type, count(*) AS n_events,
             |  CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             |    AS fk_orphans,
             |  CAST(sum(CASE WHEN m.value < 0 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS range_violations
             |FROM m LEFT JOIN customer c ON m.user_id = c.c_custkey
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q(
      "e10_session_window",
      (s, dir) => {
        // Spark's NATIVE session_window aggregation (e02 derives the
        // same sessions manually via lag + running sum): per-user
        // 30-minute-gap sessions as ONE groupBy — no window operator in
        // the plan, sessions merge inside the aggregate. Boundary
        // semantics differ from e02's manual rule: session windows are
        // half-open [start, last + gap), so an event EXACTLY gap after
        // its predecessor starts a NEW session (e02's `delta > gap`
        // keeps it) — the oracle encodes >= accordingly. Bounds are
        // emitted as unix micros (testdata timestamps are micro-exact).
        val t = Tables(s, dir)
        t.events
          .groupBy(col("user_id"),
            session_window(col("ts"), "30 minutes").as("sw"))
          .agg(count(lit(1)).as("n_events"))
          .select(col("user_id"),
            unix_micros(col("sw.start")).as("start_us"),
            unix_micros(col("sw.end")).as("end_us"),
            col("n_events"))
          .orderBy("user_id", "start_us")
      },
      Some("""WITH flags AS (SELECT user_id, ts, event_id,
             |    CASE WHEN lag(ts) OVER w IS NULL
             |           OR date_diff('microsecond', lag(ts) OVER w, ts) >= 1800000000
             |         THEN 1 ELSE 0 END AS ns
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |sess AS (SELECT user_id, ts,
             |    sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |                  ROWS UNBOUNDED PRECEDING) AS sid
             |  FROM flags)
             |SELECT user_id, epoch_us(min(ts)) AS start_us,
             |  epoch_us(max(ts)) + 1800000000 AS end_us, count(*) AS n_events
             |FROM sess GROUP BY user_id, sid
             |ORDER BY user_id, start_us""".stripMargin)),

    Q(
      "st09_stream_late_data",
      (s, dir) => {
        // WATERMARK late-data semantics under the DuckDB oracle: hourly
        // tumbling counts with a 1-hour watermark, fed time-ordered in
        // two halves — plus a REPLAY of the slice's 50 earliest events
        // inside batch 2. After batch 1 the watermark sits 1 h below the
        // batch-1 maximum, far past the replayed events' windows, so the
        // replays MUST be dropped: the oracle counts each event exactly
        // once, and any undropped replay inflates a window and fails
        // the hash. Cross-boundary windows stay open (their end is
        // above the watermark) and merge both halves' contributions.
        // Two trailing flush batches advance the watermark past every
        // slice window so append mode emits them all; the flush events'
        // own windows never finalize and are absent by construction.
        implicit val sqlCtx = s.sqlContext
        implicit val rowEnc =
          org.apache.spark.sql.Encoders.product[(Long, java.sql.Timestamp)]
        val rows = Tables(s, dir).events
          .filter(col("user_id") % 7 === 0)
          .select(col("event_id"), col("ts"))
          .orderBy("ts", "event_id")
          .collect().map(r => (r.getLong(0), r.getTimestamp(1)))
        val maxTs = rows.last._2.getTime
        val stream = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, java.sql.Timestamp)]
        val windows = stream.toDS().toDF("event_id", "ts")
          .withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "1 hour").as("w"))
          .agg(count(lit(1)).as("n_events"))
          .select(unix_micros(col("w.start")).as("start_us"), col("n_events"))
        val half = (rows.length + 1) / 2
        // keepNoDataBatches: the late-replay drop this query PROVES
        // needs the default regime's no-data batch to bake the
        // advanced watermark in before the replays arrive (see
        // StreamReplay)
        StreamReplay(s, windows, "st09_windows", keepNoDataBatches = true)(
          Seq(rows.take(half),
            // batch 2: the on-time second half + 50 LATE replays
            rows.drop(half) ++ rows.take(50))
            .map(b => () => stream.addData(b.toIndexedSeq)) ++
          // two flush batches: one advances the max event time, the
          // next batch's processing emits everything below the new
          // watermark (emission uses the PREVIOUS batch's watermark)
          Seq(72L, 73L).map(off => () =>
            stream.addData(IndexedSeq(
              (-1L, new java.sql.Timestamp(maxTs + off * 3600L * 1000L))))))
          .orderBy("start_us")
      },
      // every slice event counted exactly once — replays dropped
      Some("""SELECT epoch_us(date_trunc('hour', ts)) AS start_us,
             |  count(*) AS n_events
             |FROM events WHERE user_id % 7 = 0
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q(
      "st10_stream_topk",
      (s, dir) => {
        // STREAMING global top-k under the DuckDB oracle: the bounded-
        // heap TopKByScore aggregate as streaming state (complete mode).
        // The top-100 under (score DESC, id ASC) is a deterministic SET
        // whatever the arrival order, and the heap's merge keeps the
        // best k under that same total order — merge-commutative like
        // st06/st07's sketches — so the drained snapshot equals the
        // batch aggregate exactly. Scores fold to exact integer cents
        // BEFORE the heap (t09's move) so ranking is engine-exact.
        // State is ONE k-entry buffer however long the stream runs.
        import graft.functions.VectorExpressions.topKByScore
        implicit val sqlCtx = s.sqlContext
        implicit val rowEnc =
          org.apache.spark.sql.Encoders.product[(Long, Double)]
        val rows = Tables(s, dir).events
          .filter(col("user_id") % 7 === 0)
          .select(col("event_id"), col("value"))
          .orderBy("event_id")
          .collect().map(r => (r.getLong(0), r.getDouble(1)))
        val stream = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, Double)]
        val topk = stream.toDS().toDF("event_id", "value")
          .select(col("event_id"),
            floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
          .agg(topKByScore(col("event_id"), col("cents"), 100).as("topk"))
        val chunk = math.max(1, (rows.length + 1) / 2)
        StreamReplay(s, topk, "st10_topk", "complete")(
          rows.grouped(chunk).map(batch => () =>
            stream.addData(batch.toIndexedSeq)))
          .select(posexplode(col("topk")).as(Seq("pos", "nb")))
          .select((col("pos") + 1).cast("int").as("rank"),
            col("nb.id").as("event_id"),
            // the heap's struct stores score as double; integer cents
            // round-trip exactly, so the cast back is lossless
            col("nb.score").cast("long").as("cents"))
          .orderBy("rank")
      },
      Some("""SELECT CAST(rn AS INT) AS rank, event_id, cents FROM (
             |  SELECT event_id, cents,
             |    row_number() OVER (ORDER BY cents DESC, event_id) AS rn
             |  FROM (SELECT event_id, CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
             |        FROM events WHERE user_id % 7 = 0))
             |WHERE rn <= 100 ORDER BY rank""".stripMargin)),

    Q(
      "e11_retention",
      (s, dir) => {
        // Weekly cohort RETENTION matrix — the product-analytics
        // staple. Shape: events collapse to distinct (user, week)
        // pairs (map-side combinable), each user reduces to a
        // first-touch cohort week (one min-aggregate), and the matrix
        // is a (cohort, offset)-keyed count — weeks²-sized output
        // however large the event log, with the only user-keyed work
        // being two aggregates and one equi-join on user_id. No
        // windows, no distinct-over-window, nothing driver-side.
        val t = Tables(s, dir)
        val uw = t.events
          .filter(col("event_type") === "purchase")
          .select(col("user_id"),
            date_trunc("week", col("ts")).cast("date").as("week"))
          .distinct()
        val cohorts = uw.groupBy("user_id").agg(min("week").as("cohort"))
        val sizes = org.apache.spark.sql.graftshim.InternalFrame.sharedScan(
          cohorts.groupBy("cohort").agg(count(lit(1)).as("cohort_size")))
        uw.join(cohorts, "user_id")
          .groupBy(col("cohort"),
            (datediff(col("week"), col("cohort")) / 7).cast("int").as("week_offset"))
          .agg(count(lit(1)).as("retained"))
          .join(sizes, "cohort")
          .select(col("cohort"), col("week_offset"), col("retained"),
            fround(col("retained") * lit(1.0) / col("cohort_size"), 4).as("rate"))
          .orderBy("cohort", "week_offset")
      },
      Some("""WITH uw AS (SELECT DISTINCT user_id,
             |    CAST(date_trunc('week', ts) AS DATE) AS week FROM events
             |    WHERE event_type = 'purchase'),
             |co AS (SELECT user_id, min(week) AS cohort FROM uw GROUP BY 1),
             |sz AS (SELECT cohort, count(*) AS cohort_size FROM co GROUP BY 1),
             |m AS (SELECT co.cohort,
             |    CAST(date_diff('day', co.cohort, uw.week) / 7 AS INT) AS week_offset,
             |    count(*) AS retained
             |  FROM uw JOIN co USING (user_id) GROUP BY 1, 2)
             |SELECT cohort, week_offset, retained,
             |  floor(retained * 1.0 / cohort_size * 10000.0 + 0.5) / 10000.0 AS rate
             |FROM m JOIN sz USING (cohort)
             |ORDER BY cohort, week_offset""".stripMargin)),

    Q(
      "e12_conversion_lag",
      (s, dir) => {
        // View→purchase conversion-lag histogram: per user, the lag
        // from the FIRST view to the first purchase strictly after it,
        // bucketed by hour. Scale shape: two filtered min-aggregates
        // keyed by user (map-side combinable) + one equi-join on
        // user_id — the event log is touched twice and never windowed,
        // and the output is bucket-count-sized. All integer µs
        // arithmetic, so the oracle matches exactly.
        val t = Tables(s, dir)
        val v = t.events.filter(col("event_type") === "view")
          .groupBy("user_id").agg(min(unix_micros(col("ts"))).as("v_us"))
        val p = t.events.filter(col("event_type") === "purchase")
          .select(col("user_id"), unix_micros(col("ts")).as("p_us"))
        v.join(p, "user_id")
          .filter(col("p_us") > col("v_us"))
          .groupBy("user_id")
          .agg(min(col("p_us")).as("p_us"), min(col("v_us")).as("v_us"))
          .select(expr("(p_us - v_us) div 3600000000L").as("lag_h"))
          .groupBy("lag_h")
          .agg(count(lit(1)).as("n_users"))
          .orderBy("lag_h")
      },
      Some("""WITH v AS (SELECT user_id, min(epoch_us(ts)) AS v_us
             |  FROM events WHERE event_type = 'view' GROUP BY 1),
             |p AS (SELECT user_id, epoch_us(ts) AS p_us FROM events
             |  WHERE event_type = 'purchase'),
             |conv AS (SELECT v.user_id, min(p_us) AS p_us, min(v_us) AS v_us
             |  FROM v JOIN p ON p.user_id = v.user_id AND p.p_us > v.v_us
             |  GROUP BY 1)
             |SELECT (p_us - v_us) // 3600000000 AS lag_h,
             |  count(*) AS n_users
             |FROM conv GROUP BY 1 ORDER BY lag_h""".stripMargin)),

    Q(
      "e13_rate_anomalies",
      (s, dir) => {
        // Event-rate anomaly detection — the observability staple:
        // hours whose per-type event count sits > 2σ from that type's
        // mean hourly rate. Scale shape: the event log collapses to
        // (type, hour) counts FIRST (map-side combinable, types×hours
        // rows however large the log), per-type mean/variance derive
        // from integer sums over that tiny frame, and the z-score is
        // one broadcast join back — no windows anywhere. Variance via
        // (Σc² − (Σc)²/n)/n from exact integer sums, so both engines
        // divide identical numbers; z rounds to 4dp.
        val t = Tables(s, dir)
        val hourly = t.events
          .groupBy(col("event_type"),
            unix_micros(date_trunc("hour", col("ts"))).as("hour_us"))
          .agg(count(lit(1)).as("n"))
        val stats = hourly.groupBy("event_type")
          .agg(count(lit(1)).as("nh"), sum("n").as("s"),
            sum(col("n") * col("n")).as("sq"))
          .select(col("event_type"),
            (col("s").cast("double") / col("nh")).as("mean"),
            sqrt((col("sq").cast("double")
              - col("s").cast("double") * col("s") / col("nh"))
              / col("nh")).as("sd"))
        hourly.join(broadcast(stats), "event_type")
          .select(col("event_type"), col("hour_us"), col("n"),
            ((col("n").cast("double") - col("mean")) / col("sd")).as("zraw"))
          // filter on the RAW ratio (like the oracle) — filtering the
          // rounded value would disagree on a z of e.g. 2.00004
          .filter(abs(col("zraw")) > 2.0)
          .select(col("event_type"), col("hour_us"), col("n"),
            fround(col("zraw"), 4).as("z"))
          .orderBy("event_type", "hour_us")
      },
      Some("""WITH hourly AS (SELECT event_type,
             |    epoch_us(date_trunc('hour', ts)) AS hour_us, count(*) AS n
             |  FROM events GROUP BY 1, 2),
             |stats AS (SELECT event_type,
             |    sum(n) * 1.0 / count(*) AS mean,
             |    sqrt((sum(n * n) - sum(n) * 1.0 * sum(n) / count(*))
             |      / count(*)) AS sd
             |  FROM hourly GROUP BY 1)
             |SELECT h.event_type, h.hour_us, h.n,
             |  floor((h.n - s.mean) / s.sd * 10000.0 + 0.5) / 10000.0 AS z
             |FROM hourly h JOIN stats s USING (event_type)
             |WHERE abs((h.n - s.mean) / s.sd) > 2.0
             |ORDER BY event_type, hour_us""".stripMargin)),

    Q(
      "e14_next_touch",
      (s, dir) => {
        // FORWARD as-of join (e04/e06 look back; this looks ahead):
        // each click attaches the same user's NEXT purchase within two
        // hours — the time-to-convert join at click grain (e12
        // histograms only each user's FIRST view→purchase pair; this
        // resolves every click). Same one-shuffle union+window plan as
        // backward as-of with the time sort reversed: scanning time
        // DESCENDING, the last purchase seen before a click is the
        // earliest one still ahead of it. The purchase's id and micro
        // timestamp ride the match struct; the 2 h tolerance nulls
        // non-converting clicks (kept — the null rate IS the signal).
        val t = Tables(s, dir)
        val ev = t.events.filter(col("user_id") % 5 === 0)
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("user_id"), col("ts"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"),
            col("event_id").as("purchase_id"),
            unix_micros(col("ts")).as("p_us"))
        graft.ops.AsOf.asofJoin(clicks, purchases, "user_id", "ts",
            Seq("purchase_id", "p_us"),
            tolerance = Some(lit(7200L)), direction = "forward")
          .select(col("click_id"), col("user_id"), col("purchase_id"),
            (col("p_us") - unix_micros(col("ts"))).as("gap_us"))
          .orderBy("click_id")
      },
      // pick-nearest-then-tolerance ≡ tolerance-in-join for a forward
      // monotone gap: if the earliest next purchase is too far, all are
      Some("""WITH c AS (SELECT event_id AS click_id, user_id, ts
             |  FROM events WHERE event_type = 'click' AND user_id % 5 = 0),
             |p AS (SELECT user_id, event_id AS purchase_id, ts
             |  FROM events WHERE event_type = 'purchase' AND user_id % 5 = 0),
             |m AS (SELECT click_id, purchase_id, gap_us FROM (
             |    SELECT c.click_id, p.purchase_id,
             |      epoch_us(p.ts) - epoch_us(c.ts) AS gap_us,
             |      row_number() OVER (PARTITION BY c.click_id
             |        ORDER BY p.ts, p.purchase_id DESC) AS rn
             |    FROM c JOIN p ON p.user_id = c.user_id AND p.ts >= c.ts
             |      AND date_diff('second', c.ts, p.ts) <= 7200)
             |  WHERE rn = 1)
             |SELECT c.click_id, c.user_id, m.purchase_id, m.gap_us
             |FROM c LEFT JOIN m USING (click_id)
             |ORDER BY click_id""".stripMargin)),

    Q(
      "e15_rolling_actives",
      (s, dir) => {
        // ROLLING 7-day distinct actives (WAU) beside daily actives
        // (DAU) — the engagement dashboard pair e09's cumulative curve
        // and e05's fixed cohorts don't give. Sliding DISTINCT cannot
        // sum per-day distincts (users overlap days), and a 7-day
        // range window with count(DISTINCT) doesn't exist in either
        // engine — the scale-right form: dedup to (day, user) first
        // (keys-only shuffle), FORWARD-scatter each active day onto
        // the ≤ 7 calendar days it supports (a bounded explode — no
        // self-join of the event table), dedup (window-day, user),
        // count. Every frame after the first distinct is
        // (days × users)-keyed, never events; DAU attaches by a
        // days-sized join. Trailing days beyond the last observation
        // are clipped by a broadcast scalar.
        val t = Tables(s, dir)
        val du = t.events
          .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
        val hi = du.agg(max("day").as("hi"))
        val wau = du
          .select(explode(sequence(col("day"), date_add(col("day"), 6))).as("day"),
            col("user_id"))
          .distinct()
          .join(broadcast(hi), col("day") <= col("hi"))
          .groupBy("day").agg(count(lit(1)).as("wau"))
        val dau = du.groupBy("day").agg(count(lit(1)).as("dau"))
        wau.join(dau, Seq("day"), "left")
          .select(col("day"), coalesce(col("dau"), lit(0L)).as("dau"), col("wau"))
          .orderBy("day")
      },
      Some("""WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
             |  FROM events),
             |hi AS (SELECT max(day) AS hi FROM du),
             |scatter AS (SELECT DISTINCT
             |    CAST(unnest(generate_series(day, day + INTERVAL 6 DAY,
             |      INTERVAL 1 DAY)) AS DATE) AS day, user_id
             |  FROM du),
             |wau AS (SELECT day, count(*) AS wau FROM scatter
             |  WHERE day <= (SELECT hi FROM hi) GROUP BY day),
             |dau AS (SELECT day, count(*) AS dau FROM du GROUP BY day)
             |SELECT wau.day, CAST(coalesce(dau.dau, 0) AS BIGINT) AS dau,
             |  CAST(wau.wau AS BIGINT) AS wau
             |FROM wau LEFT JOIN dau USING (day)
             |ORDER BY day""".stripMargin)),

    Q(
      "e16_deadline_funnel",
      (s, dir) => {
        // DEADLINE funnel — e07's strict-ordered chain with an SLA
        // between steps (the conversion-window semantics every product
        // funnel actually ships with): the click must land within 2
        // hours of the user's first view, the purchase within 24 hours
        // of that first qualifying click. Same plan shape as e07 —
        // three user-keyed min-aggregates chained by equi-joins, the
        // deadline is one extra timestamp predicate riding each join
        // (no new shuffle, no window over the stream); at 100 TB each
        // stage is one user-keyed exchange, exchange-free if events
        // are bucketed by user_id. Timestamp arithmetic is µs-exact on
        // both engines, so the oracle replays the cut bit-for-bit.
        val ev = Tables(s, dir).events
        val v = ev.filter(col("event_type") === "view")
          .groupBy("user_id").agg(min("ts").as("v_ts"))
        val c = ev.filter(col("event_type") === "click").join(v, "user_id")
          .where(col("ts") >= col("v_ts") &&
            col("ts") <= col("v_ts") + expr("INTERVAL 2 HOURS"))
          .groupBy("user_id").agg(min("ts").as("c_ts"))
        val p = ev.filter(col("event_type") === "purchase").join(c, "user_id")
          .where(col("ts") >= col("c_ts") &&
            col("ts") <= col("c_ts") + expr("INTERVAL 24 HOURS"))
          .groupBy("user_id").agg(min("ts").as("p_ts"))
        val one = (df: org.apache.spark.sql.DataFrame, stage: Int, nm: String) =>
          df.agg(count(lit(1)).as("n_users")).select(lit(stage).as("stage"),
            lit(nm).as("stage_name"), col("n_users"))
        one(v, 1, "view").unionAll(one(c, 2, "click_within_2h"))
          .unionAll(one(p, 3, "purchase_within_24h"))
          .orderBy("stage")
      },
      Some("""WITH v AS (SELECT user_id, min(ts) AS v_ts FROM events
             |  WHERE event_type = 'view' GROUP BY 1),
             |c AS (SELECT e.user_id, min(e.ts) AS c_ts
             |  FROM events e JOIN v ON e.user_id = v.user_id
             |  WHERE e.event_type = 'click' AND e.ts >= v.v_ts
             |    AND e.ts <= v.v_ts + INTERVAL 2 HOUR GROUP BY 1),
             |p AS (SELECT e.user_id, min(e.ts) AS p_ts
             |  FROM events e JOIN c ON e.user_id = c.user_id
             |  WHERE e.event_type = 'purchase' AND e.ts >= c.c_ts
             |    AND e.ts <= c.c_ts + INTERVAL 24 HOUR GROUP BY 1)
             |SELECT CAST(stage AS INT) AS stage, stage_name, n_users FROM (
             |  SELECT 1 AS stage, 'view' AS stage_name, count(*) AS n_users FROM v
             |  UNION ALL
             |  SELECT 2, 'click_within_2h', count(*) FROM c
             |  UNION ALL
             |  SELECT 3, 'purchase_within_24h', count(*) FROM p)
             |ORDER BY stage""".stripMargin)),

    Q(
      "e17_markov_attribution",
      (s, dir) => {
        // MARKOV-CHAIN multi-touch attribution (Anderl et al. 2016 —
        // the removal-effect model, the data-driven alternative to
        // e06's positional rules): user journeys (events to the FIRST
        // purchase, deterministically ordered by ts then event_id)
        // become a first-order transition matrix over the FIXED
        // channel vocabulary; each channel's credit is its REMOVAL
        // EFFECT — how much the start→conversion probability drops
        // when journeys may not pass through it. Conversion
        // probability is an 8-round bounded walk with every quantity
        // in integer ppm and every per-term product floored BEFORE
        // the sum, so accumulation order cannot move a bit and the
        // whole five-variant sweep (base + 4 removals) unrolls as
        // CTEs. The channel vocabulary is a plan-time PARAMETER (as
        // configured channel taxonomies are), not discovered. Scale:
        // journey assembly + transition census are the only
        // data-sized work (one user-keyed window pass, one (src,dst)
        // census); the matrix is channels²-sized — it rides to the
        // driver like a08's codebooks, and the walk is driver
        // arithmetic on ≤ 7×7 integers.
        val ev = Tables(s, dir).events
          .filter(col("event_type").isin(MarkovChannels :+ "purchase": _*))
          .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("ts", "event_id")
        val seq0 = ev.withColumn("rn", row_number().over(w))
        val seqd = org.apache.spark.sql.graftshim.InternalFrame.sharedScan(seq0)
        val fp = seqd.filter(col("event_type") === "purchase")
          .groupBy("user_id").agg(min("rn").as("pn"))
        val wr = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("rn")
        val jr = seqd.join(fp, Seq("user_id"), "left")
          .filter(col("pn").isNull || col("rn") <= col("pn"))
          .select(col("user_id"), col("rn"),
            when(col("event_type") === "purchase", lit("conv"))
              .otherwise(col("event_type")).as("st"))
          .withColumn("nx", lead("st", 1).over(wr))
        val raw = jr.filter(col("rn") === 1)
            .select(lit("start").as("src"), col("st").as("dst"))
          .unionAll(jr.filter(col("nx").isNotNull)
            .select(col("st").as("src"), col("nx").as("dst")))
          .unionAll(jr.filter(col("nx").isNull && col("st") =!= "conv")
            .select(col("st").as("src"), lit("drop").as("dst")))
        val trans = raw.groupBy("src", "dst").agg(count(lit(1)).as("c"))
        val tot = trans.groupBy("src").agg(sum("c").as("tc"))
        val tppm = trans.join(tot, "src")
          .select(col("src"), col("dst"), expr("c * 1000000 div tc").as("ppm"))
          .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
          .toMap
        attributionTable(s, tppm,
          "start" +: MarkovChannels :+ "conv" :+ "drop", ch => Set(ch))
      },
      Some(markovOracleSql)),

    Q(
      "e18_session_paths",
      (s, dir) => {
        // SESSION-PATH census — journey mining's first question ("what
        // do sessions actually look like?"): each session's ordered
        // event-type sequence, truncated to its first 4 steps, counted
        // corpus-wide and ranked. Session rule is e02's VERBATIM
        // (30-min inactivity gap, (ts, event_id) total order — the
        // d15 no-drift rule applied to sessionization). The path
        // assembly sorts ≤ 4 (rn, type) structs per session — the
        // only lambda is a 4-element transform AFTER the size cap,
        // never over the raw stream. Scale: two user-keyed window
        // passes (one partitioning reused), then a paths-sized census;
        // the top-20 cut is rank-qualified, not LIMIT, so ties are
        // deterministic.
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("ts", "event_id")
        val wRun = w.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
        val sess = Tables(s, dir).events
          .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
            when(lag(col("ts"), 1).over(w).isNull ||
              unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w))
                > 1800000000L, 1).otherwise(0).as("new_session"))
          .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
            sum("new_session").over(wRun).cast("long").as("session_id"))
        val wS = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id", "session_id").orderBy("ts", "event_id")
        val paths = sess.withColumn("rn", row_number().over(wS))
          .filter(col("rn") <= 4)
          .groupBy("user_id", "session_id")
          .agg(concat_ws(">", transform(
            sort_array(collect_list(struct(col("rn"), col("event_type")))),
            st => st.getField("event_type"))).as("path"))
        val census = paths.groupBy("path").agg(count(lit(1)).as("n_sessions"))
        census
          .withColumn("rank", row_number().over(
            org.apache.spark.sql.expressions.Window
              .orderBy(col("n_sessions").desc, col("path"))).cast("int"))
          .filter(col("rank") <= 20)
          .select("rank", "path", "n_sessions")
          .orderBy("rank")
      },
      Some("""WITH sess AS (
             |  SELECT user_id, ts, event_id, event_type,
             |    CAST(sum(new_session) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             |      AS session_id
             |  FROM (
             |    SELECT *, CASE WHEN lag(ts, 1) OVER (PARTITION BY user_id
             |          ORDER BY ts, event_id) IS NULL
             |        OR date_diff('microsecond', lag(ts, 1) OVER (
             |             PARTITION BY user_id ORDER BY ts, event_id), ts)
             |           > 1800000000
             |      THEN 1 ELSE 0 END AS new_session
             |    FROM events)),
             |steps AS (SELECT user_id, session_id, event_type,
             |    row_number() OVER (PARTITION BY user_id, session_id
             |      ORDER BY ts, event_id) AS rn
             |  FROM sess),
             |paths AS (SELECT string_agg(event_type, '>' ORDER BY rn) AS path
             |  FROM steps WHERE rn <= 4 GROUP BY user_id, session_id),
             |census AS (SELECT path, count(*) AS n_sessions
             |  FROM paths GROUP BY 1)
             |SELECT CAST(rank AS INT) AS rank, path, n_sessions FROM (
             |  SELECT path, n_sessions,
             |    row_number() OVER (ORDER BY n_sessions DESC, path) AS rank
             |  FROM census)
             |WHERE rank <= 20 ORDER BY rank""".stripMargin)),

    Q(
      "e19_markov2_attribution",
      (s, dir) => {
        // SECOND-ORDER Markov attribution — e17 with pair states
        // (prev|cur), capturing the path dependence a first-order
        // chain cannot express (Anderl et al. 2016 evaluate orders
        // 1-4 and production systems ship order 2-3: "view after
        // click" and "view after error" convert differently, and a
        // first-order chain is structurally blind to it). Same
        // journey assembly, same 8-round integer-ppm bounded walk,
        // same removal-effect credit — the only change is the state
        // space: 'start' + (start+channels)×channels pair states +
        // absorbing conv/drop, and removing a channel blocks every
        // pair state whose CURRENT component is that channel (its
        // prev-component states are unreachable once those are
        // blocked, so blocking cur alone is complete). Scale: the
        // census is still one user-keyed window pass and a
        // (src,dst)-sized aggregate; the matrix is (5·4+3)²-sized
        // driver arithmetic — order k grows the matrix, never the
        // data-side work.
        val ev = Tables(s, dir).events
          .filter(col("event_type").isin(MarkovChannels :+ "purchase": _*))
          .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("ts", "event_id")
        val seq0 = ev.withColumn("rn", row_number().over(w))
        val seqd = org.apache.spark.sql.graftshim.InternalFrame.sharedScan(seq0)
        val fp = seqd.filter(col("event_type") === "purchase")
          .groupBy("user_id").agg(min("rn").as("pn"))
        val wr = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("rn")
        val jr = seqd.join(fp, Seq("user_id"), "left")
          .filter(col("pn").isNull || col("rn") <= col("pn"))
          .select(col("user_id"), col("rn"),
            when(col("event_type") === "purchase", lit("conv"))
              .otherwise(col("event_type")).as("st"))
        val lbl = jr
          .withColumn("pv", lag("st", 1).over(wr))
          .select(col("user_id"), col("rn"),
            when(col("st") === "conv", lit("conv"))
              .otherwise(concat_ws("|", coalesce(col("pv"), lit("start")),
                col("st"))).as("st"))
          .withColumn("nx", lead("st", 1).over(wr))
        val raw = lbl.filter(col("rn") === 1)
            .select(lit("start").as("src"), col("st").as("dst"))
          .unionAll(lbl.filter(col("nx").isNotNull)
            .select(col("st").as("src"), col("nx").as("dst")))
          .unionAll(lbl.filter(col("nx").isNull && col("st") =!= "conv")
            .select(col("st").as("src"), lit("drop").as("dst")))
        val trans = raw.groupBy("src", "dst").agg(count(lit(1)).as("c"))
        val tot = trans.groupBy("src").agg(sum("c").as("tc"))
        val tppm = trans.join(tot, "src")
          .select(col("src"), col("dst"), expr("c * 1000000 div tc").as("ppm"))
          .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
          .toMap
        attributionTable(s, tppm, "start" +: Markov2Pairs :+ "conv" :+ "drop",
          ch => Markov2Pairs.filter(_.endsWith("|" + ch)).toSet)
      },
      Some(markov2OracleSql)),

    Q(
      "e20_markov3_attribution",
      (s, dir) => {
        // THIRD-order Markov attribution — e19's pair machinery
        // extended one more lag (Anderl et al. 2016 evaluate orders
        // 1–4; each added order is ONE more lag on the same window
        // and one more component in the state label, exactly the
        // SURVEY §7 prediction). States are (prev2|prev1|cur)
        // triples with 'start' padding (pv1='start' forces
        // pv2='start', so the vocabulary is the 84 REACHABLE
        // triples, not 100); removing a channel blocks every triple
        // whose CURRENT component is that channel — the e19
        // completeness argument verbatim (a triple with the removed
        // channel in a prev slot is only reachable THROUGH a
        // cur-blocked state). Scale: the census is STILL one
        // user-keyed window pass (both lags ride the same window
        // spec — zero extra shuffles, see EXCHANGES.txt) and one
        // (src,dst)-sized aggregate; order k grows only the
        // states²-sized driver matrix (87² here vs e19's 23²).
        val ev = Tables(s, dir).events
          .filter(col("event_type").isin(MarkovChannels :+ "purchase": _*))
          .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("ts", "event_id")
        val seq0 = ev.withColumn("rn", row_number().over(w))
        val seqd = org.apache.spark.sql.graftshim.InternalFrame.sharedScan(seq0)
        val fp = seqd.filter(col("event_type") === "purchase")
          .groupBy("user_id").agg(min("rn").as("pn"))
        val wr = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("rn")
        val jr = seqd.join(fp, Seq("user_id"), "left")
          .filter(col("pn").isNull || col("rn") <= col("pn"))
          .select(col("user_id"), col("rn"),
            when(col("event_type") === "purchase", lit("conv"))
              .otherwise(col("event_type")).as("st"))
        val lbl = jr
          .withColumn("pv1", lag("st", 1).over(wr))
          .withColumn("pv2", lag("st", 2).over(wr))
          .select(col("user_id"), col("rn"),
            when(col("st") === "conv", lit("conv"))
              .otherwise(concat_ws("|",
                coalesce(col("pv2"), lit("start")),
                coalesce(col("pv1"), lit("start")), col("st"))).as("st"))
          .withColumn("nx", lead("st", 1).over(wr))
        val raw = lbl.filter(col("rn") === 1)
            .select(lit("start").as("src"), col("st").as("dst"))
          .unionAll(lbl.filter(col("nx").isNotNull)
            .select(col("st").as("src"), col("nx").as("dst")))
          .unionAll(lbl.filter(col("nx").isNull && col("st") =!= "conv")
            .select(col("st").as("src"), lit("drop").as("dst")))
        val trans = raw.groupBy("src", "dst").agg(count(lit(1)).as("c"))
        val tot = trans.groupBy("src").agg(sum("c").as("tc"))
        val tppm = trans.join(tot, "src")
          .select(col("src"), col("dst"), expr("c * 1000000 div tc").as("ppm"))
          .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
          .toMap
        attributionTable(s, tppm, "start" +: Markov3Triples :+ "conv" :+ "drop",
          ch => Markov3Triples.filter(_.endsWith("|" + ch)).toSet)
      },
      Some(markov3OracleSql)),

    Q(
      "st32_stream_attribution",
      (s, dir) => {
        // STREAMING Markov attribution under the DuckDB oracle — the
        // live-dashboard deployment of e17's removal-effect model:
        // journey edges extract AT INGEST (EventStreams.
        // markovCensusStream — fMGWS with ONE small row of state per
        // user: last label + converted flag + last event time), the
        // drained census is channels²-sized, and the walk is the
        // same 8-round integer-ppm driver arithmetic as e17. The
        // journey grain is SESSIONIZED (a stream has no end-of-data,
        // so journeys close after 60 min of event-time inactivity —
        // the in-fold gap check makes the split identical wherever
        // the micro-batch boundary falls, and the event-time TIMEOUT
        // emits the final drop edge of journeys with no further
        // events, fired here by two watermark-advancing sentinel
        // batches whose 'noop' type the operator ignores). The
        // oracle replays the sessionized census (cumulative-sum
        // session ids) + the identical unrolled walk. Universe caps
        // ABSOLUTE at user_id < 300 (st18's discipline). collect()
        // is the MemoryStream feeding harness.
        import graft.streaming.EventStreams
        implicit val sqlCtx = s.sqlContext
        implicit val evEnc =
          org.apache.spark.sql.Encoders.product[EventStreams.Event]
        val rows = Tables(s, dir).events
          .filter(col("user_id") < 300 &&
            col("event_type").isin(MarkovChannels :+ "purchase": _*))
          .select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value"))
          .orderBy("ts", "event_id")
          .as[EventStreams.Event].collect()
        val maxTsMs = rows.map(_.ts.getTime).max
        val stream = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[EventStreams.Event]
        val chunk = math.max(1, (rows.length + 1) / 2)
        val edges = StreamReplay(s,
            EventStreams.markovCensusStream(stream.toDS(), MarkovChannels),
            "st32_edges")(
          rows.grouped(chunk).map(batch => () =>
            stream.addData(batch.toIndexedSeq)) ++
          // two watermark-advancing sentinel batches (st09's flush
          // pattern): the first moves the watermark past every
          // journey's close-out; the second's processing fires the
          // timeouts that emit the final drop edges
          Seq(100L, 101L).map(off => () =>
            stream.addData(IndexedSeq(EventStreams.Event(-1L,
              new java.sql.Timestamp(maxTsMs + off * 3600L * 1000L),
              -1L, "noop", 0.0)))))
        val tppm = {
          val trans = edges
            .groupBy("src", "dst").agg(count(lit(1)).as("c"))
          // explicit re-alias: the memory-sink table's self-derived
          // attributes collide under the bare string-key join
          val tot = trans.select(col("src").as("tsrc"), col("c").as("tc0"))
            .groupBy("tsrc").agg(sum("tc0").as("tc"))
          trans.join(tot, col("src") === col("tsrc"))
            .select(col("src"), col("dst"),
              expr("c * 1000000 div tc").as("ppm"))
            .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
            .toMap
        }
        attributionTable(s, tppm,
          "start" +: MarkovChannels :+ "conv" :+ "drop", ch => Set(ch))
      },
      Some(markovSessionOracleSql("user_id < 300", gapMinutes = 60))),

    Q(
      "e21_kaplan_meier",
      (s, dir) => {
        // KAPLAN–MEIER survival analysis (Kaplan & Meier 1958 — the
        // right-censored product-limit estimator) of TIME TO
        // CONVERSION at session grain: each session (e02's VERBATIM
        // 30-min rule — the d15 no-drift discipline) is a subject
        // whose clock runs from its first event; a session that
        // purchases "dies" at its first purchase minute, one that ends
        // without purchasing is CENSORED at its last event — the
        // honest right-censoring this corpus actually produces (user
        // lifetimes never censor here: every user stays active to the
        // horizon and every user eventually purchases). Cohorts are
        // the session-start date. At each duration t the at-risk count
        // n_t is every session surviving ≥ t (censored-at-t still at
        // risk — the deaths-before-censors tie rule) and
        // S(t) = Π (1 − d/n). Each ln factor quantizes to integer
        // micro-nats BEFORE the cumulative sum (t22's engine-exactness
        // move); a d = n row zeroes survival outright rather than
        // passing ln(0). Durations are exact integer minute floors
        // (micros div 6e7 — no engine date_diff semantics in the
        // hash). Scale: two single-pass event-sized shuffles (the
        // user-keyed sessionize window, then the (user, sid) rollup —
        // hash(user) and hash(user, sid) cannot co-partition);
        // everything after is (cohorts × minutes)-sized and the KM
        // windows partition by cohort.
        val wCum = Window.partitionBy("cohort").orderBy("dur_min")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val lnq = survivalRisk(s, dir)
          .withColumn("ln_micro",
            when(col("churned") === 0 || col("churned") >= col("at_risk"), lit(0L))
              .otherwise(floor(
                log(lit(1.0) - col("churned").cast("double") / col("at_risk"))
                  * 1e6 + 0.5).cast("long")))
          .withColumn("z", when(col("churned") >= col("at_risk"), 1L).otherwise(0L))
        lnq
          .withColumn("cum_ln", sum("ln_micro").over(wCum))
          .withColumn("zeros", sum("z").over(wCum))
          .select(col("cohort"), col("dur_min"), col("at_risk"),
            col("churned"), col("censored"),
            when(col("zeros") > 0, lit(0.0))
              .otherwise(fround(exp(col("cum_ln") / 1e6), 6)).as("surv"))
          .orderBy("cohort", "dur_min")
      },
      Some(s"""WITH $survivalRiskSql,
             |lnq AS (
             |  SELECT *,
             |    CASE WHEN churned = 0 OR churned >= at_risk THEN 0
             |      ELSE CAST(floor(ln(1.0 - CAST(churned AS DOUBLE) / at_risk)
             |        * 1e6 + 0.5) AS BIGINT) END AS ln_micro,
             |    CASE WHEN churned >= at_risk THEN 1 ELSE 0 END AS z
             |  FROM risk),
             |cum AS (
             |  SELECT cohort, dur_min, at_risk, churned, censored,
             |    sum(ln_micro) OVER w AS cum_ln, sum(z) OVER w AS zeros
             |  FROM lnq
             |  WINDOW w AS (PARTITION BY cohort ORDER BY dur_min
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
             |SELECT cohort, dur_min, at_risk, churned, censored,
             |  CASE WHEN zeros > 0 THEN 0.0
             |    ELSE floor(exp(cum_ln / 1e6) * 1e6 + 0.5) / 1e6 END AS surv
             |FROM cum ORDER BY cohort, dur_min""".stripMargin)),

    Q(
      "e23_nelson_aalen",
      (s, dir) => {
        // NELSON–AALEN cumulative hazard (Nelson 1972; Aalen 1978 —
        // the other canonical survival estimator, completing the
        // classic trio with e21's KM and e22's log-rank): on e21's
        // EXACT shared risk frame, H(t) = Σ d/n accumulates in exact
        // integer micro (d·10^6 div n — unlike KM's ln factors,
        // NOTHING here needs a transcendental), the standard variance
        // Σ d/n² in exact integer nano, and the Fleming–Harrington
        // survival S = exp(−H) quantizes like e21's surv. Only
        // conversion-time rows emit (the estimator steps nowhere
        // else). Spec cross-checks the textbook dominance S_FH ≥ S_KM
        // row-for-row against e21. Same two event-sized shuffles as
        // e21; everything past the shared rollup is spine-sized.
        val wCum = Window.partitionBy("cohort").orderBy("dur_min")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        survivalRisk(s, dir)
          .withColumn("h_micro", expr("churned * 1000000 div at_risk"))
          .withColumn("v_nano",
            expr("churned * 1000000000 div (at_risk * at_risk)"))
          .withColumn("hazard_cum_micro", sum("h_micro").over(wCum))
          .withColumn("var_cum_nano", sum("v_nano").over(wCum))
          .filter(col("churned") > 0)
          .select(col("cohort"), col("dur_min"), col("at_risk"), col("churned"),
            col("hazard_cum_micro"), col("var_cum_nano"),
            fround(exp(-col("hazard_cum_micro") / 1e6), 6).as("surv_fh"))
          .orderBy("cohort", "dur_min")
      },
      Some(s"""WITH $survivalRiskSql,
             |terms AS (
             |  SELECT *,
             |    churned * 1000000 // at_risk AS h_micro,
             |    churned * 1000000000 // (at_risk * at_risk) AS v_nano
             |  FROM risk),
             |cum AS (
             |  SELECT cohort, dur_min, at_risk, churned,
             |    CAST(sum(h_micro) OVER w AS BIGINT) AS hazard_cum_micro,
             |    CAST(sum(v_nano) OVER w AS BIGINT) AS var_cum_nano
             |  FROM terms
             |  WINDOW w AS (PARTITION BY cohort ORDER BY dur_min
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
             |SELECT cohort, dur_min, at_risk, churned,
             |  hazard_cum_micro, var_cum_nano,
             |  floor(exp(-hazard_cum_micro / 1e6) * 1e6 + 0.5) / 1e6 AS surv_fh
             |FROM cum WHERE churned > 0
             |ORDER BY cohort, dur_min""".stripMargin)),

    Q(
      "e22_logrank",
      (s, dir) => {
        // LOG-RANK test (Mantel 1966 — the standard two-sample
        // comparison of survival curves, e21's statistical sibling):
        // do sessions that OPEN with a 'view' convert on a different
        // clock than sessions opening any other way? Subjects,
        // durations (integer minutes to first purchase), and
        // censoring (session ends unconverted) are e21's EXACT
        // session frame — shared code, the d15 no-drift rule. At each
        // conversion time t the observed group-A conversions compare
        // against the hypergeometric expectation E_A = d·n_A/n with
        // variance d·n_A·n_B·(n−d) / (n²·(n−1)); the running
        // statistic χ² = (Σ(O−E))²/ΣV rides every output row, the
        // last row being the test. E_A is EXACT integer micro
        // arithmetic (d·n_A·10^6 div n); V uses one double expression
        // written identically in both engines (IEEE ops are
        // deterministic), quantized to micro before the cumulative
        // sum. Scale: e21's two event-sized shuffles (sessionize
        // window + session rollup); the spine after them is
        // ≤ max-session-minutes rows, so the global windows are free.
        val wCum = Window.orderBy("dur_min")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val terms = logrankSpine(s, dir)
          .withColumn("ea_micro", expr("d * n_a * 1000000 div n"))
          .withColumn("v_micro",
            when(col("n") > 1, floor(
              col("d").cast("double") * col("n_a") * col("n_b") * (col("n") - col("d"))
                / (col("n").cast("double") * col("n") * (col("n") - 1))
                * 1e6 + 0.5).cast("long"))
              .otherwise(lit(0L)))
          .withColumn("oe_micro", col("d_a") * 1000000L - col("ea_micro"))
        terms
          .withColumn("oe_cum_micro", sum("oe_micro").over(wCum))
          .withColumn("v_cum_micro", sum("v_micro").over(wCum))
          .filter(col("d") > 0)
          .select(col("dur_min"), col("n_a"), col("d_a"), col("n_b"), col("d_b"),
            col("ea_micro"), col("v_micro"), col("oe_cum_micro"), col("v_cum_micro"),
            when(col("v_cum_micro") > 0, fround(
              (col("oe_cum_micro") / 1e6) * (col("oe_cum_micro") / 1e6)
                / (col("v_cum_micro") / 1e6), 6)).otherwise(lit(0.0)).as("chi2"))
          .orderBy("dur_min")
      },
      Some(s"""WITH ${logrankSpineSql()},
             |terms AS (
             |  SELECT *, n_a + n_b AS n,
             |    d * n_a * 1000000 // (n_a + n_b) AS ea_micro,
             |    CASE WHEN n_a + n_b > 1 THEN CAST(floor(
             |      CAST(d AS DOUBLE) * n_a * n_b * (n_a + n_b - d)
             |        / (CAST(n_a + n_b AS DOUBLE) * (n_a + n_b) * (n_a + n_b - 1))
             |        * 1e6 + 0.5) AS BIGINT) ELSE 0 END AS v_micro,
             |    d_a * 1000000 - (d * n_a * 1000000 // (n_a + n_b)) AS oe_micro
             |  FROM risk),
             |cum AS (
             |  SELECT dur_min, n_a, d_a, n_b, d_b, d, ea_micro, v_micro,
             |    sum(oe_micro) OVER wc AS oe_cum_micro,
             |    sum(v_micro) OVER wc AS v_cum_micro
             |  FROM terms
             |  WINDOW wc AS (ORDER BY dur_min ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
             |SELECT dur_min, n_a, d_a, n_b, d_b, ea_micro, v_micro,
             |  CAST(oe_cum_micro AS BIGINT) AS oe_cum_micro,
             |  CAST(v_cum_micro AS BIGINT) AS v_cum_micro,
             |  CASE WHEN v_cum_micro > 0 THEN floor(
             |    (oe_cum_micro / 1e6) * (oe_cum_micro / 1e6) / (v_cum_micro / 1e6)
             |      * 1e6 + 0.5) / 1e6 ELSE 0.0 END AS chi2
             |FROM cum WHERE d > 0 ORDER BY dur_min""".stripMargin)),

    Q(
      "e24_cox",
      (s, dir) => {
        // COX PROPORTIONAL HAZARDS (Cox 1972) with one binary
        // covariate — does opening a session with a 'view' multiply
        // the conversion hazard? — completing the survival surface the
        // r14 trio started: e21/e23 estimate the curves, e22 TESTS the
        // difference, Cox QUANTIFIES it as a hazard ratio. Newton's
        // method on the Breslow-ties partial likelihood, fit ON THE
        // DRIVER over e22's EXACT shared two-group risk spine (the d15
        // no-drift rule; the spine is ≤ max-session-minutes rows, so
        // the fit input is bounded however large the corpus — the
        // e17/gp11 fit-on-driver pattern). For a binary covariate the
        // per-time score reduces to d_a − d·r1 and the information to
        // d·r1·(1−r1) with r1 = w·n_a/(w·n_a + n_b), w = e^β — so each
        // Newton step is one pass over the spine. REPLAYABLE-FIT
        // discipline: β lives in integer micro-units; w quantizes to
        // micro via ONE exp per step; r1 is one double expression
        // written identically in both engines (exact integer→double
        // conversions, IEEE-deterministic ops); each score/information
        // term quantizes to micro BEFORE the order-free integer sums;
        // the update divides truncating-toward-zero in both engines
        // (Java / = DuckDB //). The oracle unrolls all 6 steps as
        // CTEs. Overflow bound: the update computes U·10⁶ with
        // |U| ≤ Σdeaths·10⁶, so Σdeaths must stay under ~9.2e6
        // (≈ sf40; ~2e5 at sf1) — the kernel asserts it.
        // Output: one row per Newton step (entry weight, score U,
        // information I, updated β, hazard ratio) — the fit trajectory
        // itself is the hash-checked artifact, the gp11 move.
        val rows = collectSpine(logrankSpine(s, dir)
          .filter(col("d") > 0)
          .select(col("dur_min"), col("d_a"), col("d"), col("n_a"), col("n_b"))
          .orderBy("dur_min"), "e24")
          .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        import s.implicits._
        coxNewton(rows.toSeq).toDF("step", "w_micro", "u_micro", "i_micro",
          "beta_micro", "hr_micro").orderBy("step")
      },
      Some(coxOracleSql)),

    Q(
      "e26_cox_baseline",
      (s, dir) => {
        // BRESLOW BASELINE cumulative hazard (Breslow 1972 — the
        // standard companion estimate to a fitted Cox model): with
        // β̂ from e24's EXACT Newton fit (same kernel, same spine —
        // the fit replays deterministically, so two queries cannot
        // drift), H₀(t) = Σ_{s≤t} d_s / (e^β̂·n_a(s) + n_b(s)) gives
        // the group-b hazard clock and e^β̂·H₀ the group-a one — the
        // absolute survival curves the hazard RATIO alone doesn't
        // give. All hazard arithmetic is EXACT integer micro:
        // h₀ = d·10¹² div (w·n_a + 10⁶·n_b) with w = e24's final
        // hr_micro (bound: w·n_a ≤ 2e13 at sf1 — far under 2^63),
        // cumulated over the ordered spine; the two survival curves
        // quantize like e21's (one exp per row, micro-rounded). One
        // more pass over the SHARED spine — nothing new distributed.
        val spine = logrankSpine(s, dir)
          .filter(col("d") > 0)
          .select(col("dur_min"), col("d_a"), col("d"), col("n_a"), col("n_b"))
        val rows = collectSpine(spine.orderBy("dur_min"), "e26")
          .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        val w = coxNewton(rows.toSeq).last._6
        // ha_cum·w and w·n_a must stay under 2^63: w < 10⁹ bounds
        // β̂ < ln(10³) ≈ 6.9 — any real effect is far smaller, and a
        // fit THAT extreme means the covariate separates the data
        // (the partial likelihood has no finite MLE); fail loudly.
        // Symmetric lower bound: β̂ ≤ −14.5 quantizes w to 0 micro,
        // zeroing the h0 denominator on tail rows with n_b = 0 —
        // Spark div would return NULL while DuckDB // raises, a
        // silent engine divergence instead of this loud failure
        require(w > 0L && w < 1000000000L,
          s"e26: fitted hazard ratio $w micro overflows the integer hazard path")
        val wCum = Window.orderBy("dur_min")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        spine
          .withColumn("h0_micro",
            expr(s"d * 1000000000000 div ($w * n_a + 1000000 * n_b)"))
          .withColumn("h0_cum_micro", sum("h0_micro").over(wCum).cast("long"))
          .withColumn("ha_cum_micro",
            expr(s"h0_cum_micro * $w div 1000000").cast("long"))
          .select(col("dur_min"), col("d"), col("n_a"), col("n_b"),
            col("h0_cum_micro"), col("ha_cum_micro"),
            fround(exp(-col("h0_cum_micro") / 1e6), 6).as("surv_b"),
            fround(exp(-col("ha_cum_micro") / 1e6), 6).as("surv_a"))
          .orderBy("dur_min")
      },
      Some(coxBaselineOracleSql)),

    Q(
      "e27_cox2",
      (s, dir) => {
        // TWO-COVARIATE Cox proportional hazards — §7's named
        // successor to e24, the same driver pattern one rank up: does
        // opening with a 'view' (x1) and starting on a WEEKEND (x2)
        // each multiply the conversion hazard, controlling for the
        // other? Newton is now a 2×2 solve on the Breslow partial
        // likelihood over the 4-group spine (the x1×x2 cells of the
        // SAME sessionSubjects frame — e22/e24's censoring semantics
        // verbatim). Replayable-fit discipline extended: β₁/β₂ in
        // integer micro; TWO exps per step quantized to micro (the
        // cross cell's weight is w₁·w₂ div 10⁶ — integer, no third
        // exp); per-time score/information terms quantize to micro
        // before order-free sums; the 2×2 solve runs in DOUBLES from
        // the integer sums with identically-written expressions (the
        // products exceed 2^53 so they ROUND, but IEEE rounding is
        // deterministic and both engines evaluate the same tree);
        // updates floor(x·10⁶ + 0.5) — exactly replayed by the
        // oracle's unrolled CTEs. Fits β₁ ≈ e24's view effect
        // (sign-consistent by construction) with β₂ the weekend
        // adjustment. Spine is ≤ max-session-minutes rows; the fit
        // input is bounded at any corpus size.
        val rows = collectSpine(cox2Spine(s, dir)
          .filter(col("d") > 0)
          .select(col("dur_min"), col("d00"), col("d01"), col("d10"),
            col("d11"), col("n00"), col("n01"), col("n10"), col("n11"))
          .orderBy("dur_min"), "e27")
          .map(r => Cox2Row(r.getLong(1), r.getLong(2), r.getLong(3),
            r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7),
            r.getLong(8)))
        import s.implicits._
        coxNewton2(rows.toSeq).toDF("step", "b1_micro", "b2_micro",
          "ua_micro", "ub_micro", "iaa_micro", "iab_micro", "ibb_micro",
          "hr1_micro", "hr2_micro").orderBy("step")
      },
      Some(cox2OracleSql)),

    Q(
      "e28_competing_risks",
      (s, dir) => {
        // AALEN–JOHANSEN competing risks (Aalen & Johansen 1978 — the
        // estimator when subjects can exit for MORE THAN ONE reason,
        // where a naive per-cause KM overstates every cause): cause 1
        // = conversion (first purchase, e21's clock verbatim), cause 2
        // = ABANDONED ON ERROR (the session's final event is an
        // 'error'), censored otherwise. The cumulative incidence
        // CIF_k(t) = Σ_{s≤t} S(s−)·d_k(s)/n(s) splits the all-cause
        // KM complement BY CAUSE — in EXACT integer micro: the
        // all-cause survival runs e21's quantized-ln discipline,
        // S(s−) quantizes once per row, and each increment is the
        // pure integer (S_prev_micro·d_k) div n, so the two CIFs and
        // the survival share one arithmetic and the textbook identity
        // CIF₁+CIF₂ ≈ 1−S holds to quantization. Subjects extend
        // [[sessionSubjects]]'s construction with a session-FINAL
        // marker (lead-based, symmetric to the ns opener) so the
        // terminal event type aggregates as a singleton max — the
        // same replay trick as first_type. Scale: e21's two
        // event-sized shuffles; the spine after is minutes-sized.
        val wCum = Window.orderBy("dur_min")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wPrev = Window.orderBy("dur_min")
          .rowsBetween(Window.unboundedPreceding, -1)
        val risk = competingRisk(s, dir)
        val lnq = risk
          .withColumn("d", col("d1") + col("d2"))
          .withColumn("ln_micro",
            when(col("d") === 0 || col("d") >= col("at_risk"), lit(0L))
              .otherwise(floor(
                log(lit(1.0) - (col("d1") + col("d2")).cast("double") / col("at_risk"))
                  * 1e6 + 0.5).cast("long")))
          .withColumn("z", when(col("d") >= col("at_risk"), 1L).otherwise(0L))
        val surv = lnq
          .withColumn("cum_ln_prev", coalesce(sum("ln_micro").over(wPrev), lit(0L)))
          .withColumn("zeros_prev", coalesce(sum("z").over(wPrev), lit(0L)))
          .withColumn("s_prev_micro",
            when(col("zeros_prev") > 0, lit(0L))
              .otherwise(floor(exp(col("cum_ln_prev") / 1e6) * 1e6 + 0.5).cast("long")))
          .withColumn("inc1", expr("s_prev_micro * d1 div at_risk"))
          .withColumn("inc2", expr("s_prev_micro * d2 div at_risk"))
        surv
          .withColumn("cif1_micro", sum("inc1").over(wCum).cast("long"))
          .withColumn("cif2_micro", sum("inc2").over(wCum).cast("long"))
          .filter(col("d") > 0)
          .select(col("dur_min"), col("at_risk"), col("d1"), col("d2"),
            col("censored"), col("s_prev_micro"),
            col("cif1_micro"), col("cif2_micro"))
          .orderBy("dur_min")
      },
      Some(s"""WITH $competingRiskSql,
             |lnq AS (
             |  SELECT *, d1 + d2 AS d,
             |    CASE WHEN d1 + d2 = 0 OR d1 + d2 >= at_risk THEN 0
             |      ELSE CAST(floor(ln(1.0 - CAST(d1 + d2 AS DOUBLE) / at_risk)
             |        * 1e6 + 0.5) AS BIGINT) END AS ln_micro,
             |    CASE WHEN d1 + d2 >= at_risk THEN 1 ELSE 0 END AS z
             |  FROM risk),
             |surv AS (
             |  SELECT *,
             |    CASE WHEN coalesce(sum(z) OVER wp, 0) > 0 THEN 0
             |      ELSE CAST(floor(exp(coalesce(sum(ln_micro) OVER wp, 0) / 1e6)
             |        * 1e6 + 0.5) AS BIGINT) END AS s_prev_micro
             |  FROM lnq
             |  WINDOW wp AS (ORDER BY dur_min
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
             |incs AS (
             |  SELECT *,
             |    s_prev_micro * d1 // at_risk AS inc1,
             |    s_prev_micro * d2 // at_risk AS inc2
             |  FROM surv),
             |cum AS (
             |  SELECT dur_min, at_risk, d1, d2, censored, d, s_prev_micro,
             |    CAST(sum(inc1) OVER wc AS BIGINT) AS cif1_micro,
             |    CAST(sum(inc2) OVER wc AS BIGINT) AS cif2_micro
             |  FROM incs
             |  WINDOW wc AS (ORDER BY dur_min
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
             |SELECT dur_min, at_risk, d1, d2, censored, s_prev_micro,
             |  cif1_micro, cif2_micro
             |FROM cum WHERE d > 0 ORDER BY dur_min""".stripMargin)),

    Q(
      "e25_logrank_strat",
      (s, dir) => {
        // STRATIFIED log-rank (the standard confounder control —
        // compare the two opening-type groups WITHIN each session-start
        // cohort, then pool): e22's hypergeometric O−E and V accumulate
        // inside each stratum (each cohort keeps its own at-risk
        // clock), and the pooled χ² = (Σ_strata ΣO−E)² / Σ_strata ΣV
        // rides every output row. One more GROUP BY level on the SAME
        // shared spine — logrankSpine(strata = cohort) — so the
        // stratified and unstratified tests can never drift in their
        // subject or censoring semantics. Scale: identical to e22 (the
        // spine is (cohorts × minutes)-sized; windows partition by
        // cohort, the pooled sums are spine-sized).
        val terms = logrankSpine(s, dir, strata = Seq("cohort"))
          .withColumn("ea_micro", expr("d * n_a * 1000000 div n"))
          .withColumn("v_micro",
            when(col("n") > 1, floor(
              col("d").cast("double") * col("n_a") * col("n_b") * (col("n") - col("d"))
                / (col("n").cast("double") * col("n") * (col("n") - 1))
                * 1e6 + 0.5).cast("long"))
              .otherwise(lit(0L)))
          .withColumn("oe_micro", col("d_a") * 1000000L - col("ea_micro"))
        val perStratum = terms
          .groupBy("cohort")
          .agg(sum(when(col("d") > 0, col("d_a")).otherwise(0L)).cast("long").as("d_a"),
            sum(when(col("d") > 0, col("d_b")).otherwise(0L)).cast("long").as("d_b"),
            max("n_a").as("n_a0"), max("n_b").as("n_b0"),
            sum("oe_micro").cast("long").as("oe_micro"),
            sum("v_micro").cast("long").as("v_micro"))
        val wAll = Window.partitionBy()
        perStratum
          .withColumn("oe_pool_micro", sum("oe_micro").over(wAll).cast("long"))
          .withColumn("v_pool_micro", sum("v_micro").over(wAll).cast("long"))
          .select(col("cohort"), col("n_a0"), col("n_b0"), col("d_a"), col("d_b"),
            col("oe_micro"), col("v_micro"),
            when(col("v_pool_micro") > 0, fround(
              (col("oe_pool_micro") / 1e6) * (col("oe_pool_micro") / 1e6)
                / (col("v_pool_micro") / 1e6), 6)).otherwise(lit(0.0)).as("chi2_strat"))
          .orderBy("cohort")
      },
      Some(s"""WITH ${logrankSpineSql(Seq("cohort"))},
             |terms AS (
             |  SELECT *, n_a + n_b AS n,
             |    d * n_a * 1000000 // (n_a + n_b) AS ea_micro,
             |    CASE WHEN n_a + n_b > 1 THEN CAST(floor(
             |      CAST(d AS DOUBLE) * n_a * n_b * (n_a + n_b - d)
             |        / (CAST(n_a + n_b AS DOUBLE) * (n_a + n_b) * (n_a + n_b - 1))
             |        * 1e6 + 0.5) AS BIGINT) ELSE 0 END AS v_micro,
             |    d_a * 1000000 - (d * n_a * 1000000 // (n_a + n_b)) AS oe_micro
             |  FROM risk),
             |per_stratum AS (
             |  SELECT cohort,
             |    CAST(sum(CASE WHEN d > 0 THEN d_a ELSE 0 END) AS BIGINT) AS d_a,
             |    CAST(sum(CASE WHEN d > 0 THEN d_b ELSE 0 END) AS BIGINT) AS d_b,
             |    CAST(max(n_a) AS BIGINT) AS n_a0,
             |    CAST(max(n_b) AS BIGINT) AS n_b0,
             |    CAST(sum(oe_micro) AS BIGINT) AS oe_micro,
             |    CAST(sum(v_micro) AS BIGINT) AS v_micro
             |  FROM terms GROUP BY 1)
             |SELECT cohort, n_a0, n_b0, d_a, d_b, oe_micro, v_micro,
             |  CASE WHEN sum(v_micro) OVER () > 0 THEN floor(
             |    (sum(oe_micro) OVER () / 1e6) * (sum(oe_micro) OVER () / 1e6)
             |      / (sum(v_micro) OVER () / 1e6) * 1e6 + 0.5) / 1e6
             |    ELSE 0.0 END AS chi2_strat
             |FROM per_stratum ORDER BY cohort""".stripMargin)),

    Q(
      "st33_stream_outer_join",
      (s, dir) => {
        // Stream-stream LEFT OUTER join under the DuckDB oracle — the
        // watermark-FINALIZED emission semantics st14's inner join
        // never exercises: a purchase with no qualifying click emits
        // (with null click columns) only once the global watermark
        // passes its state-expiry bound, proving Spark holds the row
        // back until no matching click can still arrive. Same slice,
        // predicate, and eviction math as st14 (user_id < 500 ABSOLUTE
        // cap; 1 h watermark + 1 h tolerance; time-split feed at the
        // median ts so cross-boundary pairs prove buffer survival).
        // Two sentinel flush batches on BOTH streams (st09's pattern —
        // outer emission needs the min-across-inputs watermark to
        // advance, and emission uses the previous batch's watermark)
        // force every unmatched purchase out; the sentinels' user_id
        // −1 rows are filtered from the drained sink. collect() is the
        // MemoryStream feeding harness; production uses readStream.
        import graft.streaming.EventStreams
        implicit val sqlCtx = s.sqlContext
        implicit val evEnc = org.apache.spark.sql.Encoders.product[EventStreams.Event]
        // ONE scan+sort feeds both sides (driver-side stable type
        // split; see st14) instead of two full events scans
        val fed = Tables(s, dir).events.filter(col("user_id") < 500)
          .filter(col("event_type").isin("click", "purchase"))
          .select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value"))
          .orderBy("ts", "event_id").as[EventStreams.Event](evEnc).collect()
        val clicks = fed.filter(_.event_type == "click")
        val purchases = fed.filter(_.event_type == "purchase")
        val allTs = (clicks.map(_.ts.getTime) ++ purchases.map(_.ts.getTime)).sorted
        val thr = allTs(allTs.length / 2)
        val maxTs = allTs.last
        val cStream = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[EventStreams.Event]
        val pStream = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[EventStreams.Event]
        StreamReplay(s,
            EventStreams.attributionJoin(cStream.toDF(), pStream.toDF(),
              leftOuter = true),
            "st33_pairs")(
          Seq(true, false).map { firstHalf => () =>
            cStream.addData(clicks.filter(c => (c.ts.getTime <= thr) == firstHalf).toSeq)
            pStream.addData(purchases.filter(p => (p.ts.getTime <= thr) == firstHalf).toSeq)
          } ++
          Seq(72L, 73L).map { off => () =>
            val sentinel = EventStreams.Event(-1L,
              new java.sql.Timestamp(maxTs + off * 3600L * 1000L), -1L, "noop", 0.0)
            cStream.addData(IndexedSeq(sentinel))
            pStream.addData(IndexedSeq(sentinel))
          })
          .filter(col("user_id") >= 0)
          .select(col("user_id"), col("purchase_id"), col("click_id"),
            unix_micros(col("purchase_ts")).as("p_us"),
            unix_micros(col("click_ts")).as("c_us"),
            fround(col("value"), 2).as("value"))
          .orderBy("purchase_id", "click_id")
      },
      Some("""SELECT p.user_id, p.event_id AS purchase_id,
             |  c.event_id AS click_id, epoch_us(p.ts) AS p_us,
             |  epoch_us(c.ts) AS c_us,
             |  floor(p.value * 100.0 + 0.5) / 100.0 AS value
             |FROM events p LEFT JOIN events c
             |  ON c.user_id = p.user_id AND c.event_type = 'click'
             | AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
             |WHERE p.event_type = 'purchase' AND p.user_id < 500
             |ORDER BY purchase_id, click_id""".stripMargin))
  )

  /** The per-duration TWO-GROUP risk spine shared by e22 (log-rank)
    * and e24 (Cox): [[sessionSubjects]] labeled by whether the session
    * OPENS with a 'view' (group a) or anything else (group b), grouped
    * per duration minute with deaths/censors per group and the at-risk
    * counts telescoped off the totals — the d15 no-drift rule, one
    * frame, two consumers. Optionally stratified: `strata` prepends
    * grouping columns (e25 passes `cohort`) and the telescoping
    * windows partition by them, so each stratum carries its own
    * at-risk clock. Columns: strata… , dur_min, d_a, c_a, d_b, c_b,
    * n_a, n_b, d, n. */
  /** Hard cap on rows any fit-on-driver spine collect may return.
    * The Cox-family / PH-diagnostic collects (e24/e26/e29/e32 and the
    * Survival consumers) are correct-by-construction ONLY while
    * sessionization bounds durations to max-session-minutes — a spine
    * row per distinct minute, thousands at worst. That invariant is
    * load-bearing across nine queries; this single shared guard turns
    * a future semantics change (e.g. a per-subject grain leaking into
    * the spine) from a silent driver-memory risk into a loud failure.
    * 100k sits far above any real minute grain and far below subject
    * counts at gate SFs. */
  private[queries] val MaxSpineRows = 100000

  /** The shared fit-on-driver spine collect: collects the frame and
    * REQUIREs it stays spine-sized (see [[MaxSpineRows]]). Every
    * driver-side survival fit routes through this. */
  private[queries] def collectSpine(df: org.apache.spark.sql.DataFrame,
      what: String): Array[org.apache.spark.sql.Row] = {
    val rows = df.collect()
    require(rows.length <= MaxSpineRows,
      s"$what: spine collect returned ${rows.length} rows (> $MaxSpineRows)" +
        " — the max-session-minutes grain invariant no longer holds;" +
        " the fit-on-driver pattern is unsafe on this frame")
    rows
  }

  private[queries] def logrankSpine(s: SparkSession, dir: String,
      strata: Seq[String] = Nil) = {
    val labeled = sessionSubjects(s, dir)
      .select((strata.map(col) :+
        when(col("first_type") === "view", lit("a")).otherwise(lit("b")).as("grp") :+
        col("dur_min") :+ col("ch")): _*)
    val spine = labeled.groupBy((strata :+ "dur_min").map(col): _*)
      .agg(
        sum(when(col("grp") === "a", col("ch")).otherwise(0L)).cast("long").as("d_a"),
        sum(when(col("grp") === "a", lit(1L) - col("ch")).otherwise(0L)).cast("long").as("c_a"),
        sum(when(col("grp") === "b", col("ch")).otherwise(0L)).cast("long").as("d_b"),
        sum(when(col("grp") === "b", lit(1L) - col("ch")).otherwise(0L)).cast("long").as("c_b"))
    val wPrior = Window.partitionBy(strata.map(col): _*).orderBy("dur_min")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy(strata.map(col): _*)
    spine
      .withColumn("n_a", (sum(col("d_a") + col("c_a")).over(wAll)
        - coalesce(sum(col("d_a") + col("c_a")).over(wPrior), lit(0L))).cast("long"))
      .withColumn("n_b", (sum(col("d_b") + col("c_b")).over(wAll)
        - coalesce(sum(col("d_b") + col("c_b")).over(wPrior), lit(0L))).cast("long"))
      .withColumn("d", col("d_a") + col("d_b"))
      .withColumn("n", col("n_a") + col("n_b"))
  }

  /** DuckDB twin of [[logrankSpine]] — `subj` + `lab` + `spine` +
    * `risk` CTEs; `risk` carries (strata…, dur_min, d_a, c_a, d_b,
    * c_b, n_a, n_b, d). (`n` stays inline as n_a + n_b where needed —
    * e22's original text.) */
  private[queries] def logrankSpineSql(strata: Seq[String] = Nil): String = {
    val scols = strata.map(c => s"$c, ").mkString
    val part = if (strata.isEmpty) "" else s"PARTITION BY ${strata.mkString(", ")} "
    val pb = if (strata.isEmpty) "()" else s"($part)"
    s"""$sessionSubjectsSql,
       |lab AS (
       |  SELECT ${scols}CASE WHEN first_type = 'view' THEN 'a' ELSE 'b' END AS grp,
       |    dur_min, ch
       |  FROM subj),
       |spine AS (
       |  SELECT ${scols}dur_min,
       |    CAST(sum(CASE WHEN grp = 'a' THEN ch ELSE 0 END) AS BIGINT) AS d_a,
       |    CAST(sum(CASE WHEN grp = 'a' THEN 1 - ch ELSE 0 END) AS BIGINT) AS c_a,
       |    CAST(sum(CASE WHEN grp = 'b' THEN ch ELSE 0 END) AS BIGINT) AS d_b,
       |    CAST(sum(CASE WHEN grp = 'b' THEN 1 - ch ELSE 0 END) AS BIGINT) AS c_b
       |  FROM lab GROUP BY ${(1 to strata.length + 1).mkString(", ")}),
       |risk AS (
       |  SELECT *,
       |    CAST(sum(d_a + c_a) OVER $pb - coalesce(sum(d_a + c_a) OVER wp, 0) AS BIGINT) AS n_a,
       |    CAST(sum(d_b + c_b) OVER $pb - coalesce(sum(d_b + c_b) OVER wp, 0) AS BIGINT) AS n_b,
       |    d_a + d_b AS d
       |  FROM spine
       |  WINDOW wp AS (${part}ORDER BY dur_min ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))""".stripMargin
  }

  /** e24's Newton kernel on a collected spine of (d_a, d, n_a, n_b)
    * rows: 6 fixed steps from β = 0 on the Breslow partial likelihood,
    * every quantity in the replayable integer-micro discipline (see
    * the e24 doc). Exposed at package level so the spec can fit
    * planted spines with known hazard ratios. Returns one
    * (step, w_micro, u_micro, i_micro, beta_micro, hr_micro) per step. */
  private[queries] def coxNewton(rows: Seq[(Long, Long, Long, Long)])
      : IndexedSeq[(Long, Long, Long, Long, Long, Long)] = {
    // the Newton update computes U·10⁶ with |U| ≤ Σdeaths·10⁶, so
    // Σdeaths·10¹² must stay under 2^63: the hard bound is ~9.2e6
    // total deaths (≈ sf40 — far past any gate; the r15 self-review
    // caught the original 1e9 guard permitting a 10²¹ overflow)
    require(rows.map(_._2).sum < 9000000L,
      "cox: deaths overflow the micro-integer score bound (sum(d)*1e12 >= 2^63)")
    var beta = 0L
    (1 to 6).map { k =>
      val w = math.floor(StrictMath.exp(beta / 1e6) * 1e6 + 0.5).toLong
      var u = 0L
      var inf = 0L
      rows.foreach { case (dA, d, nA, nB) =>
        val r1 = (w.toDouble * nA) / (w.toDouble * nA + 1000000.0 * nB)
        u += dA * 1000000L - math.floor(d * r1 * 1000000.0 + 0.5).toLong
        inf += math.floor(d * r1 * (1.0 - r1) * 1000000.0 + 0.5).toLong
      }
      beta = if (inf == 0L) beta else beta + u * 1000000L / inf
      val hr = math.floor(StrictMath.exp(beta / 1e6) * 1e6 + 0.5).toLong
      (k.toLong, w, u, inf, beta, hr)
    }
  }

  /** e28's competing-risks frame: (dur_min, d1, d2, censored,
    * at_risk) at the global grain — the [[sessionSubjects]]
    * construction extended with a session-FINAL marker (lead-based,
    * symmetric to the `ns` opener) so the terminal event type
    * aggregates as a singleton max per session; cause 1 = converted
    * (first purchase, the clock rule verbatim), cause 2 = last event
    * is an 'error', cause 0 = censored. */
  private def competingRisk(s: SparkSession, dir: String) = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val subj = Tables(s, dir).events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        when(
          lag(col("ts"), 1).over(w).isNull ||
            unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)) > 1800000000L,
          1).otherwise(0).as("ns"),
        when(
          lead(col("ts"), 1).over(w).isNull ||
            unix_micros(lead(col("ts"), 1).over(w)) - unix_micros(col("ts")) > 1800000000L,
          1).otherwise(0).as("re"))
      .select(col("user_id"), col("ts"), col("event_type"), col("re"),
        sum("ns").over(wRun).cast("long").as("sid"))
      .groupBy("user_id", "sid")
      .agg(
        min(unix_micros(col("ts"))).as("start_us"),
        max(unix_micros(col("ts"))).as("end_us"),
        min(when(col("event_type") === "purchase", unix_micros(col("ts")))).as("conv_us"),
        max(when(col("re") === 1, col("event_type"))).as("last_type"))
      .select(
        when(col("conv_us").isNotNull, expr("(conv_us - start_us) div 60000000"))
          .otherwise(expr("(end_us - start_us) div 60000000"))
          .cast("long").as("dur_min"),
        when(col("conv_us").isNotNull, 1L)
          .when(col("last_type") === "error", 2L).otherwise(0L).as("cause"))
    val byDur = subj.groupBy("dur_min")
      .agg(sum(when(col("cause") === 1, 1L).otherwise(0L)).cast("long").as("d1"),
        sum(when(col("cause") === 2, 1L).otherwise(0L)).cast("long").as("d2"),
        sum(when(col("cause") === 0, 1L).otherwise(0L)).cast("long").as("censored"))
    val wPrior = Window.orderBy("dur_min")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy()
    byDur.withColumn("at_risk",
      (sum(col("d1") + col("d2") + col("censored")).over(wAll)
        - coalesce(sum(col("d1") + col("d2") + col("censored")).over(wPrior), lit(0L)))
        .cast("long"))
  }

  /** DuckDB twin of [[competingRisk]] — ends in a `risk` CTE with
    * (dur_min, d1, d2, censored, at_risk). */
  private def competingRiskSql: String =
    """sess AS (
      |  SELECT user_id, ts, event_type, re,
      |    CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
      |  FROM (SELECT user_id, ts, event_id, event_type,
      |      CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
      |        OR date_diff('microsecond',
      |             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts) > 1800000000
      |      THEN 1 ELSE 0 END AS ns,
      |      CASE WHEN lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
      |        OR date_diff('microsecond',
      |             ts, lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000
      |      THEN 1 ELSE 0 END AS re
      |    FROM events)),
      |subj AS (
      |  SELECT
      |    CAST(CASE WHEN conv_us IS NOT NULL THEN (conv_us - start_us) // 60000000
      |              ELSE (end_us - start_us) // 60000000 END AS BIGINT) AS dur_min,
      |    CASE WHEN conv_us IS NOT NULL THEN 1
      |         WHEN last_type = 'error' THEN 2 ELSE 0 END AS cause
      |  FROM (
      |    SELECT min(epoch_us(ts)) AS start_us, max(epoch_us(ts)) AS end_us,
      |      min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS conv_us,
      |      max(CASE WHEN re = 1 THEN event_type END) AS last_type
      |    FROM sess GROUP BY user_id, sid)),
      |byd AS (
      |  SELECT dur_min,
      |    CAST(sum(CASE WHEN cause = 1 THEN 1 ELSE 0 END) AS BIGINT) AS d1,
      |    CAST(sum(CASE WHEN cause = 2 THEN 1 ELSE 0 END) AS BIGINT) AS d2,
      |    CAST(sum(CASE WHEN cause = 0 THEN 1 ELSE 0 END) AS BIGINT) AS censored
      |  FROM subj GROUP BY 1),
      |risk AS (
      |  SELECT *, CAST(sum(d1 + d2 + censored) OVER ()
      |    - coalesce(sum(d1 + d2 + censored) OVER (ORDER BY dur_min
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS at_risk
      |  FROM byd)""".stripMargin

  /** One conversion-time row of e27's 4-group spine: deaths and
    * at-risk counts per (x1, x2) covariate cell. */
  private[queries] case class Cox2Row(d00: Long, d01: Long, d10: Long,
      d11: Long, n00: Long, n01: Long, n10: Long, n11: Long)

  /** e27's 4-group risk spine: [[sessionSubjects]] labeled by the two
    * binary covariates (x1 = opens with 'view', x2 = session starts
    * on a weekend), grouped per duration minute with per-cell deaths/
    * censors and the at-risk counts telescoped off the cell totals —
    * e22's spine construction at the x1×x2 grain, one dur_min row
    * carrying all 8 counts. */
  private def cox2Spine(s: SparkSession, dir: String) = {
    val labeled = sessionSubjects(s, dir)
      .select(
        when(col("first_type") === "view", 1L).otherwise(0L).as("x1"),
        when(expr("weekday(cohort)") >= 5, 1L).otherwise(0L).as("x2"),
        col("dur_min"), col("ch"))
    def cell(x1: Int, x2: Int, dead: Boolean) = {
      val v = if (dead) col("ch") else lit(1L) - col("ch")
      sum(when(col("x1") === x1 && col("x2") === x2, v).otherwise(0L))
        .cast("long")
    }
    val spine = labeled.groupBy("dur_min").agg(
      cell(0, 0, dead = true).as("d00"), cell(0, 0, dead = false).as("c00"),
      cell(0, 1, dead = true).as("d01"), cell(0, 1, dead = false).as("c01"),
      cell(1, 0, dead = true).as("d10"), cell(1, 0, dead = false).as("c10"),
      cell(1, 1, dead = true).as("d11"), cell(1, 1, dead = false).as("c11"))
    val wPrior = Window.orderBy("dur_min")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy()
    def atRisk(g: String) =
      (sum(col(s"d$g") + col(s"c$g")).over(wAll)
        - coalesce(sum(col(s"d$g") + col(s"c$g")).over(wPrior), lit(0L)))
        .cast("long")
    spine
      .withColumn("n00", atRisk("00")).withColumn("n01", atRisk("01"))
      .withColumn("n10", atRisk("10")).withColumn("n11", atRisk("11"))
      .withColumn("d", col("d00") + col("d01") + col("d10") + col("d11"))
  }

  /** DuckDB twin of [[cox2Spine]] — ends in a `sp2` CTE with one row
    * per conversion-time dur_min carrying (d00..d11, n00..n11, d). */
  private def cox2SpineSql: String =
    s"""$sessionSubjectsSql,
       |lab2 AS (
       |  SELECT CASE WHEN first_type = 'view' THEN 1 ELSE 0 END AS x1,
       |    CASE WHEN isodow(cohort) >= 6 THEN 1 ELSE 0 END AS x2,
       |    dur_min, ch
       |  FROM subj),
       |spine2 AS (
       |  SELECT dur_min,
       |    CAST(sum(CASE WHEN x1=0 AND x2=0 THEN ch ELSE 0 END) AS BIGINT) AS d00,
       |    CAST(sum(CASE WHEN x1=0 AND x2=0 THEN 1-ch ELSE 0 END) AS BIGINT) AS c00,
       |    CAST(sum(CASE WHEN x1=0 AND x2=1 THEN ch ELSE 0 END) AS BIGINT) AS d01,
       |    CAST(sum(CASE WHEN x1=0 AND x2=1 THEN 1-ch ELSE 0 END) AS BIGINT) AS c01,
       |    CAST(sum(CASE WHEN x1=1 AND x2=0 THEN ch ELSE 0 END) AS BIGINT) AS d10,
       |    CAST(sum(CASE WHEN x1=1 AND x2=0 THEN 1-ch ELSE 0 END) AS BIGINT) AS c10,
       |    CAST(sum(CASE WHEN x1=1 AND x2=1 THEN ch ELSE 0 END) AS BIGINT) AS d11,
       |    CAST(sum(CASE WHEN x1=1 AND x2=1 THEN 1-ch ELSE 0 END) AS BIGINT) AS c11
       |  FROM lab2 GROUP BY 1),
       |tel2 AS (
       |  SELECT *,
       |    CAST(sum(d00+c00) OVER () - coalesce(sum(d00+c00) OVER wp, 0) AS BIGINT) AS n00,
       |    CAST(sum(d01+c01) OVER () - coalesce(sum(d01+c01) OVER wp, 0) AS BIGINT) AS n01,
       |    CAST(sum(d10+c10) OVER () - coalesce(sum(d10+c10) OVER wp, 0) AS BIGINT) AS n10,
       |    CAST(sum(d11+c11) OVER () - coalesce(sum(d11+c11) OVER wp, 0) AS BIGINT) AS n11
       |  FROM spine2
       |  WINDOW wp AS (ORDER BY dur_min ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
       |sp2 AS (SELECT dur_min, d00, d01, d10, d11, n00, n01, n10, n11,
       |    d00 + d01 + d10 + d11 AS d
       |  FROM tel2 WHERE d00 + d01 + d10 + d11 > 0)""".stripMargin

  /** e27's Newton kernel on the collected 4-group spine: 6 fixed 2×2
    * Newton steps from (0, 0) on the Breslow partial likelihood —
    * [[coxNewton]]'s replayable integer-micro discipline with the
    * solve in deterministic doubles (see the e27 query doc). Returns
    * (step, b1, b2, ua, ub, iaa, iab, ibb, hr1, hr2) per step. */
  private[queries] def coxNewton2(rows: Seq[Cox2Row])
      : IndexedSeq[(Long, Long, Long, Long, Long, Long, Long, Long, Long, Long)] = {
    require(rows.map(r => r.d00 + r.d01 + r.d10 + r.d11).sum < 9000000L,
      "cox2: deaths overflow the micro-integer score bound")
    var b1 = 0L
    var b2 = 0L
    (1 to 6).map { k =>
      val w1 = math.floor(StrictMath.exp(b1 / 1e6) * 1e6 + 0.5).toLong
      val w2 = math.floor(StrictMath.exp(b2 / 1e6) * 1e6 + 0.5).toLong
      require(w1 < 1000000000L && w2 < 1000000000L,
        s"cox2: weight ($w1, $w2) overflows the integer hazard path")
      val w11 = w1 * w2 / 1000000L
      var ua = 0L; var ub = 0L
      var iaa = 0L; var iab = 0L; var ibb = 0L
      rows.foreach { r =>
        val s0 = 1000000L * r.n00 + w2 * r.n01 + w1 * r.n10 + w11 * r.n11
        val s1a = w1 * r.n10 + w11 * r.n11
        val s1b = w2 * r.n01 + w11 * r.n11
        val ra = s1a.toDouble / s0
        val rb = s1b.toDouble / s0
        val rab = (w11 * r.n11).toDouble / s0
        val d = r.d00 + r.d01 + r.d10 + r.d11
        val da = r.d10 + r.d11
        val db = r.d01 + r.d11
        ua += da * 1000000L - math.floor(d * ra * 1000000.0 + 0.5).toLong
        ub += db * 1000000L - math.floor(d * rb * 1000000.0 + 0.5).toLong
        iaa += math.floor(d * ra * (1.0 - ra) * 1000000.0 + 0.5).toLong
        ibb += math.floor(d * rb * (1.0 - rb) * 1000000.0 + 0.5).toLong
        iab += math.floor(d * (rab - ra * rb) * 1000000.0 + 0.5).toLong
      }
      val det = iaa.toDouble * ibb - iab.toDouble * iab
      if (det != 0.0) {
        b1 += math.floor((ibb.toDouble * ua - iab.toDouble * ub) / det
          * 1000000.0 + 0.5).toLong
        b2 += math.floor((iaa.toDouble * ub - iab.toDouble * ua) / det
          * 1000000.0 + 0.5).toLong
      }
      val hr1 = math.floor(StrictMath.exp(b1 / 1e6) * 1e6 + 0.5).toLong
      val hr2 = math.floor(StrictMath.exp(b2 / 1e6) * 1e6 + 0.5).toLong
      (k.toLong, b1, b2, ua, ub, iaa, iab, ibb, hr1, hr2)
    }
  }

  /** e27's oracle: the 4-group spine, then all 6 2×2 Newton steps
    * unrolled — two exps per step, the cross-cell weight as integer
    * w1·w2 // 10⁶, per-term micro floors, the solve in the identical
    * double expression tree. */
  private def cox2OracleSql: String = {
    val steps = (1 to 6).map { k =>
      s"""w$k AS (SELECT
         |    CAST(floor(exp(b1 / 1000000.0) * 1e6 + 0.5) AS BIGINT) AS w1,
         |    CAST(floor(exp(b2 / 1000000.0) * 1e6 + 0.5) AS BIGINT) AS w2
         |  FROM b${k - 1}),
         |wg$k AS (SELECT w1, w2, w1 * w2 // 1000000 AS w11 FROM w$k),
         |r$k AS (SELECT
         |    d00 + d01 + d10 + d11 AS d, d10 + d11 AS da, d01 + d11 AS db,
         |    CAST(s1a AS DOUBLE) / s0 AS ra,
         |    CAST(s1b AS DOUBLE) / s0 AS rb,
         |    CAST(sab AS DOUBLE) / s0 AS rab
         |  FROM (SELECT sp2.*,
         |      1000000 * n00 + w.w2 * n01 + w.w1 * n10 + w.w11 * n11 AS s0,
         |      w.w1 * n10 + w.w11 * n11 AS s1a,
         |      w.w2 * n01 + w.w11 * n11 AS s1b,
         |      w.w11 * n11 AS sab
         |    FROM sp2 CROSS JOIN wg$k w)),
         |t$k AS (SELECT
         |    CAST(coalesce(sum(da * 1000000
         |      - CAST(floor(d * ra * 1000000.0 + 0.5) AS BIGINT)), 0) AS BIGINT) AS ua,
         |    CAST(coalesce(sum(db * 1000000
         |      - CAST(floor(d * rb * 1000000.0 + 0.5) AS BIGINT)), 0) AS BIGINT) AS ub,
         |    CAST(coalesce(sum(CAST(floor(d * ra * (1.0 - ra) * 1000000.0 + 0.5)
         |      AS BIGINT)), 0) AS BIGINT) AS iaa,
         |    CAST(coalesce(sum(CAST(floor(d * rb * (1.0 - rb) * 1000000.0 + 0.5)
         |      AS BIGINT)), 0) AS BIGINT) AS ibb,
         |    CAST(coalesce(sum(CAST(floor(d * (rab - ra * rb) * 1000000.0 + 0.5)
         |      AS BIGINT)), 0) AS BIGINT) AS iab
         |  FROM r$k),
         |b$k AS (SELECT
         |    CASE WHEN t.det = 0 THEN b.b1
         |      ELSE b.b1 + CAST(floor((CAST(t.ibb AS DOUBLE) * t.ua
         |        - CAST(t.iab AS DOUBLE) * t.ub) / t.det * 1000000.0 + 0.5)
         |        AS BIGINT) END AS b1,
         |    CASE WHEN t.det = 0 THEN b.b2
         |      ELSE b.b2 + CAST(floor((CAST(t.iaa AS DOUBLE) * t.ub
         |        - CAST(t.iab AS DOUBLE) * t.ua) / t.det * 1000000.0 + 0.5)
         |        AS BIGINT) END AS b2,
         |    t.ua, t.ub, t.iaa, t.iab, t.ibb
         |  FROM b${k - 1} b CROSS JOIN
         |    (SELECT t.*, CAST(iaa AS DOUBLE) * ibb - CAST(iab AS DOUBLE) * iab
         |       AS det FROM t$k t) t)""".stripMargin
    }.mkString(",\n")
    val rows = (1 to 6).map { k =>
      s"""SELECT CAST($k AS BIGINT) AS step,
         |  CAST(b1 AS BIGINT) AS b1_micro, CAST(b2 AS BIGINT) AS b2_micro,
         |  ua AS ua_micro, ub AS ub_micro,
         |  iaa AS iaa_micro, iab AS iab_micro, ibb AS ibb_micro,
         |  CAST(floor(exp(b1 / 1000000.0) * 1e6 + 0.5) AS BIGINT) AS hr1_micro,
         |  CAST(floor(exp(b2 / 1000000.0) * 1e6 + 0.5) AS BIGINT) AS hr2_micro
         |FROM b$k""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $cox2SpineSql,
       |b0 AS (SELECT CAST(0 AS BIGINT) AS b1, CAST(0 AS BIGINT) AS b2),
       |$steps
       |SELECT * FROM (
       |$rows)
       |ORDER BY step""".stripMargin
  }

  /** The shared e24/e26 oracle prefix: spine → `sp` (conversion-time
    * rows) → the 6 unrolled Newton-step CTE triples ending in `b6`
    * (the fitted β) — [[coxNewton]]'s exact integers. */
  private[queries] def coxStepsCtes: String = {
    val steps = (1 to 6).map { k =>
      val b = s"b${k - 1}"
      s"""w$k AS (SELECT CAST(floor(exp(beta / 1000000.0) * 1e6 + 0.5) AS BIGINT) AS w
         |  FROM $b),
         |r$k AS (SELECT sp.d_a, sp.d,
         |    (CAST(w.w AS DOUBLE) * sp.n_a)
         |      / (CAST(w.w AS DOUBLE) * sp.n_a + 1000000.0 * sp.n_b) AS r1
         |  FROM sp CROSS JOIN w$k w),
         |t$k AS (SELECT
         |    CAST(coalesce(sum(d_a * 1000000
         |      - CAST(floor(d * r1 * 1000000.0 + 0.5) AS BIGINT)), 0) AS BIGINT) AS u,
         |    CAST(coalesce(sum(CAST(floor(d * r1 * (1.0 - r1) * 1000000.0 + 0.5)
         |      AS BIGINT)), 0) AS BIGINT) AS i
         |  FROM r$k),
         |b$k AS (SELECT CASE WHEN t.i = 0 THEN b.beta
         |    ELSE b.beta + t.u * 1000000 // t.i END AS beta, t.u, t.i, w.w
         |  FROM b${k - 1} b CROSS JOIN t$k t CROSS JOIN w$k w)""".stripMargin
    }.mkString(",\n")
    s"""${logrankSpineSql()},
       |sp AS (SELECT dur_min, d_a, d, n_a, n_b FROM risk WHERE d > 0),
       |b0 AS (SELECT CAST(0 AS BIGINT) AS beta),
       |$steps""".stripMargin
  }

  /** e24's oracle: the shared spine, then all 6 Newton steps UNROLLED
    * as CTE triples (weight → per-time terms → update) replaying the
    * driver arithmetic exactly — one exp per step quantized to micro,
    * r1 as the identical double expression, per-term micro floors
    * before the order-free sums, truncating integer division in the
    * update (DuckDB's BIGINT `//` truncates toward zero like Java /,
    * verified: -7//2 = -3). */
  private def coxOracleSql: String = {
    val rows = (1 to 6).map { k =>
      s"""SELECT CAST($k AS BIGINT) AS step, w AS w_micro, u AS u_micro,
         |  i AS i_micro, CAST(beta AS BIGINT) AS beta_micro,
         |  CAST(floor(exp(beta / 1000000.0) * 1e6 + 0.5) AS BIGINT) AS hr_micro
         |FROM b$k""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $coxStepsCtes
       |SELECT * FROM (
       |$rows)
       |ORDER BY step""".stripMargin
  }

  /** e26's oracle: the shared fit CTEs, then the Breslow baseline
    * pass — w from b6's β exactly as the driver reads e24's final
    * hr_micro, exact-integer hazard terms, one cumulative window. */
  private def coxBaselineOracleSql: String =
    s"""WITH $coxStepsCtes,
       |wfin AS (SELECT CAST(floor(exp(beta / 1000000.0) * 1e6 + 0.5) AS BIGINT) AS w
       |  FROM b6),
       |base AS (SELECT sp.dur_min, sp.d, sp.n_a, sp.n_b,
       |    CAST(sp.d * 1000000000000 // (w.w * sp.n_a + 1000000 * sp.n_b)
       |      AS BIGINT) AS h0_micro
       |  FROM sp CROSS JOIN wfin w),
       |cum AS (SELECT dur_min, d, n_a, n_b,
       |    CAST(sum(h0_micro) OVER (ORDER BY dur_min
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS h0_cum_micro
       |  FROM base),
       |wa AS (SELECT c.*, CAST(c.h0_cum_micro * w.w // 1000000 AS BIGINT)
       |    AS ha_cum_micro
       |  FROM cum c CROSS JOIN wfin w)
       |SELECT dur_min, d, n_a, n_b, h0_cum_micro, ha_cum_micro,
       |  floor(exp(-h0_cum_micro / 1e6) * 1e6 + 0.5) / 1e6 AS surv_b,
       |  floor(exp(-ha_cum_micro / 1e6) * 1e6 + 0.5) / 1e6 AS surv_a
       |FROM wa ORDER BY dur_min""".stripMargin

  /** The (cohort, dur_min, churned, censored, at_risk) risk frame
    * shared by e21 (Kaplan–Meier) and e23 (Nelson–Aalen): the
    * [[sessionSubjects]] census grouped per (cohort, duration) with
    * the at-risk count telescoped off the cohort totals. */
  private def survivalRisk(s: SparkSession, dir: String) = {
    val byDur = sessionSubjects(s, dir)
      .groupBy("cohort", "dur_min")
      .agg(sum("ch").cast("long").as("churned"),
        sum(lit(1L) - col("ch")).cast("long").as("censored"))
    val wPrior = Window.partitionBy("cohort").orderBy("dur_min")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wTot = Window.partitionBy("cohort")
    byDur.withColumn("at_risk",
      (sum(col("churned") + col("censored")).over(wTot)
        - coalesce(sum(col("churned") + col("censored")).over(wPrior), lit(0L)))
        .cast("long"))
  }

  /** DuckDB twin of [[survivalRisk]] — `subj` + `byd` + `risk` CTEs;
    * `risk` carries (cohort, dur_min, churned, censored, at_risk). */
  private def survivalRiskSql: String =
    s"""$sessionSubjectsSql,
       |byd AS (
       |  SELECT cohort, dur_min,
       |    CAST(sum(ch) AS BIGINT) AS churned,
       |    CAST(sum(1 - ch) AS BIGINT) AS censored
       |  FROM subj GROUP BY 1, 2),
       |risk AS (
       |  SELECT *, CAST(sum(churned + censored) OVER (PARTITION BY cohort)
       |    - coalesce(sum(churned + censored) OVER (PARTITION BY cohort
       |        ORDER BY dur_min ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |      0) AS BIGINT) AS at_risk
       |  FROM byd)""".stripMargin

  /** Session-grain survival subjects shared by e21/e22 (the d15
    * no-drift rule — one frame, two consumers): one row per e02
    * session (VERBATIM 30-min rule, (ts, event_id) order) with the
    * session-start date (cohort), the session's FIRST event type (the
    * ns = 1 row is by construction the session opener), the duration
    * in exact integer minutes (micros div 6e7 — no engine date_diff
    * semantics) to the first purchase when one occurs (ch = 1) or to
    * the session's last event otherwise (ch = 0, right-censored). */
  private[queries] def sessionSubjects(s: SparkSession, dir: String) = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables(s, dir).events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        when(
          lag(col("ts"), 1).over(w).isNull ||
            unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)) > 1800000000L,
          1).otherwise(0).as("ns"))
      .select(col("user_id"), col("ts"), col("event_type"), col("ns"),
        sum("ns").over(wRun).cast("long").as("sid"))
      .groupBy("user_id", "sid")
      .agg(
        min(unix_micros(col("ts"))).as("start_us"),
        max(unix_micros(col("ts"))).as("end_us"),
        min(when(col("event_type") === "purchase", unix_micros(col("ts")))).as("conv_us"),
        max(when(col("ns") === 1, col("event_type"))).as("first_type"),
        count(lit(1)).as("n_ev"))
      .select(
        to_date(timestamp_micros(col("start_us"))).as("cohort"),
        col("first_type"),
        when(col("conv_us").isNotNull, expr("(conv_us - start_us) div 60000000"))
          .otherwise(expr("(end_us - start_us) div 60000000"))
          .cast("long").as("dur_min"),
        when(col("conv_us").isNotNull, 1L).otherwise(0L).as("ch"),
        col("n_ev"))
  }

  /** DuckDB twin of [[sessionSubjects]] — ends in a `subj` CTE with
    * (cohort, first_type, dur_min, ch). */
  private[queries] def sessionSubjectsSql: String =
    """sess AS (
      |  SELECT user_id, ts, event_type, ns,
      |    CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
      |  FROM (SELECT user_id, ts, event_id, event_type,
      |      CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
      |        OR date_diff('microsecond',
      |             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts) > 1800000000
      |      THEN 1 ELSE 0 END AS ns
      |    FROM events)),
      |subj AS (
      |  SELECT CAST(make_timestamp(start_us) AS DATE) AS cohort, first_type,
      |    CAST(CASE WHEN conv_us IS NOT NULL THEN (conv_us - start_us) // 60000000
      |              ELSE (end_us - start_us) // 60000000 END AS BIGINT) AS dur_min,
      |    CASE WHEN conv_us IS NOT NULL THEN 1 ELSE 0 END AS ch,
      |    n_ev
      |  FROM (
      |    SELECT min(epoch_us(ts)) AS start_us, max(epoch_us(ts)) AS end_us,
      |      min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS conv_us,
      |      max(CASE WHEN ns = 1 THEN event_type END) AS first_type,
      |      CAST(count(*) AS BIGINT) AS n_ev
      |    FROM sess GROUP BY user_id, sid))""".stripMargin

  /** e19's pair-state vocabulary: (start+channels) × channels, the
    * second-order transient states (a `def` — the MarkovChannels
    * initialization-order rule). */
  private def Markov2Pairs: Seq[String] =
    for (pv <- "start" +: MarkovChannels; cur <- MarkovChannels)
      yield s"$pv|$cur"

  /** e20's triple-state vocabulary: the REACHABLE (prev2|prev1|cur)
    * triples — pv1 = 'start' forces pv2 = 'start' (only the first
    * event lacks a predecessor), so 84 states, not 100. A `def` for
    * the same initialization-order reason as [[Markov2Pairs]]. */
  private def Markov3Triples: Seq[String] =
    for {
      pp <- "start" +: MarkovChannels
      pv <- "start" +: MarkovChannels
      if !(pv == "start" && pp != "start")
      cur <- MarkovChannels
    } yield s"$pp|$pv|$cur"

  /** e17's channel vocabulary — a plan-time parameter (configured
    * taxonomy, not discovered), shared by the Spark walk and the
    * generated oracle so the two can never disagree on the state
    * space. (A `def`, not a `val`: `queries` above initializes first
    * and evaluates the oracle eagerly — the AnnOracle lesson.) */
  private def MarkovChannels = Seq("click", "error", "signup", "view")

  /** e17/e19's bounded-walk conversion probability in integer ppm:
    * `rounds` applications of p'(s) = Σ_t ⌊T_ppm(s,t)·p(t)/10⁶⌋ with
    * 'conv' absorbing at 10⁶ and every `blocked` state pinned to 0 —
    * every per-term product floored BEFORE the sum so accumulation
    * order is irrelevant and the oracle's unrolled CTEs reproduce it
    * exactly. (e17 blocks the removed channel itself; e19 blocks every
    * pair state whose CURRENT component is the removed channel.) */
  /** The shared driver tail of every Markov-attribution query (e17 /
    * e19 / e20 / st32): run the 8-round walk once per variant (base +
    * one per removed channel, `blockedFor` mapping a channel to its
    * blocked state set at the query's order) over the channels²-sized
    * collected census, and emit the credit table. */
  private def attributionTable(s: SparkSession,
      tppm: Map[(String, String), Long], states: Seq[String],
      blockedFor: String => Set[String]): org.apache.spark.sql.DataFrame = {
    val base = markovWalk(tppm, states, Set.empty)
    val rowsOut = MarkovChannels.map { ch =>
      val removed = markovWalk(tppm, states, blockedFor(ch))
      (ch, base, removed,
        if (base == 0) 0L else (base - removed) * 1000000L / base)
    }
    val effSum = rowsOut.map(_._4).sum
    import s.implicits._
    rowsOut.map { case (ch, b, r, e) =>
      (ch, b, r, e, if (effSum == 0) 0L else e * 1000000L / effSum)
    }.toDF("channel", "base_ppm", "removed_ppm", "effect_ppm", "attr_ppm")
      .orderBy("channel")
  }

  private[queries] def markovWalk(tppm: Map[(String, String), Long],
      states: Seq[String], blocked: Set[String], rounds: Int = 8): Long = {
    var p = states.map(st => st -> (if (st == "conv") 1000000L else 0L)).toMap
    for (_ <- 1 to rounds) {
      p = states.map { st =>
        st -> (if (st == "conv") 1000000L
          else if (blocked.contains(st)) 0L
          else states.map(t => tppm.getOrElse((st, t), 0L) * p(t) / 1000000L).sum)
      }.toMap
    }
    p("start")
  }

  /** e17's oracle: the identical transition census, then the 8-round
    * integer-ppm walk UNROLLED per variant (base + one per removed
    * channel) — every per-term product floored before the sum, exactly
    * the driver arithmetic. */
  private def markovOracleSql: String = markovFirstOrderOracleSql("TRUE", None)

  /** st32's oracle: e17's model over the SESSIONIZED journey grain —
    * the pre-conversion event stream splits where the event-time gap
    * exceeds `gapMinutes` (cumulative-sum session ids, e02's idiom);
    * each session emits its own start edge, within-session
    * transitions, and a drop edge unless it ends in conv. The walk /
    * effects suffix is e17's verbatim. */
  private def markovSessionOracleSql(filter: String, gapMinutes: Int): String =
    markovFirstOrderOracleSql(filter, Some(gapMinutes))

  /** The first-order oracle generator behind e17 (one journey per
    * user, `sessionGapMinutes = None`) and st32 (sessionized). */
  private def markovFirstOrderOracleSql(filter: String,
      sessionGapMinutes: Option[Int]): String = {
    val states = ("start" +: MarkovChannels :+ "conv" :+ "drop")
      .map(s => s"('$s')").mkString(", ")
    val variants = ("base", None) +: MarkovChannels.map(c => (c, Some(c)))
    val rounds = variants.map { case (v, removed) =>
      val zero = removed.map(r => s"WHEN s.st = '$r' THEN 0").getOrElse("")
      val p0 =
        s"""p${v}0 AS (SELECT s.st,
           |    CASE WHEN s.st = 'conv' THEN 1000000 ELSE 0 END AS p
           |  FROM states s)""".stripMargin
      val steps = (1 to 8).map { k =>
        s"""p$v$k AS (SELECT s.st,
           |    CASE WHEN s.st = 'conv' THEN 1000000 $zero
           |      ELSE coalesce((SELECT sum(t.ppm * p.p // 1000000)
           |        FROM tppm t JOIN p$v${k - 1} p ON p.st = t.dst
           |        WHERE t.src = s.st), 0) END AS p
           |  FROM states s)""".stripMargin
      }
      (p0 +: steps).mkString(",\n")
    }.mkString(",\n")
    val effects = MarkovChannels.map { c =>
      s"""SELECT '$c' AS channel,
         |  (SELECT p FROM pbase8 WHERE st = 'start') AS base_ppm,
         |  (SELECT p FROM p${c}8 WHERE st = 'start') AS removed_ppm""".stripMargin
    }.mkString("\nUNION ALL\n")
    val censusSql = sessionGapMinutes match {
      case None =>
        """nxt AS (SELECT user_id, rn, st,
          |    lead(st) OVER (PARTITION BY user_id ORDER BY rn) AS nx FROM jr),
          |raw AS (
          |  SELECT 'start' AS src, st AS dst FROM nxt WHERE rn = 1
          |  UNION ALL
          |  SELECT st, nx FROM nxt WHERE nx IS NOT NULL
          |  UNION ALL
          |  SELECT st, 'drop' FROM nxt WHERE nx IS NULL AND st <> 'conv'),"""
          .stripMargin
      case Some(gap) =>
        s"""brk AS (SELECT user_id, rn, st,
           |    CASE WHEN lag(ts_us) OVER (PARTITION BY user_id ORDER BY rn)
           |           IS NULL
           |         OR ts_us - lag(ts_us) OVER (PARTITION BY user_id
           |           ORDER BY rn) > ${gap * 60L * 1000000L}
           |         THEN 1 ELSE 0 END AS b
           |  FROM jr),
           |sess AS (SELECT user_id, rn, st, b,
           |    CAST(sum(b) OVER (PARTITION BY user_id ORDER BY rn) AS BIGINT)
           |      AS sid
           |  FROM brk),
           |nxt AS (SELECT user_id, sid, rn, st, b,
           |    lead(st) OVER (PARTITION BY user_id, sid ORDER BY rn) AS nx
           |  FROM sess),
           |raw AS (
           |  SELECT 'start' AS src, st AS dst FROM nxt WHERE b = 1
           |  UNION ALL
           |  SELECT st, nx FROM nxt WHERE nx IS NOT NULL
           |  UNION ALL
           |  SELECT st, 'drop' FROM nxt WHERE nx IS NULL AND st <> 'conv'),"""
          .stripMargin
    }
    s"""WITH ev AS (SELECT user_id, ts, event_id, event_type FROM events
       |  WHERE ($filter) AND event_type IN (${(MarkovChannels :+ "purchase")
            .map(c => s"'$c'").mkString(", ")})),
       |seq AS (SELECT *, row_number() OVER (PARTITION BY user_id
       |    ORDER BY ts, event_id) AS rn FROM ev),
       |fp AS (SELECT user_id, min(rn) AS pn FROM seq
       |  WHERE event_type = 'purchase' GROUP BY 1),
       |jr AS (SELECT s.user_id, s.rn, epoch_us(s.ts) AS ts_us,
       |    CASE WHEN s.event_type = 'purchase' THEN 'conv'
       |         ELSE s.event_type END AS st
       |  FROM seq s LEFT JOIN fp USING (user_id)
       |  WHERE fp.pn IS NULL OR s.rn <= fp.pn),
       |$censusSql
       |trans AS (SELECT src, dst, count(*) AS c FROM raw GROUP BY 1, 2),
       |tot AS (SELECT src, sum(c) AS tc FROM trans GROUP BY 1),
       |tppm AS (SELECT src, dst, c * 1000000 // tc AS ppm
       |  FROM trans JOIN tot USING (src)),
       |states(st) AS (VALUES $states),
       |$rounds,
       |effects AS (
       |$effects)
       |SELECT channel, CAST(base_ppm AS BIGINT) AS base_ppm,
       |  CAST(removed_ppm AS BIGINT) AS removed_ppm,
       |  CAST(CASE WHEN base_ppm = 0 THEN 0
       |    ELSE (base_ppm - removed_ppm) * 1000000 // base_ppm END AS BIGINT)
       |    AS effect_ppm,
       |  CAST(CASE WHEN sum(CASE WHEN base_ppm = 0 THEN 0
       |        ELSE (base_ppm - removed_ppm) * 1000000 // base_ppm END) OVER () = 0
       |    THEN 0
       |    ELSE (CASE WHEN base_ppm = 0 THEN 0
       |        ELSE (base_ppm - removed_ppm) * 1000000 // base_ppm END) * 1000000
       |      // sum(CASE WHEN base_ppm = 0 THEN 0
       |        ELSE (base_ppm - removed_ppm) * 1000000 // base_ppm END) OVER ()
       |    END AS BIGINT) AS attr_ppm
       |FROM effects
       |ORDER BY channel""".stripMargin
  }

  /** e19's oracle: the pair-state transition census (lag for the prev
    * component, e17's three-branch raw union on the PAIR labels), then
    * the 8-round integer-ppm walk unrolled per variant with every pair
    * state ending in the removed channel pinned to 0 — exactly the
    * driver arithmetic. */
  private def markov2OracleSql: String = markovHigherOracleSql(
    Markov2Pairs,
    """coalesce(lag(st) OVER (PARTITION BY user_id ORDER BY rn),
      |           'start') || '|' || st""".stripMargin)

  /** e20's oracle: e19's generator at the triple-state vocabulary with
    * one more lag in the label — nothing else changes. */
  private def markov3OracleSql: String = markovHigherOracleSql(
    Markov3Triples,
    """coalesce(lag(st, 2) OVER (PARTITION BY user_id ORDER BY rn),
      |           'start') || '|' ||
      |         coalesce(lag(st) OVER (PARTITION BY user_id ORDER BY rn),
      |           'start') || '|' || st""".stripMargin)

  /** The shared higher-order oracle generator: the state-label census
    * (lag-built labels, e17's three-branch raw union), then the
    * 8-round integer-ppm walk unrolled per variant with every
    * transient state ENDING in the removed channel pinned to 0 —
    * exactly the driver arithmetic of [[markovWalk]]. */
  private def markovHigherOracleSql(transients: Seq[String],
      lblSql: String): String = {
    val states = ("start" +: transients :+ "conv" :+ "drop")
      .map(s => s"('$s')").mkString(", ")
    val variants = ("base", None) +: MarkovChannels.map(c => (c, Some(c)))
    val rounds = variants.map { case (v, removed) =>
      val zero = removed.map { r =>
        val blocked = transients.filter(_.endsWith("|" + r))
          .map(b => s"'$b'").mkString(", ")
        s"WHEN s.st IN ($blocked) THEN 0"
      }.getOrElse("")
      val p0 =
        s"""p${v}0 AS (SELECT s.st,
           |    CASE WHEN s.st = 'conv' THEN 1000000 ELSE 0 END AS p
           |  FROM states s)""".stripMargin
      val steps = (1 to 8).map { k =>
        s"""p$v$k AS (SELECT s.st,
           |    CASE WHEN s.st = 'conv' THEN 1000000 $zero
           |      ELSE coalesce((SELECT sum(t.ppm * p.p // 1000000)
           |        FROM tppm t JOIN p$v${k - 1} p ON p.st = t.dst
           |        WHERE t.src = s.st), 0) END AS p
           |  FROM states s)""".stripMargin
      }
      (p0 +: steps).mkString(",\n")
    }.mkString(",\n")
    val effects = MarkovChannels.map { c =>
      s"""SELECT '$c' AS channel,
         |  (SELECT p FROM pbase8 WHERE st = 'start') AS base_ppm,
         |  (SELECT p FROM p${c}8 WHERE st = 'start') AS removed_ppm""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH ev AS (SELECT user_id, ts, event_id, event_type FROM events
       |  WHERE event_type IN (${(MarkovChannels :+ "purchase")
            .map(c => s"'$c'").mkString(", ")})),
       |seq AS (SELECT *, row_number() OVER (PARTITION BY user_id
       |    ORDER BY ts, event_id) AS rn FROM ev),
       |fp AS (SELECT user_id, min(rn) AS pn FROM seq
       |  WHERE event_type = 'purchase' GROUP BY 1),
       |jr AS (SELECT s.user_id, s.rn,
       |    CASE WHEN s.event_type = 'purchase' THEN 'conv'
       |         ELSE s.event_type END AS st
       |  FROM seq s LEFT JOIN fp USING (user_id)
       |  WHERE fp.pn IS NULL OR s.rn <= fp.pn),
       |lbl AS (SELECT user_id, rn,
       |    CASE WHEN st = 'conv' THEN 'conv'
       |         ELSE $lblSql END AS st
       |  FROM jr),
       |nxt AS (SELECT user_id, rn, st,
       |    lead(st) OVER (PARTITION BY user_id ORDER BY rn) AS nx FROM lbl),
       |raw AS (
       |  SELECT 'start' AS src, st AS dst FROM nxt WHERE rn = 1
       |  UNION ALL
       |  SELECT st, nx FROM nxt WHERE nx IS NOT NULL
       |  UNION ALL
       |  SELECT st, 'drop' FROM nxt WHERE nx IS NULL AND st <> 'conv'),
       |trans AS (SELECT src, dst, count(*) AS c FROM raw GROUP BY 1, 2),
       |tot AS (SELECT src, sum(c) AS tc FROM trans GROUP BY 1),
       |tppm AS (SELECT src, dst, c * 1000000 // tc AS ppm
       |  FROM trans JOIN tot USING (src)),
       |states(st) AS (VALUES $states),
       |$rounds,
       |effects AS (
       |$effects)
       |SELECT channel, CAST(base_ppm AS BIGINT) AS base_ppm,
       |  CAST(removed_ppm AS BIGINT) AS removed_ppm,
       |  CAST(CASE WHEN base_ppm = 0 THEN 0
       |    ELSE (base_ppm - removed_ppm) * 1000000 // base_ppm END AS BIGINT)
       |    AS effect_ppm,
       |  CAST(CASE WHEN sum(CASE WHEN base_ppm = 0 THEN 0
       |        ELSE (base_ppm - removed_ppm) * 1000000 // base_ppm END) OVER () = 0
       |    THEN 0
       |    ELSE (CASE WHEN base_ppm = 0 THEN 0
       |        ELSE (base_ppm - removed_ppm) * 1000000 // base_ppm END) * 1000000
       |      // sum(CASE WHEN base_ppm = 0 THEN 0
       |        ELSE (base_ppm - removed_ppm) * 1000000 // base_ppm END) OVER ()
       |    END AS BIGINT) AS attr_ppm
       |FROM effects
       |ORDER BY channel""".stripMargin
  }
}
