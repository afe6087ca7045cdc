package graft.streaming

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types._

import java.util.concurrent.atomic.AtomicInteger

/** SURVEY.md §2 B8: Structured Streaming operators, driven by replaying
  * the events parquet as a file stream with `Trigger.AvailableNow` (no
  * wall-clock dependence — SURVEY.md §7). Each query materializes through
  * a memory sink and returns the finished result, so the same DuckDB
  * batch oracle verifies stream-batch equivalence (the B8 oracle
  * strategy).
  *
  * Scale: all aggregations are keyed by (window/session, type/user) —
  * state is bounded by key cardinality × open windows; watermarks bound
  * state retention in continuous deployments.
  */
object StreamingQueries {

  /** Open-session state for s10 (case class → product encoder). */
  case class SessState(sessions: Seq[(Long, Long, Long)])

  private val sinkCounter = new AtomicInteger(0)

  /** events.parquet replayed as a file stream. A file stream needs a
    * user-declared schema, and the fixture's physical `ts` type has varied
    * across generations (TIMESTAMP(NANOS) → nanos-long under the legacy
    * conf; TIMESTAMP(MICROS) → TIMESTAMP_NTZ), so probe the footer with a
    * one-off batch read and declare whatever is actually on disk, then
    * normalize exactly like the batch loader (Tables.normalizeEventTs). */
  private def eventsStream(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val tsType = s.read.parquet(s"$dir/events.parquet").schema("ts").dataType
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", tsType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    Tables.normalizeEventTs(
      s.readStream
        .schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir))
  }

  /** Run a streaming DataFrame to completion into a memory sink and hand
    * back the materialized table.
    *
    * Stateful queries allocate one state store per shuffle partition per
    * batch; at replay scale that fixed cost dominates (s01 takes the same
    * wall-clock at sf0.001 and sf0.1), so the partition count is clamped
    * for the stream's lifetime and restored afterwards. A production
    * deployment sizes this to state volume, not to the batch default. */
  private def runToMemory(df: DataFrame, mode: OutputMode): DataFrame = {
    val spark = df.sparkSession
    val name = s"graft_stream_${sinkCounter.incrementAndGet()}_${System.nanoTime()}"
    val saved = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions",
      math.min(8, saved.toInt).toString)
    try {
      val q = df.writeStream
        .format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally spark.conf.set("spark.sql.shuffle.partitions", saved)
    spark.table(name)
  }

  /** Tumbling 1-hour window aggregation per event type. */
  private val s01 = Q(
    "s01_stream_tumbling",
    """SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS window_start,
              event_type,
              count(*) AS n,
              round(sum(CAST(round(value * 100) AS BIGINT)) / 100.0, 2) AS total_value
       FROM events
       GROUP BY 1, 2 ORDER BY window_start, event_type""") { (s, d) =>
    val agg = eventsStream(s, d)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        (sum(round(col("value") * 100).cast(LongType)) / 100.0).as("total_value"))
    runToMemory(agg, OutputMode.Complete())
      .select(unix_timestamp(col("window.start")).as("window_start"),
        col("event_type"), col("n"), round(col("total_value"), 2).as("total_value"))
      .orderBy("window_start", "event_type")
  }

  /** Sliding 2h/1h window: each event lands in two windows. */
  private val s02 = Q(
    "s02_stream_sliding",
    """WITH offsets AS (SELECT unnest([0, 3600]) AS off)
       SELECT CAST((floor((epoch(ts) - off) / 7200) * 7200 + off) AS BIGINT) AS window_start,
              count(*) AS n
       FROM events, offsets
       GROUP BY 1 ORDER BY window_start""") { (s, d) =>
    val agg = eventsStream(s, d)
      .groupBy(window(col("ts"), "2 hours", "1 hour"))
      .agg(count(lit(1)).as("n"))
    runToMemory(agg, OutputMode.Complete())
      .select(unix_timestamp(col("window.start")).as("window_start"), col("n"))
      .orderBy("window_start")
  }

  /** Watermark + streaming dedup: the stream unioned with itself (every
    * event duplicated) collapses back to exact batch counts. */
  private val s03 = Q(
    "s03_stream_dedup",
    """SELECT event_type, count(*) AS n_distinct
       FROM events GROUP BY event_type ORDER BY event_type""") { (s, d) =>
    val st = eventsStream(s, d)
    val doubled = st.unionAll(eventsStream(s, d))
      .withWatermark("ts", "1 hour")
      .dropDuplicates("event_id")
    val agg = doubled.groupBy(col("event_type")).agg(count(lit(1)).as("n_distinct"))
    runToMemory(agg, OutputMode.Complete())
      .orderBy("event_type")
  }

  /** Session windows (30-min gap) per user, summarized per user. */
  private val s04 = Q(
    "s04_stream_sessions",
    """WITH gaps AS (
         SELECT user_id, ts,
                CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                          >= INTERVAL 30 MINUTE
                     OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                     THEN 1 ELSE 0 END AS new_session
         FROM events),
       sess AS (
         SELECT user_id, ts,
                sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
         FROM gaps),
       per_session AS (
         SELECT user_id, sid, count(*) AS n_events FROM sess GROUP BY user_id, sid)
       SELECT user_id, count(*) AS n_sessions,
              CAST(sum(n_events) AS BIGINT) AS total_events, max(n_events) AS max_session_events
       FROM per_session GROUP BY user_id ORDER BY user_id""") { (s, d) =>
    val agg = eventsStream(s, d)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
    runToMemory(agg, OutputMode.Complete())
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("n_events")).as("total_events"),
        max(col("n_events")).as("max_session_events"))
      .orderBy("user_id")
  }

  /** Stream-static join: streaming events ⋈ static customer dim, keyed
    * aggregation by market segment. */
  private val s05 = Q(
    "s05_stream_static_join",
    """SELECT c_mktsegment, count(*) AS n,
              round(sum(CAST(round(value * 100) AS BIGINT)) / 100.0, 2) AS total_value
       FROM events JOIN customer ON user_id = c_custkey
       GROUP BY c_mktsegment ORDER BY c_mktsegment""") { (s, d) =>
    val cust = Tables.customer(s, d)
    val joined = eventsStream(s, d)
      .join(broadcast(cust), col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        (sum(round(col("value") * 100).cast(LongType)) / 100.0).as("total_value"))
    runToMemory(joined, OutputMode.Complete())
      .select(col("c_mktsegment"), col("n"), round(col("total_value"), 2).as("total_value"))
      .orderBy("c_mktsegment")
  }

  /** Custom stateful processing via mapGroupsWithState: per-user event
    * count and value sum accumulated in GroupState (the B8 CUSTOM-state
    * surface). Final state per user == batch aggregation. */
  private val s06 = Q(
    "s06_stream_stateful",
    """SELECT user_id, count(*) AS n_events,
              CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
       FROM events GROUP BY user_id ORDER BY user_id""") { (s, d) =>
    import s.implicits._
    val st = eventsStream(s, d)
      .select(col("user_id"), round(col("value") * 100).cast(LongType).as("cents"))
      .as[(Long, Long)]
    val updated = st.groupByKey(_._1)
      .mapGroupsWithState[(Long, Long), (Long, Long, Long)](GroupStateTimeout.NoTimeout) {
        case (user, rows, state: GroupState[(Long, Long)]) =>
          val (n0, c0) = state.getOption.getOrElse((0L, 0L))
          var n = n0; var c = c0
          rows.foreach { r => n += 1; c += r._2 }
          state.update((n, c))
          (user, n, c)
      }
      .toDF("user_id", "n_events", "value_cents")
    // update-mode memory sink appends one row per key per micro-batch;
    // counts are monotone, so max == final state
    runToMemory(updated, OutputMode.Update())
      .groupBy("user_id")
      .agg(max(col("n_events")).as("n_events"), max(col("value_cents")).as("value_cents"))
      .orderBy("user_id")
  }

  /** Append output mode + watermark: only windows the watermark has
    * closed are emitted (the final max(ts)−1h watermark decides — the
    * oracle applies the same closure rule in SQL). */
  private val s07 = Q(
    "s07_stream_append_watermark",
    """WITH m AS (SELECT max(ts) AS max_ts FROM events)
       SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS window_start,
              count(*) AS n
       FROM events, m
       GROUP BY 1, m.max_ts
       HAVING (CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) + 3600)
              <= epoch(m.max_ts) - 3600
       ORDER BY window_start""") { (s, d) =>
    val agg = eventsStream(s, d)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"))
    runToMemory(agg, OutputMode.Append())
      .select(unix_timestamp(col("window.start")).as("window_start"), col("n"))
      .orderBy("window_start")
  }

  /** foreachBatch sink: micro-batches accumulated through a custom sink
    * function (count per event_type, merged across batches). Batch
    * boundaries are an execution detail → totals match the batch oracle.
    *
    * Scale boundary (deliberate, spec-pinned in StreamingSpec): the
    * aggregation itself is distributed; only the per-batch PARTIALS — one
    * row per event_type — cross to the driver, so driver state is bounded
    * by the grouping-key cardinality, NOT the stream size. This sink
    * pattern is for low-cardinality rollups (dashboards, counters). For
    * unbounded key spaces, foreachBatch should instead merge into a
    * store-side target (temp view/Delta/JDBC upsert) and keep no driver
    * state. */
  private val s08 = Q(
    "s08_stream_foreachbatch",
    """SELECT event_type, count(*) AS n FROM events
       GROUP BY event_type ORDER BY event_type""") { (s, d) =>
    import scala.collection.mutable
    val acc = mutable.Map.empty[String, Long]
    val q = eventsStream(s, d)
      .writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batch.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
          .collect()
          .foreach(r => acc.synchronized {
            acc(r.getString(0)) = acc.getOrElse(r.getString(0), 0L) + r.getLong(1)
          })
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    import s.implicits._
    acc.toSeq.toDF("event_type", "n").orderBy("event_type")
  }

  /** Stream-stream inner join with watermarks and a time-range condition:
    * purchase events joined to error events of the same user within the
    * following 10 minutes. State on both sides is bounded by the
    * watermark + range bound. */
  private val s09 = Q(
    "s09_stream_stream_join",
    """SELECT p.user_id, count(*) AS n_pairs
       FROM events p JOIN events e
         ON p.user_id = e.user_id
        AND p.event_type = 'purchase' AND e.event_type = 'error'
        AND e.ts >= p.ts AND e.ts <= p.ts + INTERVAL 10 MINUTE
       GROUP BY p.user_id ORDER BY p.user_id""") { (s, d) =>
    val purchases = eventsStream(s, d)
      .filter(col("event_type") === "purchase")
      .withWatermark("ts", "1 hour")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
    val errors = eventsStream(s, d)
      .filter(col("event_type") === "error")
      .withWatermark("ts", "1 hour")
      .select(col("user_id").as("e_user"), col("ts").as("e_ts"))
    val joined = purchases.join(errors,
      col("p_user") === col("e_user")
        && col("e_ts") >= col("p_ts")
        && col("e_ts") <= col("p_ts") + expr("interval 10 minutes"))
    runToMemory(joined, OutputMode.Append())
      .groupBy(col("p_user").as("user_id"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("user_id")
  }

  /** flatMapGroupsWithState with EventTimeTimeout: hand-built 30-min-gap
    * sessionization that emits a session only when the watermark passes
    * its close (last event + gap). Sessions still open at the final
    * watermark (max_ts − 1h) never emit — the oracle applies the same
    * closure rule on top of the gaps-and-islands formulation. */
  private val s10 = Q(
    "s10_stream_stateful_sessions",
    """WITH m AS (SELECT max(ts) AS max_ts FROM events),
       gaps AS (
         SELECT user_id, ts,
                CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                     THEN 1 ELSE 0 END AS new_session
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       sess AS (
         SELECT user_id, ts,
                sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
         FROM gaps),
       per_session AS (
         SELECT user_id, sid, count(*) AS n_events,
                min(ts) AS start_ts, max(ts) AS end_ts
         FROM sess GROUP BY user_id, sid)
       SELECT user_id,
              epoch_us(start_ts) // 1000000 AS session_start,
              n_events
       FROM per_session, m
       -- Spark's watermark is ms-truncated: wm_ms = epoch_ms(max) - 1h
       WHERE epoch_us(end_ts) + 1800000000
             < (epoch_ms(m.max_ts) - 3600000) * 1000
       ORDER BY user_id, session_start""") { (s, d) =>
    import org.apache.spark.sql.streaming.OutputMode
    import s.implicits._
    val gapMicros = 30L * 60 * 1000000
    // the watermarked event-time column must stay in the Dataset for
    // EventTimeTimeout; carry the micros value beside it
    val events = eventsStream(s, d)
      .withWatermark("ts", "1 hour")
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("us"))
      .as[(Long, java.sql.Timestamp, Long)]
    // state: open sessions (start, lastSeen, count); emit when the
    // watermark passes lastSeen + gap
    val out = events.groupByKey(_._1)
      .flatMapGroupsWithState[SessState, (Long, Long, Long)](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (user, rows, state: GroupState[SessState]) =>
          val wmMicros = state.getCurrentWatermarkMs() * 1000
          var sessions = state.getOption.map(_.sessions.toList).getOrElse(Nil)
          rows.toSeq.sortBy(_._3).foreach { case (_, _, ts) =>
            sessions match {
              case (st, last, n) :: rest if ts - last < gapMicros =>
                sessions = (st, ts, n + 1) :: rest
              case _ =>
                sessions = (ts, ts, 1L) :: sessions
            }
          }
          val (closed, open) = sessions.partition { case (_, last, _) =>
            last + gapMicros < wmMicros
          }
          if (open.isEmpty) state.remove()
          else {
            state.update(SessState(open))
            // earliest possible close; must be strictly above the watermark
            val nextMs = (open.map(_._2).min + gapMicros) / 1000
            state.setTimeoutTimestamp(math.max(nextMs, state.getCurrentWatermarkMs() + 1))
          }
          closed.sortBy(_._1).iterator.map { case (st, _, n) => (user, st / 1000000, n) }
      }
      .toDF("user_id", "session_start", "n_events")
    runToMemory(out, OutputMode.Append())
      .orderBy("user_id", "session_start")
  }

  /** transformWithState (the Spark 4 arbitrary-state API, successor to
    * (flat)mapGroupsWithState): per-user running totals kept in a
    * ValueState, RocksDB state store provider (required by the API).
    * Each batch emits the cumulative per-key totals; both counters are
    * monotone across batches, so `max` per key is the final value
    * whatever the batch split — the batch oracle is the plain per-user
    * aggregate. */
  private val s11 = Q(
    "s11_stream_transform_with_state",
    """SELECT user_id, count(*) AS n_events,
              CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
       FROM events GROUP BY user_id ORDER BY user_id""") { (s, d) =>
    import org.apache.spark.sql.streaming.TimeMode
    import s.implicits._
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val saved = s.conf.get(providerKey)
    s.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val events = eventsStream(s, d)
        .select(col("user_id"), round(col("value") * 100).cast(LongType).as("cents"))
        .as[(Long, Long)]
      val out = events.groupByKey(_._1)
        .transformWithState(new UserTotalsProcessor, TimeMode.None(), OutputMode.Update())
        .toDF("user_id", "n_events", "total_cents")
      runToMemory(out, OutputMode.Update())
        .groupBy("user_id")
        .agg(max(col("n_events")).as("n_events"), max(col("total_cents")).as("total_cents"))
        .orderBy("user_id")
    } finally s.conf.set(providerKey, saved)
  }

  /** Streaming parquet file sink (exactly-once via the sink's commit log
    * + checkpoint): the stream is filtered/projected, written to a
    * parquet directory, and the files are read back batch-side. The
    * oracle aggregates the same filter directly — any dropped or
    * duplicated sink file breaks the hash. */
  private val s12 = Q(
    "s12_stream_file_sink",
    """SELECT event_type, count(*) AS n,
              CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
       FROM events WHERE user_id < 75
       GROUP BY event_type ORDER BY event_type""") { (s, d) =>
    val base = graft.Scratch.dir("graft_fsink") // removed at JVM exit
    val q = eventsStream(s, d)
      .filter(col("user_id") < 75)
      .select(col("event_type"), round(col("value") * 100).cast(LongType).as("cents"))
      .writeStream
      .format("parquet")
      .option("path", s"$base/out")
      .option("checkpointLocation", s"$base/chk")
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.read.parquet(s"$base/out")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
      .orderBy("event_type")
  }

  /** Streaming curation bridge — the B9 decontamination + dedup operators
    * running INSIDE Structured Streaming (B8 and B9 composing, not just
    * coexisting): a static benchmark hash set (event_id % 7 = 0, the d10
    * convention) is broadcast into a streaming anti-join that drops
    * contaminated arrivals, then watermark + dropDuplicates keeps one row
    * per distinct clean content. Content is a composite (user, type,
    * props) hash — the fixture's props column alone has ~100 distinct
    * values, which the benchmark split would cover entirely.
    *
    * Scale: the bench side is tiny-by-premise (same broadcast contract as
    * d10/d13); dedup state is bounded by distinct-content cardinality and
    * the watermark. Dedup key includes event_type, so the census is
    * independent of arrival order — stream-batch equivalence holds under
    * any partition race. */
  private val s13 = Q(
    "s13_stream_decontaminate_dedup",
    """WITH c AS (
         SELECT event_id, event_type,
                md5(CAST(user_id AS VARCHAR) || '|' || event_type || '|' || props) AS h
         FROM events),
       bench AS (SELECT DISTINCT h FROM c WHERE event_id % 7 = 0),
       clean AS (
         SELECT DISTINCT event_type, h FROM c
         WHERE event_id % 7 != 0 AND h NOT IN (SELECT h FROM bench))
       SELECT event_type, count(*) AS n_clean_distinct
       FROM clean GROUP BY event_type ORDER BY event_type""") { (s, d) =>
    val contentHash =
      md5(concat_ws("|", col("user_id").cast("string"), col("event_type"), col("props")))
    val bench = Tables.events(s, d)
      .filter(col("event_id") % 7 === 0)
      .select(contentHash.as("bh")).distinct()
    val clean = eventsStream(s, d)
      .filter(col("event_id") % 7 =!= 0)
      .withColumn("h", contentHash)
      .join(broadcast(bench), col("h") === col("bh"), "left_anti")
      .withWatermark("ts", "1 hour")
      .dropDuplicates("event_type", "h")
    val agg = clean.groupBy(col("event_type")).agg(count(lit(1)).as("n_clean_distinct"))
    runToMemory(agg, OutputMode.Complete())
      .orderBy("event_type")
  }

  /** Streaming sketch maintenance — the x11 MinHash aggregate running
    * INSIDE a streaming aggregation (B8 × B10): per-event-type content
    * sketches stay current as events arrive, because the sketch is a
    * distributive aggregate (elementwise-min merge) and therefore legal
    * streaming state — exactly how a production pipeline keeps a
    * continuously-updated dedup/similarity index without re-scanning old
    * data. The batch oracle recomputes the same registers relationally;
    * stream-batch equivalence holds under any batch split because min is
    * order-independent. */
  private val s14 = Q(
    "s14_stream_sketch_maintenance",
    """WITH c AS (
         SELECT event_type,
                ('0x' || substring(md5(CAST(user_id AS VARCHAR) || '|' || props), 1, 8))::BIGINT AS h1,
                ('0x' || substring(md5(CAST(user_id AS VARCHAR) || '|' || props), 9, 8))::BIGINT AS h2
         FROM events),
       seeds AS (SELECT unnest(generate_series(0, 7)) AS seed)
       SELECT event_type, seed, min(h1 + seed * h2) AS mh
       FROM c, seeds GROUP BY event_type, seed
       ORDER BY event_type, seed""") { (s, d) =>
    graft.functions.MinHashSketch.register(s)
    val contentMd5 = md5(concat(col("user_id").cast("string"), lit("|"), col("props")))
    val hv = array(struct(
      conv(substring(contentMd5, 1, 8), 16, 10).cast(LongType).as("h1"),
      conv(substring(contentMd5, 9, 8), 16, 10).cast(LongType).as("h2")))
    val agg = eventsStream(s, d)
      .select(col("event_type"), hv.as("hv"))
      .groupBy(col("event_type"))
      .agg(graft.functions.MinHashSketch.minhash_sketch(col("hv"), 8).as("sk"))
    runToMemory(agg, OutputMode.Complete())
      .select(col("event_type"), posexplode(col("sk")).as(Seq("seed", "mh")))
      .select(col("event_type"), col("seed").cast(LongType).as("seed"), col("mh"))
      .orderBy("event_type", "seed")
  }

  /** Plan evidence recorded by s15's foreachBatch: the output columns of
    * every broadcast exchange in the per-batch probe plan (read by the
    * RoundSixSpec assertion — a streaming plan can't be inspected from
    * the outside after the query finishes). */
  @volatile var s15ProbeBroadcasts: Seq[Seq[String]] = Nil

  /** Streaming ANN ingestion — the similarity surface running INSIDE
    * Structured Streaming (B8 × B9, the s13 pattern applied to vectors):
    * new embeddings arrive on a stream and each micro-batch probes the
    * STATIC hyperplane bucket index (d16's structure) for its top-3
    * nearest neighbors. The batch side of the asymmetry is the d20/d21
    * one: the tiny arrival batch is BROADCAST (recorded per batch,
    * asserted in RoundSixSpec) while the corpus index is scanned, never
    * shuffled — at 100 TB the scan side would be d21's stored bucketed
    * table. Inside foreachBatch the arrivals are a plain DataFrame, so
    * the per-query top-k is the ordinary d16 window — no streaming
    * limitation on ranking — and results append to a parquet sink.
    * Every arrival is scored exactly once (appears in exactly one
    * batch), so stream-batch equivalence is structural. */
  private val s15 = Q(
    "s15_stream_ann_ingest",
    """WITH e AS (
         SELECT vec_id,
                list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
         FROM embeddings),
       n AS (SELECT vec_id, v, CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS n2 FROM e),
       sig AS (
         SELECT vec_id,
                array_to_string(list_transform(generate_series(0, 3), p ->
                  CASE WHEN CAST(list_sum(list_transform(generate_series(1, 64), i ->
                    v[i] * (CASE WHEN substring(md5(p || '_' || i), 1, 1)
                                 IN ('8','9','a','b','c','d','e','f')
                            THEN -1 ELSE 1 END))) AS BIGINT) >= 0
                  THEN '1' ELSE '0' END), '') AS bucket
         FROM e),
       pairs AS (
         SELECT q.vec_id AS qid, c.vec_id AS cid,
                CAST(list_sum(list_transform(generate_series(1, 64), i -> qn.v[i] * cn.v[i])) AS BIGINT)
                  / (sqrt(qn.n2) * sqrt(cn.n2)) AS cos
         FROM sig q JOIN sig c ON q.bucket = c.bucket
           JOIN n qn ON qn.vec_id = q.vec_id
           JOIN n cn ON cn.vec_id = c.vec_id
         WHERE q.vec_id % 10 = 5 AND c.vec_id % 10 != 5),
       top AS (SELECT qid, rank, cid, cos FROM (
           SELECT qid, cid, cos,
                  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
           FROM pairs) t WHERE rank <= 3)
       SELECT qid, rank, cid, round(cos, 4) AS cos
       FROM top ORDER BY qid, rank""") { (s, d) =>
    import graft.ops.Similarity.{dotQ, lshBucket, norm2Q, quantize}
    import org.apache.spark.sql.classic.ClassicConversions.castToImpl
    graft.functions.LongDot.register(s)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    // static corpus index: signature computed once per vector (at 100 TB
    // this is d21's stored bucketed band table, maintained at ingest)
    val corpusIdx = Tables.embeddings(s, d)
      .filter(col("vec_id") % 10 =!= 5)
      .select(col("vec_id").as("cid"), quantize(col("embedding")).as("cv"))
      .withColumn("cn2", norm2Q(col("cv")))
      .withColumn("bucket", lshBucket(col("cv"), planes = 4, dim = 64))
    val outDir = graft.Scratch.dir("graft_s15_sink")
    val evidence = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    val q = s.readStream.schema(schema)
      .option("pathGlobFilter", "embeddings.parquet")
      .parquet(d)
      .filter(col("vec_id") % 10 === 5)
      .writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val probes = batch
          .select(col("vec_id").as("qid"), quantize(col("embedding")).as("qv"))
          .withColumn("qn2", norm2Q(col("qv")))
          .withColumn("qbucket", lshBucket(col("qv"), planes = 4, dim = 64))
        val topk = corpusIdx
          .join(broadcast(probes), col("bucket") === col("qbucket"))
          .withColumn("cos",
            dotQ(col("qv"), col("cv")) / (sqrt(col("qn2")) * sqrt(col("cn2"))))
          .withColumn("rank", row_number().over(w).cast(LongType))
          .filter(col("rank") <= 3)
          .select(col("qid"), col("rank"), col("cid"), col("cos"))
        // exchanges are inserted by plan preparation (EnsureRequirements)
        // and AQE wraps the tree in an opaque adaptive node — descend it
        def collectB(p: org.apache.spark.sql.execution.SparkPlan): Seq[Seq[String]] =
          p match {
            case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
              collectB(a.executedPlan)
            case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec =>
              b.output.map(_.name) +: b.children.flatMap(collectB)
            case other => other.children.flatMap(collectB)
          }
        evidence ++= collectB(castToImpl(topk).queryExecution.executedPlan)
        topk.write.mode("append").parquet(outDir)
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s15ProbeBroadcasts = evidence.toSeq
    s.read.parquet(outDir)
      .select(col("qid"), col("rank"), col("cid"), round(col("cos"), 4).as("cos"))
      .orderBy("qid", "rank")
  }

  /** Streaming incremental dedup against the STORED band index — the full
    * production ingest loop (d21 × s13): the corpus band index is written
    * ONCE as a bucketed table; arriving documents derive their band keys
    * per micro-batch, probe the table (the d21 helper whose index-side
    * exchange-freeness is plan-asserted in RoundSixSpec), and candidates
    * are Jaccard-verified against the corpus shingle sets before a
    * duplicate/unique verdict is appended to the sink. New-batch work is
    * proportional to the batch; the corpus is never re-signed and never
    * shuffled. Each arrival verdicts in exactly one batch, so
    * stream-batch equivalence is structural (the d20/d21 oracle shape on
    * a third split). */
  private val s16 = Q(
    "s16_stream_stored_index_dedup",
    """WITH docs AS (
         SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       sh AS (
         SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh
         FROM (SELECT doc_id, ws,
                      unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS i
               FROM docs)),
       hs AS (
         SELECT doc_id, ('0x' || substring(md5(sh), 1, 8))::BIGINT AS h1,
                ('0x' || substring(md5(sh), 9, 8))::BIGINT AS h2
         FROM sh),
       sig AS (
         SELECT doc_id, seed, min(h1 + seed * h2) AS mh
         FROM hs, (SELECT unnest(generate_series(0, 7)) AS seed) seeds
         GROUP BY doc_id, seed),
       bands AS (
         SELECT doc_id, CAST(seed // 2 AS INT) AS band,
                md5(string_agg(CAST(mh AS VARCHAR), '|' ORDER BY seed)) AS band_key
         FROM sig GROUP BY doc_id, CAST(seed // 2 AS INT)),
       cand AS (
         SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
         FROM (SELECT * FROM bands WHERE doc_id % 11 = 5) n
         JOIN (SELECT * FROM bands WHERE doc_id % 11 != 5) o
           ON n.band = o.band AND n.band_key = o.band_key),
       shd AS (SELECT DISTINCT doc_id, h1 * 134217728 + h2 % 134217728 AS h
               FROM hs),
       sz AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
       inter AS (
         SELECT c.new_id, c.old_id, count(*) AS ni
         FROM cand c
           JOIN shd a ON a.doc_id = c.new_id
           JOIN shd b ON b.doc_id = c.old_id AND b.h = a.h
         GROUP BY c.new_id, c.old_id),
       ver AS (
         SELECT i.new_id, i.old_id FROM inter i
           JOIN sz sa ON sa.doc_id = i.new_id
           JOIN sz sb ON sb.doc_id = i.old_id
         WHERE i.ni * 1.0 / (sa.n + sb.n - i.ni) >= 0.5),
       cand_n AS (SELECT new_id, count(*) AS n_cand FROM cand GROUP BY new_id),
       ver_n AS (SELECT new_id, count(*) AS n_ver, min(old_id) AS best_match
                 FROM ver GROUP BY new_id)
       SELECT d.doc_id AS new_doc_id,
              CAST(coalesce(c.n_cand, 0) AS BIGINT) AS n_candidates,
              CAST(coalesce(v.n_ver, 0) AS BIGINT) AS n_verified,
              CASE WHEN v.new_id IS NOT NULL THEN 'duplicate' ELSE 'unique' END AS verdict,
              v.best_match
       FROM (SELECT doc_id FROM documents WHERE doc_id % 11 = 5) d
         LEFT JOIN cand_n c ON d.doc_id = c.new_id
         LEFT JOIN ver_n v ON d.doc_id = v.new_id
       ORDER BY new_doc_id""") { (s, d) =>
    import graft.ops.Dedup
    val corpus = Tables.documents(s, d).filter(col("doc_id") % 11 =!= 5)
    val (corpusBuckets, corpusShingles) = Dedup.lshBucketsAndShingles(
      corpus, "doc_id", "text", shingleWords = 3, bands = 4, rowsPerBand = 2)
    // per-run table name (the d33 rule): fixed names collide across
    // concurrent sessions sharing a metastore
    val idxTable = "graft_band_index_s16_" +
      graft.Scratch.nameTag()
    Dedup.writeBandIndex(s, corpusBuckets, idxTable)
    val outDir = graft.Scratch.dir("graft_s16_sink")
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val q = s.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(d)
      .filter(col("doc_id") % 11 === 5)
      .writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val (bBuckets, bShingles) = Dedup.lshBucketsAndShingles(
          batch.toDF(), "doc_id", "text", shingleWords = 3, bands = 4, rowsPerBand = 2)
        val cand = Dedup.reuse(
          Dedup.probeBandIndex(s, idxTable, bBuckets))
        val verified = Dedup.jaccardVerifiedPairs(
          cand, bShingles.unionAll(corpusShingles), tau = 0.5)
        val candN = cand.groupBy(col("id_a").as("new_id"))
          .agg(count(lit(1)).as("n_cand"))
        val verN = verified.groupBy(col("id_a").as("new_id"))
          .agg(count(lit(1)).as("n_ver"), min(col("id_b")).as("best_match"))
        batch.select(col("doc_id").as("new_doc_id"))
          .join(candN, col("new_doc_id") === candN("new_id"), "left")
          .join(verN, col("new_doc_id") === verN("new_id"), "left")
          .select(col("new_doc_id"),
            coalesce(col("n_cand"), lit(0L)).as("n_candidates"),
            coalesce(col("n_ver"), lit(0L)).as("n_verified"),
            when(verN("new_id").isNotNull, "duplicate").otherwise("unique").as("verdict"),
            col("best_match"))
          .write.mode("append").parquet(outDir)
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.read.parquet(outDir).orderBy("new_doc_id")
  }

  /** Stream-stream LEFT OUTER join with watermarks — s09's inner join
    * plus the outer-emission semantics: a purchase with no error in its
    * 10-minute window emits a NULL-padded row only when the watermark
    * passes the end of its match window (state eviction), so unmatched
    * results are exact, not racy. With AvailableNow replay the final
    * watermark is min(max purchase ts, max error ts) − 1h (the global
    * watermark is the min over both inputs); purchases whose window is
    * still open at that point never emit — the oracle applies the same
    * closure rule, making the eviction semantics itself the verified
    * quantity. State on both sides stays bounded by watermark + range. */
  private val s17 = Q(
    "s17_stream_outer_join",
    """WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
       e AS (SELECT user_id, ts FROM events WHERE event_type = 'error'),
       wm AS (SELECT least((SELECT max(ts) FROM p), (SELECT max(ts) FROM e))
                     - INTERVAL 1 HOUR AS w),
       m AS (
         SELECT p.event_id, p.user_id, p.ts, count(e.user_id) AS n_err
         FROM p LEFT JOIN e
           ON p.user_id = e.user_id
          AND e.ts >= p.ts AND e.ts <= p.ts + INTERVAL 10 MINUTE
         GROUP BY p.event_id, p.user_id, p.ts),
       agg AS (
         SELECT user_id,
                CAST(sum(n_err) AS BIGINT) AS n_matched,
                CAST(sum(CASE WHEN n_err = 0 AND ts + INTERVAL 10 MINUTE < w
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_unmatched
         FROM m CROSS JOIN wm GROUP BY user_id)
       SELECT user_id, n_matched, n_unmatched FROM agg
       WHERE n_matched > 0 OR n_unmatched > 0 ORDER BY user_id""") { (s, d) =>
    val purchases = eventsStream(s, d)
      .filter(col("event_type") === "purchase")
      .withWatermark("ts", "1 hour")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
    val errors = eventsStream(s, d)
      .filter(col("event_type") === "error")
      .withWatermark("ts", "1 hour")
      .select(col("user_id").as("e_user"), col("ts").as("e_ts"))
    val joined = purchases.join(errors,
      col("p_user") === col("e_user")
        && col("e_ts") >= col("p_ts")
        && col("e_ts") <= col("p_ts") + expr("interval 10 minutes"),
      "leftOuter")
    runToMemory(joined, OutputMode.Append())
      .groupBy(col("p_user").as("user_id"))
      .agg(count(col("e_user")).as("n_matched"),
        sum(when(col("e_user").isNull, 1L).otherwise(0L)).as("n_unmatched"))
      .orderBy("user_id")
  }

  /** Stream-stream LEFT SEMI join — the third watermark-join mode (s09
    * inner, s17 left outer): flag purchases that saw ≥1 error in their
    * 10-minute window, emitting each qualifying purchase exactly once
    * with nothing from the right side. Semi state is cheaper than inner:
    * a matched left row retires immediately instead of waiting to pair
    * with further right rows. */
  private val s18 = Q(
    "s18_stream_semi_join",
    """WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
       e AS (SELECT user_id, ts FROM events WHERE event_type = 'error'),
       hits AS (
         SELECT DISTINCT p.event_id, p.user_id
         FROM p JOIN e ON p.user_id = e.user_id
          AND e.ts >= p.ts AND e.ts <= p.ts + INTERVAL 10 MINUTE)
       SELECT user_id, count(*) AS n_flagged
       FROM hits GROUP BY user_id ORDER BY user_id""") { (s, d) =>
    val purchases = eventsStream(s, d)
      .filter(col("event_type") === "purchase")
      .withWatermark("ts", "1 hour")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
    val errors = eventsStream(s, d)
      .filter(col("event_type") === "error")
      .withWatermark("ts", "1 hour")
      .select(col("user_id").as("e_user"), col("ts").as("e_ts"))
    val joined = purchases.join(errors,
      col("p_user") === col("e_user")
        && col("e_ts") >= col("p_ts")
        && col("e_ts") <= col("p_ts") + expr("interval 10 minutes"),
      "left_semi")
    runToMemory(joined, OutputMode.Append())
      .groupBy(col("p_user").as("user_id"))
      .agg(count(lit(1)).as("n_flagged"))
      .orderBy("user_id")
  }

  /** Plan evidence recorded by s19's foreachBatch: output columns of every
    * broadcast exchange in the per-batch plan (the s15 pattern — a
    * finished streaming query's batch plans aren't inspectable from
    * outside). */
  @volatile var s19ProbeBroadcasts: Seq[Seq[String]] = Nil

  /** Streaming CHUNK-level decontamination (t15 × s13): documents arrive
    * on a stream, each micro-batch chunks them into the t15 context
    * windows and tests every chunk hash against the held-out benchmark's
    * chunk set — the contamination granularity retrieval pipelines
    * actually need (a clean doc can still embed a contaminated chunk;
    * d13's doc-level grams can't see which window to drop). The
    * benchmark chunk set is computed ONCE from the static split and
    * BROADCAST into the per-batch join (recorded + spec-asserted); the
    * arriving corpus is scanned narrowly, chunked map-side, and only
    * (doc, chunk-hash) pairs meet the broadcast. Each doc verdicts in
    * exactly one batch → stream-batch equivalence is structural. */
  private val s19 = Q(
    "s19_stream_chunk_decontaminate",
    """WITH t AS (
         SELECT doc_id, string_split(text, ' ') AS ws,
                len(string_split(text, ' ')) AS n_tok
         FROM documents),
       c AS (
         SELECT doc_id,
                md5(array_to_string(
                  list_slice(ws, start + 1, start + least(32, n_tok - start)),
                  ' ')) AS chunk_hash
         FROM (SELECT doc_id, ws, n_tok,
                      unnest(generate_series(0, n_tok - 1, 24)) AS start
               FROM t)),
       bench AS (SELECT DISTINCT chunk_hash FROM c WHERE doc_id % 13 = 7),
       corpus AS (SELECT doc_id, chunk_hash FROM c WHERE doc_id % 13 <> 7),
       census AS (
         SELECT k.doc_id, count(*) AS n_chunks,
                CAST(sum(CASE WHEN b.chunk_hash IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_contaminated
         FROM corpus k LEFT JOIN bench b ON k.chunk_hash = b.chunk_hash
         GROUP BY k.doc_id)
       SELECT doc_id, n_chunks, n_contaminated,
              CASE WHEN n_contaminated > 0 THEN 'contaminated' ELSE 'clean' END AS verdict
       FROM census ORDER BY doc_id""") { (s, d) =>
    def chunks(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .withColumn("n_tok", size(col("ws")))
      .select(col("doc_id"), col("ws"), col("n_tok"),
        explode(sequence(lit(0), col("n_tok") - 1, lit(24))).as("start"))
      .select(col("doc_id"),
        md5(array_join(
          slice(col("ws"), col("start") + 1,
            least(lit(32), col("n_tok") - col("start"))), " ")).as("chunk_hash"))
    val benchSet = chunks(Tables.documents(s, d).filter(col("doc_id") % 13 === 7))
      .select(col("chunk_hash").as("bh")).distinct()
    val outDir = graft.Scratch.dir("graft_s19_sink")
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val q = s.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(d)
      .filter(col("doc_id") % 13 =!= 7)
      .writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val out = chunks(batch.toDF())
          .join(broadcast(benchSet), col("chunk_hash") === col("bh"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_chunks"),
            sum(when(col("bh").isNotNull, 1L).otherwise(0L)).as("n_contaminated"))
          .select(col("doc_id"), col("n_chunks"), col("n_contaminated"),
            when(col("n_contaminated") > 0, "contaminated").otherwise("clean")
              .as("verdict"))
        // descend AQE's opaque adaptive node to reach the inserted
        // exchanges (the s15 recording pattern)
        def collectB(p: org.apache.spark.sql.execution.SparkPlan): Seq[Seq[String]] =
          p match {
            case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
              collectB(a.executedPlan)
            case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec =>
              b.output.map(_.name) +: b.children.flatMap(collectB)
            case other => other.children.flatMap(collectB)
          }
        s19ProbeBroadcasts = s19ProbeBroadcasts ++ collectB(
          org.apache.spark.sql.classic.ClassicConversions.castToImpl(out)
            .queryExecution.executedPlan)
        out.write.mode("append").parquet(outDir)
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.read.parquet(outDir).orderBy("doc_id")
  }

  /** Stream-stream FULL OUTER join — completing the watermark-join family
    * (s09 inner, s17 left outer, s18 left semi): purchases pair with
    * errors in their 10-minute window; watermark passage emits BOTH the
    * never-errored purchases (left nulls) and the orphan errors that
    * followed no purchase (right nulls). The oracle derives the SAME
    * eviction rule the state store applies — a left row retires when its
    * whole match window clears the watermark, a right row as soon as its
    * own timestamp does (its matches can only be in its past) — so the
    * watermark semantics themselves are the verified quantity, per side. */
  private val s20 = Q(
    "s20_stream_full_outer_join",
    """WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
       e AS (SELECT user_id, ts FROM events WHERE event_type = 'error'),
       wm AS (SELECT least((SELECT max(ts) FROM p), (SELECT max(ts) FROM e))
                     - INTERVAL 1 HOUR AS w),
       matched AS (
         SELECT p.event_id, p.user_id AS pu, e.user_id AS eu, e.ts AS e_ts
         FROM p JOIN e
           ON p.user_id = e.user_id
          AND e.ts >= p.ts AND e.ts <= p.ts + INTERVAL 10 MINUTE),
       left_un AS (
         SELECT p.user_id FROM p CROSS JOIN wm
         WHERE p.ts + INTERVAL 10 MINUTE < wm.w
           AND NOT EXISTS (
             SELECT 1 FROM e WHERE e.user_id = p.user_id
               AND e.ts >= p.ts AND e.ts <= p.ts + INTERVAL 10 MINUTE)),
       right_un AS (
         SELECT e.user_id FROM e CROSS JOIN wm
         WHERE e.ts < wm.w
           AND NOT EXISTS (
             SELECT 1 FROM p WHERE p.user_id = e.user_id
               AND e.ts >= p.ts AND e.ts <= p.ts + INTERVAL 10 MINUTE)),
       u AS (
         SELECT pu AS user_id, 1 AS m, 0 AS lu, 0 AS ru FROM matched
         UNION ALL SELECT user_id, 0, 1, 0 FROM left_un
         UNION ALL SELECT user_id, 0, 0, 1 FROM right_un)
       SELECT user_id,
              CAST(sum(m) AS BIGINT) AS n_matched,
              CAST(sum(lu) AS BIGINT) AS n_left_unmatched,
              CAST(sum(ru) AS BIGINT) AS n_right_unmatched
       FROM u GROUP BY user_id ORDER BY user_id""") { (s, d) =>
    val purchases = eventsStream(s, d)
      .filter(col("event_type") === "purchase")
      .withWatermark("ts", "1 hour")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
    val errors = eventsStream(s, d)
      .filter(col("event_type") === "error")
      .withWatermark("ts", "1 hour")
      .select(col("user_id").as("e_user"), col("ts").as("e_ts"))
    val joined = purchases.join(errors,
      col("p_user") === col("e_user")
        && col("e_ts") >= col("p_ts")
        && col("e_ts") <= col("p_ts") + expr("interval 10 minutes"),
      "fullOuter")
    runToMemory(joined, OutputMode.Append())
      .select(coalesce(col("p_user"), col("e_user")).as("user_id"),
        when(col("p_user").isNotNull && col("e_user").isNotNull, 1L).otherwise(0L).as("m"),
        when(col("e_user").isNull, 1L).otherwise(0L).as("lu"),
        when(col("p_user").isNull, 1L).otherwise(0L).as("ru"))
      .groupBy("user_id")
      .agg(sum(col("m")).as("n_matched"),
        sum(col("lu")).as("n_left_unmatched"),
        sum(col("ru")).as("n_right_unmatched"))
      .orderBy("user_id")
  }

  /** Streaming leaderboard — the aggregate-in-stream / rank-at-serving
    * split every real-time "trending" surface uses: the STREAM maintains
    * per-(hour, event_type) counts (the incremental, state-bounded
    * part); the top-3-per-window rank runs on the materialized
    * aggregate at read time (ranking is not an incremental aggregate —
    * a rank can change retroactively within a window, which is exactly
    * why Spark disallows streaming window-functions; pushing it to the
    * serving query is the production idiom, and the rank input is
    * windows × types rows, not events). */
  private val s21 = Q(
    "s21_stream_leaderboard",
    """WITH c AS (
         SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS window_start,
                event_type, count(*) AS n
         FROM events GROUP BY 1, 2),
       r AS (
         SELECT window_start, event_type, n,
                row_number() OVER (PARTITION BY window_start
                  ORDER BY n DESC, event_type) AS rank
         FROM c)
       SELECT window_start, rank, event_type, n
       FROM r WHERE rank <= 3 ORDER BY window_start, rank""") { (s, d) =>
    val agg = eventsStream(s, d)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val wr = org.apache.spark.sql.expressions.Window
      .partitionBy(col("window_start")).orderBy(col("n").desc, col("event_type"))
    runToMemory(agg, OutputMode.Complete())
      .select(unix_timestamp(col("window.start")).as("window_start"),
        col("event_type"), col("n"))
      .withColumn("rank", row_number().over(wr))
      .filter(col("rank") <= 3)
      .select(col("window_start"), col("rank").cast(LongType).as("rank"),
        col("event_type"), col("n"))
      .orderBy("window_start", "rank")
  }

  /** Streaming Count-Min maintenance — the x13 frequency sketch run as
    * streaming state (the s14 pattern, for counts instead of set
    * signatures): per event type, a 2×64-counter CMS of the event
    * content accumulates across micro-batches. Because CMS merge is
    * elementwise ADD — a commutative, associative aggregate — the
    * partial sketches combine across batches in arrival order without
    * ever reprocessing history, and the finished state equals the batch
    * sketch exactly (the oracle): how a 100 TB/day feed keeps live
    * hot-key estimates with depth×width longs per key of state. */
  private val s22 = Q(
    "s22_stream_cms_maintenance",
    """WITH c AS (
         SELECT event_type,
                ('0x' || substring(md5(CAST(user_id AS VARCHAR) || '|' || props), 1, 8))::BIGINT AS h1,
                ('0x' || substring(md5(CAST(user_id AS VARCHAR) || '|' || props), 9, 8))::BIGINT AS h2
         FROM events),
       seeds AS (SELECT unnest(generate_series(0, 1)) AS i),
       counts AS (
         SELECT event_type, i, (h1 + i * h2) % 64 AS b, count(*) AS c
         FROM c, seeds GROUP BY event_type, i, b),
       grid AS (
         SELECT DISTINCT event_type, s.i, g.b
         FROM c, seeds s, (SELECT unnest(generate_series(0, 63)) AS b) g)
       SELECT g.event_type AS event_type, CAST(g.i * 64 + g.b AS BIGINT) AS pos,
              CAST(coalesce(c.c, 0) AS BIGINT) AS counter
       FROM grid g LEFT JOIN counts c
         ON c.event_type = g.event_type AND c.i = g.i AND c.b = g.b
       ORDER BY 1, 2""") { (s, d) =>
    graft.functions.CmsSketch.register(s)
    val contentMd5 = md5(concat(col("user_id").cast("string"), lit("|"), col("props")))
    val hv = array(struct(
      conv(substring(contentMd5, 1, 8), 16, 10).cast(LongType).as("h1"),
      conv(substring(contentMd5, 9, 8), 16, 10).cast(LongType).as("h2")))
    val agg = eventsStream(s, d)
      .select(col("event_type"), hv.as("hv"))
      .groupBy(col("event_type"))
      .agg(graft.functions.CmsSketch.cms_sketch(col("hv"), 2, 64).as("sk"))
    runToMemory(agg, OutputMode.Complete())
      .select(col("event_type"), posexplode(col("sk")).as(Seq("pos", "counter")))
      .select(col("event_type"), col("pos").cast(LongType).as("pos"), col("counter"))
      .orderBy("event_type", "pos")
  }

  /** Streaming per-key deterministic sampler — the t11/t16 sampling
    * contract kept ALIVE under continuous ingest: per event type, the
    * bottom-5 events by (md5(event_id), event_id) priority. Bottom-k of
    * a set is commutative/associative/idempotent in arrivals, so the
    * final state equals the batch rank query EXACTLY regardless of
    * micro-batch boundaries or arrival order — a seedless reservoir
    * whose membership is reproducible across runs and replays (what a
    * training-data sampler needs; a classic randomized reservoir is
    * none of those). State per key is k priorities + a counter — fixed
    * bytes, unbounded input (the bound is spec-asserted batch-by-batch).
    * The priority hash is computed MAP-SIDE by the codegen md5
    * expression before rows reach the stateful operator. */
  private val s23 = Q(
    "s23_stream_reservoir",
    """WITH r AS (
         SELECT event_type, event_id,
                row_number() OVER (PARTITION BY event_type
                  ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS smp_rank,
                count(*) OVER (PARTITION BY event_type) AS n_seen
         FROM events)
       SELECT event_type, smp_rank, event_id, n_seen
       FROM r WHERE smp_rank <= 5 ORDER BY event_type, smp_rank""") { (s, d) =>
    import s.implicits._
    val st = eventsStream(s, d)
      .select(col("event_type"), md5(col("event_id").cast("string")).as("hk"),
        col("event_id"))
      .as[(String, String, Long)]
    val updated = st.groupByKey(_._1)
      .mapGroupsWithState[(Long, Seq[(String, Long)]), (String, Long, Seq[(String, Long)])](
        GroupStateTimeout.NoTimeout) {
        case (etype, rows, state: GroupState[(Long, Seq[(String, Long)])]) =>
          val (n0, keep0) = state.getOption.getOrElse((0L, Seq.empty[(String, Long)]))
          var n = n0
          val merged = scala.collection.mutable.ArrayBuffer(keep0: _*)
          rows.foreach { case (_, hk, id) => n += 1; merged += ((hk, id)) }
          val keep = merged.distinct.sorted.take(5).toSeq
          state.update((n, keep))
          (etype, n, keep)
      }
      .toDF("event_type", "n_seen", "sample")
    // update-mode sink appends one row per key per micro-batch; n_seen is
    // monotone, so max_by picks the final state
    runToMemory(updated, OutputMode.Update())
      .groupBy("event_type")
      .agg(max(col("n_seen")).as("n_seen"),
        expr("max_by(sample, n_seen)").as("sample"))
      .select(col("event_type"), col("n_seen"),
        posexplode(col("sample")).as(Seq("p", "s")))
      .select(col("event_type"), (col("p") + 1).cast(LongType).as("smp_rank"),
        col("s._2").as("event_id"), col("n_seen"))
      .orderBy("event_type", "smp_rank")
  }

  /** Watermark-evicting streaming dedup — `dropDuplicatesWithinWatermark`
    * (the API s03's plain dropDuplicates is missing at scale): the
    * dedup key state is DROPPED once the watermark passes it, so state
    * is bounded by keys-per-watermark-window, not keys-ever-seen — the
    * difference between a dedup that survives a month of 100 TB/day
    * ingest and one that OOMs. With a watermark wider than the
    * fixture's whole time span the semantics coincide with global
    * first-occurrence dedup, which is exactly what makes the batch
    * DISTINCT oracle exact here; the eviction behavior itself is the
    * API's documented contract (deduplication guaranteed only within
    * the watermark — the production trade this operator names). */
  private val s24 = Q(
    "s24_stream_dedup_watermark",
    """SELECT event_type, count(DISTINCT user_id) AS n_users
       FROM events GROUP BY event_type ORDER BY event_type""") { (s, d) =>
    val deduped = eventsStream(s, d)
      .withWatermark("ts", "30 days")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_users"))
    runToMemory(deduped, OutputMode.Complete())
      .orderBy("event_type")
  }

  /** Streaming crawl-frontier URL dedup (d46 × s03): discovered links
    * arrive continuously — here the documents replay, each link arriving
    * TWICE via two stream arms (the re-discovery a frontier absorbs) —
    * and every URL must be fetched exactly once. Canonicalization
    * (graft.ops.CurationExtra: strip fragment/tracking, normalize
    * slash/case) runs MAP-SIDE on the stream before the stateful
    * dropDuplicates, so the dedup state keys on the canonical form and
    * variant re-discoveries cost no state growth. The bounded
    * AvailableNow replay makes plain dropDuplicates the exact
    * first-occurrence semantics of the batch DISTINCT oracle; a
    * continuous deployment would swap in dropDuplicatesWithinWatermark
    * keyed the same way (s24's machinery) to bound state by the
    * re-discovery horizon instead of frontier-ever-seen. */
  private val s25 = Q(
    "s25_stream_url_frontier",
    """WITH raw AS (
         SELECT doc_id,
                'https://' || (CASE WHEN doc_id % 3 = 0 THEN upper(source) ELSE source END)
                  || '.example.com/article/' || CAST(doc_id // 140 AS VARCHAR)
                  || (CASE WHEN doc_id % 8 = 0 THEN '/' ELSE '' END)
                  || (CASE doc_id % 4 WHEN 0 THEN '?utm_source=rss&utm_id=' || CAST(doc_id % 9 AS VARCHAR)
                                      WHEN 1 THEN '?ref=home' ELSE '' END)
                  || (CASE WHEN doc_id % 6 = 0 THEN '#sec-' || CAST(doc_id % 5 AS VARCHAR) ELSE '' END) AS url
         FROM documents),
       canon AS (
         SELECT lower(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                  url, '#.*$', ''), '\?utm_[^#]*$', ''), '/\?', '?'), '/$', '')) AS cu
         FROM raw)
       SELECT regexp_extract(cu, 'https://([^/]+)', 1) AS host,
              CAST(count(DISTINCT cu) AS BIGINT) AS n_frontier
       FROM canon GROUP BY 1 ORDER BY host""") { (s, d) =>
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    def arm: DataFrame = s.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(d)
      .select(col("doc_id"), graft.ops.CurationExtra.synthUrl.as("url"))
    val dedup = arm.unionAll(arm)
      .withColumn("cu", graft.ops.CurationExtra.canonicalUrl(col("url")))
      .dropDuplicates("cu")
    val agg = dedup
      .groupBy(regexp_extract(col("cu"), "https://([^/]+)", 1).as("host"))
      .agg(count(lit(1)).as("n_frontier"))
    runToMemory(agg, OutputMode.Complete())
      .orderBy("host")
  }

  /** State-store introspection: batch-read a finished streaming
    * aggregation's CHECKPOINT STATE with Spark 4's `statestore` data
    * source (the ops/debugging surface every production streaming
    * deployment eventually needs — "what does the state actually hold
    * right now?" answered without touching the running query). A keyed
    * count/sum aggregation runs to completion against a checkpoint;
    * the state files are then read back as a plain DataFrame (key
    * struct, aggregation-buffer value struct, partition_id) and must
    * equal the batch aggregate — which is precisely what a completed
    * streaming agg's state IS, so the DuckDB oracle is the batch
    * GROUP BY itself.
    *
    * Scale shape: the state source reads one store per shuffle
    * partition in parallel (no driver materialization) — state
    * snapshots of a 1000-partition deployment scan like any other
    * partitioned source. The partition_id column is also asserted in
    * RoundSevenSpec: keys spread across stores, i.e. state is
    * hash-distributed, not driver-held. */
  private val s26 = Q(
    "s26_state_store_read",
    """SELECT event_type, count(*) AS n,
              CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
       FROM events GROUP BY event_type ORDER BY event_type""") { (s, d) =>
    val ckpt = graft.Scratch.dir("graft_statestore_ckpt")
    val agg = eventsStream(s, d)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast(LongType)).as("value_cents"))
    val saved = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", math.min(8, saved.toInt).toString)
    try {
      val q = agg.writeStream
        .format("memory")
        .queryName(s"graft_ss_${sinkCounter.incrementAndGet()}_${System.nanoTime()}")
        .outputMode(OutputMode.Complete())
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally s.conf.set("spark.sql.shuffle.partitions", saved)
    // the value struct carries the agg buffer under its internal field
    // names (count, sum) — alias back to the declared output contract
    s.read.format("statestore").option("path", ckpt).load()
      .select(col("key.event_type").as("event_type"),
        col("value.count").as("n"), col("value.sum").as("value_cents"))
      .orderBy("event_type")
  }

  /** Idempotent keyed-store upsert through `foreachBatch` — the
    * exactly-once-to-an-external-store pattern production streaming jobs
    * actually deploy (s12's file sink covers Spark-owned storage; real
    * pipelines also land aggregates in a store Spark does NOT own). The
    * protocol: update-mode aggregation emits each key's new value per
    * micro-batch; `foreachBatch` writes the changed rows to a
    * DETERMINISTICALLY-NAMED location keyed by `batchId`
    * (`store/batch=<id>`, mode=overwrite). Because Spark replays an
    * uncommitted batch with the SAME batchId after a crash, the re-run
    * OVERWRITES the same location instead of appending a duplicate —
    * idempotence by addressing, the same trick as MERGE ON (key,
    * batch_id). Store reconstruction takes each key's row from its
    * highest batch, which is the key's final aggregate, so the DuckDB
    * batch GROUP BY is an exact oracle. Crash-restart exercised in
    * RoundSevenSpec.
    *
    * Scale shape: each batch writes only CHANGED keys (update mode);
    * reconstruction is one window over key-partitioned store rows —
    * at store scale that read is the consumer's problem precisely
    * because the write path stays append-shaped and tiny. */
  private val s27 = Q(
    "s27_stream_idempotent_upsert",
    """SELECT event_type, count(*) AS n,
              CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
       FROM events GROUP BY event_type ORDER BY event_type""") { (s, d) =>
    val store = graft.Scratch.dir("graft_upsert_store")
    val ckpt = graft.Scratch.dir("graft_upsert_ckpt")
    val agg = eventsStream(s, d)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast(LongType)).as("value_cents"))
    val saved = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", math.min(8, saved.toInt).toString)
    try {
      val q = agg.writeStream
        .outputMode(OutputMode.Update())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          // deterministic per-batch address + overwrite = a replayed
          // batch lands on the same files, never beside them
          batch.write.mode("overwrite").parquet(s"$store/batch=$batchId")
          ()
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally s.conf.set("spark.sql.shuffle.partitions", saved)
    // store reconstruction: each key's latest-batch row IS its final value
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy(col("batch").desc)
    s.read.parquet(store) // partition discovery yields the batch column
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("n"), col("value_cents"))
      .orderBy("event_type")
  }

  /** CHAINED stateful aggregations — two windowed aggregations in ONE
    * streaming query (append mode), the multi-stateful-operator support
    * Spark gained in 3.4: a 5-minute pre-aggregation rolls up into
    * 1-hour windows via `window_time()` (the event-time column a
    * finished window exposes so a DOWNSTREAM stateful operator can
    * window it again). This is the production two-tier rollup shape —
    * fine-grained state stays small and short-lived, the coarse tier
    * aggregates already-reduced rows — without a foreachBatch hop or an
    * intermediate sink.
    *
    * Watermark propagates through both operators, so the emission rule
    * compounds: an hour window emits once the global watermark
    * (max event time − 1 h) passes its end, and every 5-minute window
    * inside it has necessarily emitted by then — the oracle's HAVING is
    * exactly s07's, at the hour granularity.
    *
    * Scale shape: tier-1 state is (5-min window × type) counters,
    * evicted after one hour; tier-2 receives ≤ 12 rows per (hour, type)
    * instead of raw events. The shuffle between tiers carries window
    * structs + longs only. */
  private val s28 = Q(
    "s28_chained_stateful_aggs",
    """WITH m AS (SELECT max(ts) AS max_ts FROM events),
       sub AS (
         SELECT CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS sub_start,
                CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS hour_start,
                event_type, count(*) AS n,
                sum(CAST(round(value * 100) AS BIGINT)) AS cents
         FROM events GROUP BY 1, 2, 3),
       agg AS (
         SELECT hour_start, event_type, count(*) AS n_sub,
                CAST(sum(n) AS BIGINT) AS n_events,
                CAST(sum(cents) AS BIGINT) AS cents
         FROM sub GROUP BY 1, 2)
       SELECT a.hour_start, a.event_type, a.n_sub, a.n_events, a.cents
       FROM agg a, m
       WHERE a.hour_start + 3600 <= epoch(m.max_ts) - 3600
       ORDER BY hour_start, event_type""") { (s, d) =>
    val lvl1 = eventsStream(s, d)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast(LongType)).as("cents"))
    val lvl2 = lvl1
      .groupBy(window(window_time(col("window")), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_sub"), sum(col("n")).as("n_events"),
        sum(col("cents")).as("cents"))
    runToMemory(lvl2, OutputMode.Append())
      .select(unix_timestamp(col("window.start")).as("hour_start"),
        col("event_type"), col("n_sub"), col("n_events"), col("cents"))
      .orderBy("hour_start", "event_type")
  }

  /** Streaming DYNAMIC-gap sessions — q77's per-event gap expression
    * (purchases hold sessions open 2 h, the rest 30 min) running as
    * stateful session state: the state store must MERGE sessions across
    * micro-batches when a later event's reach bridges earlier ones, and
    * with a variable gap the reach depends on each member's type, not a
    * constant. Complete mode (s04's pattern), so the finished result is
    * exactly the batch semantics and q77's hand-derived running-max
    * oracle applies verbatim. */
  private val s29 = Q(
    "s29_stream_dynamic_sessions",
    """WITH e AS (
         SELECT user_id, epoch_us(ts) AS us, event_id,
                CASE WHEN event_type = 'purchase' THEN 7200000000 ELSE 1800000000 END AS gap_us
         FROM events),
       r AS (
         SELECT user_id, us, event_id, gap_us,
                max(us + gap_us) OVER (PARTITION BY user_id ORDER BY us, event_id
                                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS reach
         FROM e),
       flg AS (
         SELECT user_id, us, event_id,
                CASE WHEN reach IS NULL OR us > reach THEN 1 ELSE 0 END AS new_s
         FROM r),
       sess AS (
         SELECT user_id, us,
                sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sid
         FROM flg),
       g AS (SELECT user_id, sid, count(*) AS n_events FROM sess GROUP BY user_id, sid)
       SELECT user_id, CAST(count(*) AS BIGINT) AS n_sessions,
              CAST(sum(n_events) AS BIGINT) AS n_events,
              CAST(max(n_events) AS BIGINT) AS max_len
       FROM g GROUP BY user_id ORDER BY user_id""") { (s, d) =>
    val gap = when(col("event_type") === "purchase", "2 hours")
      .otherwise("30 minutes")
    val agg = eventsStream(s, d)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
    runToMemory(agg, OutputMode.Complete())
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"), sum(col("n_events")).as("n_events"),
        max(col("n_events")).as("max_len"))
      .orderBy("user_id")
  }

  /** Plan evidence recorded by s30's foreachBatch (the s19 pattern):
    * output columns of every broadcast exchange per batch. */
  @volatile var s30ProbeBroadcasts: Seq[Seq[String]] = Nil

  /** t15-style 32-token/24-stride chunk hashes of a (doc_id, text) frame
    * — shared by s19 and the composed s30 pipeline. */
  private[graft] def chunkHashes(df: DataFrame): DataFrame = df
    .select(col("doc_id"), split(col("text"), " ").as("ws"))
    .withColumn("n_tok", size(col("ws")))
    .select(col("doc_id"), col("ws"), col("n_tok"),
      explode(sequence(lit(0), col("n_tok") - 1, lit(24))).as("start"))
    .select(col("doc_id"),
      md5(array_join(
        slice(col("ws"), col("start") + 1,
          least(lit(32), col("n_tok") - col("start"))), " ")).as("chunk_hash"))

  /** ONE micro-batch of the composed streaming curation pipeline — the
    * body s30 runs per batch, factored out so RoundNineSpec can run the
    * IDENTICAL program as a plain batch job and assert stream ≡ batch.
    * Stages (each citing its solo-verified streaming operator):
    *   1. crawl-frontier URL dedup (s25/d46): canonicalize map-side,
    *      anti-join the persistent SEEN-URL STORE (state externalized to
    *      a parquet store the pipeline maintains — the d53 discipline —
    *      so frontier state survives restarts and never lives in
    *      executor memory), keep the min-id representative per canonical
    *      URL within the batch, then append the accepted keys back to
    *      the store: re-discoveries in LATER batches anti-join away.
    *   2. chunk decontamination (s19/t15): the static benchmark chunk
    *      set broadcasts into the per-batch join; only whole-doc
    *      verdicts survive.
    *   3. stored-index near-dedup (s16/d21): clean docs' band keys probe
    *      the corpus band index (index side reads its bucketed layout
    *      exchange-free), candidates Jaccard-verify against batch ∪
    *      corpus shingle sets.
    * Per-batch work ∝ batch size; the corpus is never re-signed, the
    * benchmark never recomputed, and frontier state grows by accepted
    * keys only. */
  private[graft] def curationBatch(s: SparkSession, batch: DataFrame,
      idxTable: String, benchSet: DataFrame, corpusShingles: DataFrame,
      seenDir: String): DataFrame = {
    import graft.ops.{CurationExtra, Dedup}
    // ---- stage 1: frontier dedup against the external seen store
    val withCu = batch
      .withColumn("cu", CurationExtra.canonicalUrl(CurationExtra.synthUrl))
    // explicit schema: an empty store dir reads as an empty frame
    val seen = s.read.schema("cu STRING").parquet(seenDir)
    // the store is frontier-scale (at 100 TB it dwarfs every batch), so
    // it must never SHUFFLE: broadcast the batch's tiny key set into the
    // store scan (one narrow pass, matches only survive), then anti-join
    // the batch against the broadcast INTERSECTION — semantically
    // identical to anti-joining the whole store, restricted to batch
    // rows, but the exchange carries ≤|batch| keys instead of the store
    // (the d15 probe discipline applied to frontier state; at
    // ScaleProbeS30's 455k-key store the wall delta is inside the drift
    // band — the candidate-restricted digest semi-join dominates there —
    // but the store-SHUFFLE term this removes is the one that grows
    // with frontier state, and both routes still pay the narrow scan)
    val batchKeys = withCu.select("cu").distinct()
    val seenHits = seen.join(broadcast(batchKeys), Seq("cu"))
    val fresh = withCu.join(broadcast(seenHits), Seq("cu"), "left_anti")
    // EAGER localCheckpoint, not persist: appending to the seen store
    // below invalidates every cached plan that references the store path
    // (Spark refreshes path-dependent caches on insert), so a persisted
    // `keep` would silently recompute against the just-appended store and
    // anti-join ITSELF away. Checkpointing truncates the lineage — the
    // accepted batch no longer references the store at all.
    val keep = fresh
      .groupBy("cu").agg(min(col("doc_id")).as("doc_id"))
      .join(fresh, Seq("cu", "doc_id"))
      .select(col("doc_id"), col("cu"), col("text"))
      .localCheckpoint(true)
    keep.select("cu").write.mode("append").parquet(seenDir)
    // ---- stage 2: chunk decontamination (broadcast benchmark)
    val census = Dedup.reuse(chunkHashes(keep)
      .join(broadcast(benchSet), col("chunk_hash") === col("bh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("bh").isNotNull, 1L).otherwise(0L)).as("n_contaminated")))
    val clean = keep
      .join(census.filter(col("n_contaminated") === 0L).select("doc_id"), "doc_id")
    // ---- stage 3: stored-index near-dedup on the clean survivors
    val (bBuckets, bShingles) = Dedup.lshBucketsAndShingles(
      clean, "doc_id", "text", shingleWords = 3, bands = 4, rowsPerBand = 2)
    val cand = Dedup.reuse(Dedup.probeBandIndex(s, idxTable, bBuckets))
    val verified = Dedup.jaccardVerifiedPairs(
      cand, bShingles.unionAll(corpusShingles), tau = 0.5)
    val candN = cand.groupBy(col("id_a").as("doc_id"))
      .agg(count(lit(1)).as("n_cand"))
    val verN = verified.groupBy(col("id_a").as("doc_id"))
      .agg(count(lit(1)).as("n_ver"), min(col("id_b")).as("best_match"))
    census
      .join(candN, Seq("doc_id"), "left")
      .join(verN, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"), col("n_contaminated"),
        coalesce(col("n_cand"), lit(0L)).as("n_candidates"),
        coalesce(col("n_ver"), lit(0L)).as("n_verified"),
        when(col("n_contaminated") > 0, "contaminated")
          .when(col("n_ver").isNotNull, "duplicate")
          .otherwise("kept").as("verdict"),
        col("best_match"))
  }

  /** The COMPOSED streaming curation pipeline — p01's streaming twin
    * (round-8 verdict item: s25 → s19 → s16 as ONE foreachBatch
    * program). Documents arrive on the stream (the % 11 = 5 ingest split,
    * s16's contract); each micro-batch runs [[curationBatch]]'s three
    * chained stages: frontier URL dedup against an EXTERNAL seen-key
    * store, chunk decontamination under a broadcast benchmark, and
    * stored-index near-dedup against the pre-built corpus band index.
    * The output census (one row per frontier-surviving doc: chunk
    * counts, candidate/verified counts, staged verdict) is the composed
    * funnel an ingest pipeline actually applies before admitting a crawl
    * into a 100 TB corpus.
    *
    * Oracle: the same three stages in DuckDB over the batch split —
    * exact because every arriving doc verdicts in exactly one batch and
    * the AvailableNow single-file replay makes the batch-local min-id
    * frontier rule global (multi-batch re-discovery behavior — later
    * arrivals of a seen key drop — is RoundNineSpec's restart test).
    * Stream ≡ batch is asserted structurally by the spec running
    * [[curationBatch]] once over the full split and comparing row sets. */
  private val s30 = Q(
    "s30_stream_curation_pipeline",
    """WITH arr AS (
         SELECT doc_id, text, source FROM documents WHERE doc_id % 11 = 5),
       raw AS (
         SELECT doc_id, text,
                'https://' || (CASE WHEN doc_id % 3 = 0 THEN upper(source) ELSE source END)
                  || '.example.com/article/' || CAST(doc_id // 140 AS VARCHAR)
                  || (CASE WHEN doc_id % 8 = 0 THEN '/' ELSE '' END)
                  || (CASE doc_id % 4 WHEN 0 THEN '?utm_source=rss&utm_id=' || CAST(doc_id % 9 AS VARCHAR)
                                      WHEN 1 THEN '?ref=home' ELSE '' END)
                  || (CASE WHEN doc_id % 6 = 0 THEN '#sec-' || CAST(doc_id % 5 AS VARCHAR) ELSE '' END) AS url
         FROM arr),
       canon AS (
         SELECT doc_id, text,
                lower(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                  url, '#.*$', ''), '\?utm_[^#]*$', ''), '/\?', '?'), '/$', '')) AS cu
         FROM raw),
       k1 AS (SELECT cu, min(doc_id) AS doc_id FROM canon GROUP BY cu),
       keep AS (SELECT c.doc_id, c.text FROM canon c JOIN k1 ON k1.doc_id = c.doc_id),
       kt AS (SELECT doc_id, string_split(text, ' ') AS ws,
                     len(string_split(text, ' ')) AS n_tok FROM keep),
       kc AS (
         SELECT doc_id,
                md5(array_to_string(
                  list_slice(ws, start + 1, start + least(32, n_tok - start)),
                  ' ')) AS chunk_hash
         FROM (SELECT doc_id, ws, n_tok,
                      unnest(generate_series(0, n_tok - 1, 24)) AS start
               FROM kt)),
       bt AS (SELECT doc_id, string_split(text, ' ') AS ws,
                     len(string_split(text, ' ')) AS n_tok
              FROM documents WHERE doc_id % 13 = 7),
       bench AS (
         SELECT DISTINCT md5(array_to_string(
                  list_slice(ws, start + 1, start + least(32, n_tok - start)),
                  ' ')) AS chunk_hash
         FROM (SELECT ws, n_tok,
                      unnest(generate_series(0, n_tok - 1, 24)) AS start
               FROM bt)),
       census AS (
         SELECT k.doc_id, count(*) AS n_chunks,
                CAST(sum(CASE WHEN b.chunk_hash IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_contaminated
         FROM kc k LEFT JOIN bench b ON k.chunk_hash = b.chunk_hash
         GROUP BY k.doc_id),
       sdocs AS (
         SELECT doc_id, string_split(text, ' ') AS ws
         FROM documents WHERE doc_id % 11 != 5
         UNION ALL
         SELECT k.doc_id, string_split(k.text, ' ')
         FROM keep k JOIN census c ON c.doc_id = k.doc_id
         WHERE c.n_contaminated = 0),
       sh AS (
         SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh
         FROM (SELECT doc_id, ws,
                      unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS i
               FROM sdocs)),
       hs AS (
         SELECT doc_id, ('0x' || substring(md5(sh), 1, 8))::BIGINT AS h1,
                ('0x' || substring(md5(sh), 9, 8))::BIGINT AS h2
         FROM sh),
       sig AS (
         SELECT doc_id, seed, min(h1 + seed * h2) AS mh
         FROM hs, (SELECT unnest(generate_series(0, 7)) AS seed) seeds
         GROUP BY doc_id, seed),
       bands AS (
         SELECT doc_id, CAST(seed // 2 AS INT) AS band,
                md5(string_agg(CAST(mh AS VARCHAR), '|' ORDER BY seed)) AS band_key
         FROM sig GROUP BY doc_id, CAST(seed // 2 AS INT)),
       cand AS (
         SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
         FROM (SELECT * FROM bands WHERE doc_id % 11 = 5) n
         JOIN (SELECT * FROM bands WHERE doc_id % 11 != 5) o
           ON n.band = o.band AND n.band_key = o.band_key),
       shd AS (SELECT DISTINCT doc_id, h1 * 134217728 + h2 % 134217728 AS h
               FROM hs),
       sz AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
       inter AS (
         SELECT c.new_id, c.old_id, count(*) AS ni
         FROM cand c
           JOIN shd a ON a.doc_id = c.new_id
           JOIN shd b ON b.doc_id = c.old_id AND b.h = a.h
         GROUP BY c.new_id, c.old_id),
       ver AS (
         SELECT i.new_id, i.old_id FROM inter i
           JOIN sz sa ON sa.doc_id = i.new_id
           JOIN sz sb ON sb.doc_id = i.old_id
         WHERE i.ni * 1.0 / (sa.n + sb.n - i.ni) >= 0.5),
       cand_n AS (SELECT new_id, count(*) AS n_cand FROM cand GROUP BY new_id),
       ver_n AS (SELECT new_id, count(*) AS n_ver, min(old_id) AS best_match
                 FROM ver GROUP BY new_id)
       SELECT cs.doc_id, cs.n_chunks, cs.n_contaminated,
              CAST(coalesce(c.n_cand, 0) AS BIGINT) AS n_candidates,
              CAST(coalesce(v.n_ver, 0) AS BIGINT) AS n_verified,
              CASE WHEN cs.n_contaminated > 0 THEN 'contaminated'
                   WHEN v.new_id IS NOT NULL THEN 'duplicate'
                   ELSE 'kept' END AS verdict,
              v.best_match
       FROM census cs
         LEFT JOIN cand_n c ON c.new_id = cs.doc_id
         LEFT JOIN ver_n v ON v.new_id = cs.doc_id
       ORDER BY cs.doc_id""") { (s, d) =>
    import graft.ops.Dedup
    val docsStatic = Tables.documents(s, d)
    val corpus = docsStatic.filter(col("doc_id") % 11 =!= 5)
    val (corpusBuckets, corpusShingles) = Dedup.lshBucketsAndShingles(
      corpus, "doc_id", "text", shingleWords = 3, bands = 4, rowsPerBand = 2)
    val idxTable = "graft_band_index_s30_" +
      graft.Scratch.nameTag()
    Dedup.writeBandIndex(s, corpusBuckets, idxTable)
    val benchSet = chunkHashes(docsStatic.filter(col("doc_id") % 13 === 7))
      .select(col("chunk_hash").as("bh")).distinct()
    val seenDir = graft.Scratch.dir("graft_s30_seen")
    val outDir = graft.Scratch.dir("graft_s30_sink")
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val q = s.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(d)
      .filter(col("doc_id") % 11 === 5)
      .writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val out = curationBatch(s, batch.toDF(), idxTable, benchSet,
          corpusShingles, seenDir)
        // descend AQE nodes AND cached relations: the benchmark join
        // executes inside the census cache's build, so its broadcast
        // lives in the InMemoryRelation's cachedPlan, not out's own tree
        def collectB(p: org.apache.spark.sql.execution.SparkPlan): Seq[Seq[String]] =
          p match {
            case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
              collectB(a.executedPlan)
            case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
              collectB(qs.plan)
            case c: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
              collectB(c.relation.cacheBuilder.cachedPlan)
            case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec =>
              b.output.map(_.name) +: b.children.flatMap(collectB)
            case other => other.children.flatMap(collectB)
          }
        s30ProbeBroadcasts = s30ProbeBroadcasts ++ collectB(
          org.apache.spark.sql.classic.ClassicConversions.castToImpl(out)
            .queryExecution.executedPlan)
        out.write.mode("append").parquet(outDir)
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.read.parquet(outDir).orderBy("doc_id")
  }

  /** The streaming form of p02 — the stores are MAINTAINED by the
    * stream. s30 admits arrivals against a STATIC corpus index (two
    * micro-batches of near-identical new docs both pass, because neither
    * is indexed); s31 runs [[graft.ops.Incremental.admitBatch]] as the
    * foreachBatch body, so every admitted doc's hash, band keys, and
    * shingle set land in the external stores before the next micro-batch
    * probes them — new-vs-new duplicates across batches are caught, and
    * after the stream drains the stores are set-equal to a from-scratch
    * rebuild on (corpus ∪ admitted), the same invariant IncrementalSpec
    * proves for the batch pipeline (the spec re-proves it on THIS
    * query's run).
    *
    * Arrivals reach the stream as two waves (doc_id % 2) of one file
    * each, each drained by its own AvailableNow run over a shared
    * checkpoint — deterministic micro-batch boundaries, so the DuckDB
    * oracle replays the exact two-batch sequence with the shared
    * chained-CTE generator ([[graft.ops.Incremental.replayOracle]]). */
  private val s31 = Q("s31_stream_incremental_curation",
    graft.ops.Incremental.replayOracle("batch", 2, k => s"doc_id % 2 = $k")) { (s, d) =>
    import graft.ops.Incremental
    val docs = Incremental.plantedDocs(s, d)
    val corpus = docs.filter(col("doc_id") % 11 =!= 5)
    val (idxTable, exDir, shDir) = Incremental.initStores(s, corpus, "s31")
    val arrivals = docs.filter(col("doc_id") % 11 === 5)
    val watched = graft.Scratch.dir("graft_s31_watched")
    val outDir = graft.Scratch.dir("graft_s31_out")
    val ckpt = graft.Scratch.dir("graft_s31_ckpt")
    s31LastStores = (idxTable, exDir, shDir)
    val s31NonEmpty = new java.util.concurrent.atomic.AtomicLong(0L)
    (0 to 1).foreach { b =>
      // wave b arrives as ONE new file; the shared checkpoint makes the
      // second run process only it — deterministic batch membership
      val tmp = graft.Scratch.dir(s"graft_s31_wave$b")
      arrivals.filter(col("doc_id") % 2 === lit(b.toLong))
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        new java.io.File(watched, s"arrival$b.parquet").toPath)
      val q = s.readStream
        .schema(StructType(Seq(StructField("doc_id", LongType),
          StructField("t", StringType))))
        .parquet(watched)
        .writeStream
        .outputMode(OutputMode.Append())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          // contract: one new file → ONE non-empty micro-batch per wave.
          // Keyed on the count of NON-EMPTY batches seen, NOT the raw
          // micro-batch id: Spark may run an intervening no-data batch
          // (consuming an id) without violating the contract, so
          // equating the wave counter with batchId would fail spuriously
          // on the next real batch. Two non-empty batches inside one
          // wave (e.g. a session maxFilesPerTrigger conf splitting the
          // file) still fail loudly instead of writing two census rows
          // under one key.
          if (!batch.isEmpty) {
            require(s31NonEmpty.getAndIncrement() == b.toLong,
              s"s31 wave $b saw a second non-empty micro-batch ($batchId): " +
                "one-file-one-batch broken")
            val (row, _) = Incremental.admitBatch(s, batch.toDF(),
              "batch", b.toLong, idxTable, exDir, shDir)
            row.write.mode("append").parquet(outDir)
          }
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    s.read.parquet(outDir).orderBy("batch")
  }

  /** Store handles of the most recent s31 run, for the maintained ≡
    * rebuilt spec (test-only introspection, same pattern as
    * [[s30ProbeBroadcasts]]). */
  @volatile private[graft] var s31LastStores: (String, String, String) = _

  /** s32 = d56 × s31: tombstone-aware streaming admission. s31's body
    * honors takedowns only if someone rebuilds its stores; here the
    * foreachBatch body CONSUMES a tombstone store on every micro-batch,
    * so a takedown landing between batches is honored by the very next
    * admission — the production compliance path. Batch 0 admits against
    * an empty tombstone set; the takedown (the d56 set, verbatim) lands
    * between the two waves; batch 1's probes see only live hash claims
    * and live near-dup partners, so arrivals whose only duplicate
    * partner was removed are ADMITTED (re-admission), while a twin
    * dropped in batch 0 — before the takedown — stays dropped (no
    * resurrection, the d56 semantics). The maintained stores are never
    * rewritten by the takedown itself: dead rows stay until d57
    * compaction, exactly as in the batch pipeline.
    *
    * Scale shape: the tombstone store is frontier-tiny (removals are
    * rare) and broadcasts into both gates; everything else is s31's
    * per-batch cost. Oracle: the chained-CTE replay with the takedown
    * applied from batch 1 on ([[graft.ops.Incremental.replayOracleTomb]]). */
  private val s32 = Q("s32_stream_takedown_admission",
    graft.ops.Incremental.replayOracleTomb("batch", 2,
      k => s"doc_id % 2 = $k", tombFrom = 1)) { (s, d) =>
    import graft.ops.Incremental
    val docs = Incremental.plantedDocs(s, d)
    val corpus = docs.filter(col("doc_id") % 11 =!= 5)
    val (idxTable, exDir, shDir) = Incremental.initOwnedStores(s, corpus, "s32")
    val arrivals = docs.filter(col("doc_id") % 11 === 5)
    val watched = graft.Scratch.dir("graft_s32_watched")
    val outDir = graft.Scratch.dir("graft_s32_out")
    val ckpt = graft.Scratch.dir("graft_s32_ckpt")
    val tombDir = graft.Scratch.dir("graft_s32_tomb")
    // the stream starts against an EMPTY tombstone store; the body
    // re-reads it every micro-batch
    corpus.select(col("doc_id")).limit(0)
      .write.mode("overwrite").parquet(tombDir)
    s32LastStores = (idxTable, exDir, shDir)
    val s32NonEmpty = new java.util.concurrent.atomic.AtomicLong(0L)
    (0 to 1).foreach { b =>
      val tmp = graft.Scratch.dir(s"graft_s32_wave$b")
      arrivals.filter(col("doc_id") % 2 === lit(b.toLong))
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        new java.io.File(watched, s"arrival$b.parquet").toPath)
      val q = s.readStream
        .schema(StructType(Seq(StructField("doc_id", LongType),
          StructField("t", StringType))))
        .parquet(watched)
        .writeStream
        .outputMode(OutputMode.Append())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          if (!batch.isEmpty) {
            // non-empty-batch counter, not the raw id (s31's rationale)
            require(s32NonEmpty.getAndIncrement() == b.toLong,
              s"s32 wave $b saw a second non-empty micro-batch ($batchId): " +
                "one-file-one-batch broken")
            // the CURRENT tombstone set, read fresh each batch — this is
            // the contract under test: state written between batches
            // must bind the next admission
            val tomb = s.read.schema("doc_id LONG").parquet(tombDir)
            val (row, _) = Incremental.admitBatch(s, batch.toDF(),
              "batch", b.toLong, idxTable, exDir, shDir,
              owned = true, tomb = Some(tomb))
            row.write.mode("append").parquet(outDir)
          }
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      if (b == 0) {
        // the takedown lands BETWEEN micro-batches
        corpus.filter(Incremental.removedPred).select("doc_id")
          .write.mode("overwrite").parquet(tombDir)
      }
    }
    s.read.parquet(outDir).orderBy("batch")
  }

  /** Store handles of the most recent s32 run (test-only introspection). */
  @volatile private[graft] var s32LastStores: (String, String, String) = _

  /** s33 = s32 × d57/d58: COMPACTION UNDER A LIVE STREAM. s32 honors a
    * takedown with per-batch tombstone filtering, but its store handles
    * bind at stream start — a generation swap would strand it on dead
    * handles. Here the foreachBatch body RESOLVES the store catalog
    * every micro-batch, so the maintenance window between waves can run
    * the whole d57/d58 lifecycle — takedown, offline compaction into
    * generation 2 (which CARRIES the wave-0 admissions: tombstones only
    * name corpus docs), atomic publish, tombstone clear (the compaction
    * consumed them) — and the stream just keeps going: wave 1 probes
    * the compacted generation unfiltered and STILL sees wave 0's
    * admitted docs (cross-batch dedup survives the swap, the assertion
    * that makes mid-stream compaction safe to claim).
    *
    * Oracle: the SAME replayOracleTomb as s32 — tombstone-filtered
    * probing of the old generation and unfiltered probing of the
    * compacted one are REQUIRED to admit identically (the d57
    * invariant), so the two mechanisms share one oracle; the engines
    * diverging under the swap is exactly what the hash would catch. */
  private val s33 = Q("s33_stream_compacting_admission",
    graft.ops.Incremental.replayOracleTomb("batch", 2,
      k => s"doc_id % 2 = $k", tombFrom = 1)) { (s, d) =>
    import graft.ops.Incremental
    val docs = Incremental.plantedDocs(s, d)
    val corpus = docs.filter(col("doc_id") % 11 =!= 5)
    val (idx1, ex1, sh1) = Incremental.initOwnedStores(s, corpus, "s33")
    val cat = graft.Scratch.dir("graft_s33_cat") + "/stores.catalog"
    Incremental.publishStoreCatalog(cat, idx1, ex1, sh1)
    val arrivals = docs.filter(col("doc_id") % 11 === 5)
    val watched = graft.Scratch.dir("graft_s33_watched")
    val outDir = graft.Scratch.dir("graft_s33_out")
    val ckpt = graft.Scratch.dir("graft_s33_ckpt")
    val tombDir = graft.Scratch.dir("graft_s33_tomb")
    corpus.select(col("doc_id")).limit(0)
      .write.mode("overwrite").parquet(tombDir)
    s33Catalog = cat
    val s33NonEmpty = new java.util.concurrent.atomic.AtomicLong(0L)
    (0 to 1).foreach { b =>
      val tmp = graft.Scratch.dir(s"graft_s33_wave$b")
      arrivals.filter(col("doc_id") % 2 === lit(b.toLong))
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        new java.io.File(watched, s"arrival$b.parquet").toPath)
      val q = s.readStream
        .schema(StructType(Seq(StructField("doc_id", LongType),
          StructField("t", StringType))))
        .parquet(watched)
        .writeStream
        .outputMode(OutputMode.Append())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          if (!batch.isEmpty) {
            // non-empty-batch counter, not the raw id (s31's rationale)
            require(s33NonEmpty.getAndIncrement() == b.toLong,
              s"s33 wave $b saw a second non-empty micro-batch ($batchId): " +
                "one-file-one-batch broken")
            // the CURRENT generation and the CURRENT tombstone set,
            // both re-read each batch — this is the contract under
            // test: maintenance between batches binds the next one
            val (idx, ex, sh) = Incremental.resolveStoreCatalog(cat)
            val tomb = s.read.schema("doc_id LONG").parquet(tombDir)
            val (row, _) = Incremental.admitBatch(s, batch.toDF(),
              "batch", b.toLong, idx, ex, sh,
              owned = true, tomb = Some(tomb))
            row.write.mode("append").parquet(outDir)
          }
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      if (b == 0) {
        // the maintenance window between micro-batches: takedown lands,
        // compaction rewrites the CURRENT generation (wave-0 admissions
        // included) minus the tombstoned corpus docs, one atomic publish
        // swaps, and the consumed tombstones are cleared
        val removed = corpus.filter(Incremental.removedPred).select("doc_id")
        removed.write.mode("overwrite").parquet(tombDir)
        val (i1, e1, h1) = Incremental.resolveStoreCatalog(cat)
        val (i2, e2, h2) = Incremental.compactStores(
          s, i1, e1, h1, s.read.schema("doc_id LONG").parquet(tombDir), "s33c")
        Incremental.publishStoreCatalog(cat, i2, e2, h2)
        corpus.select(col("doc_id")).limit(0)
          .write.mode("overwrite").parquet(tombDir)
      }
    }
    s.read.parquet(outDir).orderBy("batch")
  }

  /** Catalog path of the most recent s33 run (test-only introspection). */
  @volatile private[graft] var s33Catalog: String = _

  /** s34 = s33 on the VECTOR surface: streaming ANN ingest against the
    * MAINTAINED IVF index behind the d58 catalog. s15 probes a static
    * index; here every micro-batch (a) RESOLVES the current index
    * generation through the catalog, (b) anti-joins the CURRENT
    * tombstone set out of the index before ranking (d59's
    * post_tombstone discipline), and (c) APPENDS its own vectors to the
    * index (d60's batch-sized maintenance write), so later arrivals can
    * retrieve earlier ones. The maintenance window between the two
    * waves runs the full vector-takedown lifecycle mid-stream: the
    * tombstone set lands, compaction rewrites the CURRENT generation —
    * carrying wave-0's appended vectors, since tombstones only name
    * corpus vectors — one atomic publish swaps, and the consumed
    * tombstones clear. Wave 1 therefore probes generation 2 unfiltered
    * and still retrieves wave-0 vectors (measured non-vacuous at every
    * verify SF: wave-0 cids appear in wave-1 top-3s), while removed
    * corpus vectors are gone from every result (also non-vacuous:
    * tombstoned cids sat in the pre-takedown top-3s).
    *
    * Oracle: wave 0's ranking over the FULL corpus index; wave 1's over
    * (corpus − tombstones) ∪ wave-0 arrivals — computed directly, so a
    * swap that drops an append, resurrects a tombstone, or leaves the
    * stream on a stale generation handle surfaces as a ranking
    * mismatch.
    *
    * Retry semantics: the INDEX append is retry-safe (probeIvfTopK's
    * candidate distinct absorbs re-appended rows, compaction collapses
    * them — drilled in RoundElevenSpec); the RESULT sink here is a plain
    * parquet append, i.e. foreachBatch's at-least-once — a production
    * deployment routes results through s29's batchId-addressed
    * idempotent upsert for exactly-once, orthogonally to the index
    * maintenance under test. */
  private val s34 = Q(
    "s34_stream_ann_maintained_index",
    """WITH e AS (
         SELECT vec_id,
                list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
         FROM embeddings),
       n AS (SELECT vec_id, v, CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS n2 FROM e),
       cents AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < 8),
       scored AS (
         SELECT n.vec_id, n.v, n.n2, c.cent_id,
                row_number() OVER (PARTITION BY n.vec_id
                  ORDER BY CAST(list_sum(list_transform(generate_series(1, 64), i -> n.v[i] * c.cv[i])) AS BIGINT) DESC,
                           c.cent_id) AS rn
         FROM n, cents c),
       assign AS MATERIALIZED (
         SELECT vec_id, v, n2, cent_id AS cell FROM scored WHERE rn = 1),
       tombv AS (SELECT vec_id FROM e WHERE vec_id % 10 <> 5 AND vec_id % 7 = 3),
       idx0 AS (SELECT * FROM assign WHERE vec_id % 10 <> 5),
       idx1 AS (SELECT * FROM assign
                WHERE (vec_id % 10 <> 5 AND vec_id NOT IN (SELECT vec_id FROM tombv))
                   OR vec_id % 20 = 5),
       w0 AS (
         SELECT CAST(0 AS BIGINT) AS wave, q.vec_id AS qid, q.cell, c.vec_id AS cid,
                CAST(list_sum(list_transform(generate_series(1, 64), i -> q.v[i] * c.v[i])) AS BIGINT)
                  / (sqrt(q.n2) * sqrt(c.n2)) AS cos
         FROM assign q JOIN idx0 c ON q.cell = c.cell AND c.vec_id <> q.vec_id
         WHERE q.vec_id % 20 = 5),
       w1 AS (
         SELECT CAST(1 AS BIGINT) AS wave, q.vec_id AS qid, q.cell, c.vec_id AS cid,
                CAST(list_sum(list_transform(generate_series(1, 64), i -> q.v[i] * c.v[i])) AS BIGINT)
                  / (sqrt(q.n2) * sqrt(c.n2)) AS cos
         FROM assign q JOIN idx1 c ON q.cell = c.cell AND c.vec_id <> q.vec_id
         WHERE q.vec_id % 20 = 15),
       ranked AS (
         SELECT wave, qid, cell, cid, cos,
                row_number() OVER (PARTITION BY wave, qid ORDER BY cos DESC, cid) AS rank
         FROM (SELECT * FROM w0 UNION ALL SELECT * FROM w1))
       SELECT wave, qid, cell, cid, rank, round(cos, 6) AS cosine
       FROM ranked WHERE rank <= 3 ORDER BY wave, qid, rank""") { (s, d) =>
    import graft.ops.{Dedup, Incremental, Similarity}
    import graft.ops.Similarity.{norm2Q, quantize}
    graft.functions.LongDot.register(s)
    graft.plans.TopKPerGroup.install(s)
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), quantize(col("embedding")).as("v"))
      .withColumn("n2", norm2Q(col("v")))
    // centroid anchors are index STRUCTURE, fixed at build time; arriving
    // batches are assigned against the same anchors (d60's contract)
    val cents = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"))
    val assign = Dedup.reuse(Similarity.ivfAssignAgainst(e, cents))
    val idxGen1 = Similarity.writeIvfIndex(
      s, assign.filter(col("vec_id") % 10 =!= 5), "ivf_s34")
    val cat = graft.Scratch.dir("graft_s34_cat") + "/index.catalog"
    Incremental.publishCatalog(cat, Seq(idxGen1))
    val tombDir = graft.Scratch.dir("graft_s34_tomb")
    e.select(col("vec_id")).limit(0).write.mode("overwrite").parquet(tombDir)
    val watched = graft.Scratch.dir("graft_s34_watched")
    val outDir = graft.Scratch.dir("graft_s34_out")
    val ckpt = graft.Scratch.dir("graft_s34_ckpt")
    s34Catalog = cat
    val s34NonEmpty = new java.util.concurrent.atomic.AtomicLong(0L)
    (0 to 1).foreach { b =>
      val tmp = graft.Scratch.dir(s"graft_s34_wave$b")
      Tables.embeddings(s, d).filter(col("vec_id") % 20 === lit(5L + 10L * b))
        .select(col("vec_id"), col("embedding"))
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        new java.io.File(watched, s"arrival$b.parquet").toPath)
      val q = s.readStream
        .schema(StructType(Seq(StructField("vec_id", LongType),
          StructField("embedding", ArrayType(FloatType)))))
        .parquet(watched)
        .writeStream
        .outputMode(OutputMode.Append())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          if (!batch.isEmpty) {
            // non-empty-batch counter, not the raw id (s31's rationale)
            require(s34NonEmpty.getAndIncrement() == b.toLong,
              s"s34 wave $b saw a second non-empty micro-batch ($batchId): " +
                "one-file-one-batch broken")
            // the CURRENT generation and the CURRENT tombstone set, both
            // re-resolved each batch — the contract under test
            val idxTable = Incremental.resolveCatalog(cat, expect = 1).head
            val tomb = s.read.schema("vec_id LONG").parquet(tombDir)
            val bAssign = Similarity.ivfAssignAgainst(
              batch.toDF()
                .select(col("vec_id"), quantize(col("embedding")).as("v"))
                .withColumn("n2", norm2Q(col("v"))),
              cents).localCheckpoint(true)
            val liveIdx = s.table(idxTable)
              .join(broadcast(tomb.select(col("vec_id").as("cid"))),
                Seq("cid"), "left_anti")
            Similarity.probeIvfTopK(liveIdx,
                bAssign.select(col("vec_id").as("qid"), col("v").as("qv"),
                  col("n2").as("qn2"), col("cell").as("qcell")), k = 3)
              .select(lit(b.toLong).as("wave"), col("qid"), col("cell"),
                col("cid"), col("rank"), col("cosine"))
              .write.mode("append").parquet(outDir)
            // maintained-index ingest: this batch's vectors become
            // retrievable by every later arrival (probe-then-append, so
            // a vector never ranks against itself within its own batch)
            Similarity.appendIvfIndex(s, bAssign, idxTable)
          }
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      if (b == 0) {
        // maintenance window: takedown lands, compaction rewrites the
        // CURRENT generation (wave-0 appends included) minus tombstoned
        // corpus vectors, one atomic publish swaps, tombstones clear
        e.filter(col("vec_id") % 10 =!= 5 && col("vec_id") % 7 === 3)
          .select("vec_id").write.mode("overwrite").parquet(tombDir)
        val cur = Incremental.resolveCatalog(cat, expect = 1).head
        val idxGen2 = Similarity.compactIvfIndex(s, cur,
          s.read.schema("vec_id LONG").parquet(tombDir), "ivf_s34c")
        Incremental.publishCatalog(cat, Seq(idxGen2))
        e.select(col("vec_id")).limit(0).write.mode("overwrite").parquet(tombDir)
      }
    }
    s.read.parquet(outDir).orderBy("wave", "qid", "rank")
  }

  /** Catalog path of the most recent s34 run (test-only introspection). */
  @volatile private[graft] var s34Catalog: String = _

  /** The two-wave media-ingest replay shared by the s35 and s36 oracles:
    * wave 0 against the corpus stores, wave 1 against (corpus −
    * tombstones) ∪ wave-0 admissions, every bucket cap applied at the
    * engine's SCOPE (corpus bands capped at build over the corpus,
    * arrival bands per wave) so a near-cap bucket can never
    * desynchronize the engines. */
  private def mediaIngestOracleCtes: String =
    """corp AS (SELECT doc_id AS id, text FROM documents),
       arr AS (
         SELECT doc_id + 500000 AS id, CAST(doc_id % 2 AS BIGINT) AS wave,
                CASE WHEN doc_id % 5 = 0 THEN text || ' reup'
                     WHEN doc_id % 5 = 1 THEN substring(text, 1, greatest(length(text) - 24, 1))
                     ELSE reverse(text) END AS t
         FROM documents WHERE doc_id % 5 <= 2
         UNION ALL
         SELECT doc_id + 1000000 AS id, CAST(1 AS BIGINT) AS wave,
                reverse(text) || ' reup' AS t
         FROM documents WHERE doc_id % 10 = 2),
       pa AS (SELECT id, hex(encode(text)) AS hx, octet_length(encode(text)) AS nb FROM corp),
       pb AS (SELECT id, wave, hex(encode(t)) AS hx, octet_length(encode(t)) AS nb FROM arr),
       ga AS (
         SELECT id, list_transform(generate_series(0, 64), p ->
                  CASE WHEN nb > p*8
                       THEN 16*(strpos('0123456789ABCDEF', substring(hx, p*16+1, 1))-1)
                          + (strpos('0123456789ABCDEF', substring(hx, p*16+2, 1))-1)
                       ELSE 0 END) AS px FROM pa),
       gb AS (
         SELECT id, wave, list_transform(generate_series(0, 64), p ->
                  CASE WHEN nb > p*8
                       THEN 16*(strpos('0123456789ABCDEF', substring(hx, p*16+1, 1))-1)
                          + (strpos('0123456789ABCDEF', substring(hx, p*16+2, 1))-1)
                       ELSE 0 END) AS px FROM pb),
       sa AS MATERIALIZED (
         SELECT id, array_to_string(list_transform(generate_series(1, 64), i ->
                  CASE WHEN px[i] > px[i+1] THEN '1' ELSE '0' END), '') AS sig FROM ga),
       sb AS MATERIALIZED (
         SELECT id, wave, array_to_string(list_transform(generate_series(1, 64), i ->
                  CASE WHEN px[i] > px[i+1] THEN '1' ELSE '0' END), '') AS sig FROM gb),
       ba AS MATERIALIZED (
         SELECT id, b, substring(sig, b*16 + 1, 16) AS bits
         FROM sa, (SELECT unnest(generate_series(0, 3)) AS b) bs
         WHERE substring(sig, b*16 + 1, 16) <> '0000000000000000'
         QUALIFY count(*) OVER (PARTITION BY b, substring(sig, b*16 + 1, 16)) <= 1000),
       bb AS MATERIALIZED (
         SELECT id, wave, b, substring(sig, b*16 + 1, 16) AS bits
         FROM sb, (SELECT unnest(generate_series(0, 3)) AS b) bs
         WHERE substring(sig, b*16 + 1, 16) <> '0000000000000000'
         QUALIFY count(*) OVER (PARTITION BY wave, b, substring(sig, b*16 + 1, 16)) <= 1000),
       dup0 AS MATERIALIZED (
         SELECT DISTINCT v.id FROM bb v JOIN ba c ON c.b = v.b AND c.bits = v.bits
           JOIN sb ON sb.id = v.id JOIN sa ON sa.id = c.id
         WHERE v.wave = 0
           AND CAST(list_sum(list_transform(generate_series(1, 64), i ->
                 CASE WHEN substring(sb.sig, i, 1) = substring(sa.sig, i, 1) THEN 0 ELSE 1 END)) AS BIGINT) <= 4),
       adm0 AS MATERIALIZED (
         SELECT id FROM arr WHERE wave = 0 AND id NOT IN (SELECT id FROM dup0)),
       tomb AS (SELECT id FROM corp WHERE id % 9 = 4),
       s1sig AS MATERIALIZED (
         SELECT id, sig FROM sa
         UNION ALL SELECT sb.id, sb.sig FROM sb JOIN adm0 ON adm0.id = sb.id),
       s1band AS MATERIALIZED (
         SELECT id, b, bits FROM ba
         UNION ALL SELECT bb.id, bb.b, bb.bits FROM bb JOIN adm0 ON adm0.id = bb.id),
       cand1 AS MATERIALIZED (
         SELECT DISTINCT v.id AS id_a, c.id AS id_b,
                CAST(list_sum(list_transform(generate_series(1, 64), i ->
                  CASE WHEN substring(sb.sig, i, 1) = substring(s1sig.sig, i, 1) THEN 0 ELSE 1 END)) AS BIGINT) AS hamming
         FROM bb v JOIN s1band c ON c.b = v.b AND c.bits = v.bits
           JOIN sb ON sb.id = v.id JOIN s1sig ON s1sig.id = c.id
         WHERE v.wave = 1),
       dup1 AS MATERIALIZED (
         SELECT DISTINCT id_a AS id FROM cand1
         WHERE hamming <= 4 AND id_b NOT IN (SELECT id FROM tomb)),
       dup1nt AS MATERIALIZED (
         SELECT DISTINCT id_a AS id FROM cand1 WHERE hamming <= 4),
       adm1 AS MATERIALIZED (
         SELECT id FROM arr WHERE wave = 1 AND id NOT IN (SELECT id FROM dup1))"""

  /** The census tail over [[mediaIngestOracleCtes]]. `withReadmit` adds
    * the n_readmitted column — meaningful only while the tombstones are
    * still a FILTER (s35); after s36's mid-stream compaction consumed
    * them the takedown effect is baked into the store itself and there
    * is no "without the filter" counterfactual to count. */
  private def mediaIngestOracle(withReadmit: Boolean): String = {
    val cols = "wave, n_arrived, n_dropped, n_admitted, n_twins_dropped, " +
      (if (withReadmit) "n_readmitted, " else "") + "sum_admitted_ids"
    val r0 = if (withReadmit) "CAST(0 AS BIGINT) AS n_readmitted," else ""
    val r1 = if (withReadmit)
      "(SELECT count(*) FROM adm1 WHERE id IN (SELECT id FROM dup1nt))," else ""
    s"""WITH $mediaIngestOracleCtes
       SELECT $cols
       FROM (
         SELECT CAST(0 AS BIGINT) AS wave,
                (SELECT count(*) FROM arr WHERE wave = 0) AS n_arrived,
                (SELECT count(*) FROM dup0) AS n_dropped,
                (SELECT count(*) FROM adm0) AS n_admitted,
                CAST(0 AS BIGINT) AS n_twins_dropped,
                $r0
                (SELECT CAST(coalesce(sum(id), 0) AS BIGINT) FROM adm0) AS sum_admitted_ids
         UNION ALL
         SELECT CAST(1 AS BIGINT),
                (SELECT count(*) FROM arr WHERE wave = 1),
                (SELECT count(*) FROM dup1),
                (SELECT count(*) FROM adm1),
                (SELECT count(*) FROM dup1 WHERE id >= 1000000),
                $r1
                (SELECT CAST(coalesce(sum(id), 0) AS BIGINT) FROM adm1))
       ORDER BY wave"""
  }

  /** s35 — streaming MEDIA-fingerprint ingest against the maintained m11
    * stores (m11 × s32, closing the modality × streaming matrix): each
    * arriving media batch probes the stored dHash band index + packed-
    * signature store for per-arrival duplicate verdicts, then APPENDS
    * its ADMITTED signatures back — so a wave-1 re-upload of a wave-0
    * admitted item is caught cross-batch (planted: twins of wave-0
    * scramble variants, 43/50 dropped at sf0.001 — non-vacuous), while
    * a media takedown landing between the waves frees the next batch's
    * re-uploads of the removed item (per-batch tombstone re-read, the
    * s32 contract; re-admissions measured non-vacuous at every verify
    * SF). Arrival ids are offset (+500000 originals, +1000000 twins) so
    * a corpus takedown can never collide with an admitted arrival's
    * claim. Census per wave: arrivals, drops, admissions, twin drops,
    * re-admissions (admitted-with-tombstones minus admitted-without,
    * both probes sharing one batch digest), admitted-id checksum.
    * Payloads never shuffle (m11's store shapes; the signature pass
    * consumes them map-side per batch). */
  private val s35 = Q(
    "s35_stream_media_ingest",
    mediaIngestOracle(withReadmit = true)) { (s, d) =>
    import graft.ops.{Dedup, Multimodal}
    val docs = Tables.documents(s, d)
    val corpus = docs.select(col("doc_id").as("id"),
      encode(col("text"), "UTF-8").as("payload"))

    // store build: ONE signature pass feeds both stores (the m11 build)
    val cS = Dedup.reuse(Multimodal.sigs(corpus))
    val idxTable = "graft_band_index_s35_" +
      graft.Scratch.nameTag()
    val sigDir = graft.Scratch.dir("graft_s35_sigs")
    // both store writes read the one persisted signature pass — overlap
    Dedup.inParallel(
      () => Dedup.writeBandIndex(s, Multimodal.bands(cS)
        .select(col("b").as("band"), col("bits").as("band_key"), col("id")), idxTable),
      () => cS.select(col("id"), col("si")).write.mode("overwrite").parquet(sigDir))

    val variants = Multimodal.mediaVariants(docs)
      .select((col("id") + 500000L).as("id"), col("payload"), (col("id") % 2).as("wave"))
    val twins = docs.filter(col("doc_id") % 10 === 2)
      .select((col("doc_id") + 1000000L).as("id"),
        encode(concat(reverse(col("text")), lit(" reup")), "UTF-8").as("payload"),
        lit(1L).as("wave"))
    val arrivals = variants.unionByName(twins)

    val watched = graft.Scratch.dir("graft_s35_watched")
    val outDir = graft.Scratch.dir("graft_s35_out")
    val ckpt = graft.Scratch.dir("graft_s35_ckpt")
    val tombDir = graft.Scratch.dir("graft_s35_tomb")
    corpus.select(col("id")).limit(0).write.mode("overwrite").parquet(tombDir)
    val s35NonEmpty = new java.util.concurrent.atomic.AtomicLong(0L)
    (0 to 1).foreach { b =>
      val tmp = graft.Scratch.dir(s"graft_s35_wave$b")
      arrivals.filter(col("wave") === lit(b.toLong)).select("id", "payload")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        new java.io.File(watched, s"arrival$b.parquet").toPath)
      val q = s.readStream
        .schema(StructType(Seq(StructField("id", LongType),
          StructField("payload", BinaryType))))
        .parquet(watched)
        .writeStream
        .outputMode(OutputMode.Append())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          if (!batch.isEmpty) {
            // non-empty-batch counter, not the raw id (s31's rationale)
            require(s35NonEmpty.getAndIncrement() == b.toLong,
              s"s35 wave $b saw a second non-empty micro-batch ($batchId): " +
                "one-file-one-batch broken")
            val tomb = s.read.schema("id LONG").parquet(tombDir)
            // ONE batch digest serves both probes and the store appends
            val aS = Dedup.reuse(Multimodal.sigs(batch.toDF()))
            val aBands = Dedup.reuse(Multimodal.bands(aS))
            val cand = Dedup.reuse(Dedup.probeBandIndex(s, idxTable, aBands
              .select(col("b").as("band"), col("bits").as("band_key"), col("id"))))
            val arrIds = aS.select("id")
            val stored = s.read.schema("id LONG, si ARRAY<BIGINT>").parquet(sigDir)
            // admitted is the pre-append materialization boundary: the
            // census and the appends below all consume it, and the sig
            // store must not be re-read after its own append (s30's
            // cache-invalidation lesson)
            val adm = Dedup.reuse(
              Multimodal.mediaAdmissions(arrIds, aS, cand, stored, Some(tomb)))
            val admNoTomb = Dedup.reuse(
              Multimodal.mediaAdmissions(arrIds, aS, cand, stored, None))
            // census row written BEFORE the appends (its lazy inputs
            // still read the pre-append stores)
            adm.agg(count(lit(1)).as("n_admitted"),
                coalesce(sum(col("id")), lit(0L)).as("sum_admitted_ids"))
              .crossJoin(broadcast(arrIds.agg(count(lit(1)).as("n_arrived"))))
              .crossJoin(broadcast(arrIds.join(adm, Seq("id"), "left_anti")
                .agg(count(when(col("id") >= 1000000L, 1)).as("n_twins_dropped"))))
              .crossJoin(broadcast(adm.join(admNoTomb, Seq("id"), "left_anti")
                .agg(count(lit(1)).as("n_readmitted"))))
              .select(lit(b.toLong).as("wave"), col("n_arrived"),
                (col("n_arrived") - col("n_admitted")).as("n_dropped"),
                col("n_admitted"), col("n_twins_dropped"), col("n_readmitted"),
                col("sum_admitted_ids"))
              .write.mode("append").parquet(outDir)
            // maintain the stores with the ADMITTED rows only — the
            // cross-batch claim: a wave-1 twin of an admitted wave-0
            // scramble must be caught by these appended rows
            Dedup.appendBandIndex(s,
              aBands.join(adm, Seq("id"))
                .select(col("b").as("band"), col("bits").as("band_key"), col("id")),
              idxTable)
            aS.select(col("id"), col("si")).join(adm, Seq("id"))
              .write.mode("append").parquet(sigDir)
            aS.unpersist(); aBands.unpersist(); cand.unpersist()
            adm.unpersist(); admNoTomb.unpersist(): Unit
          }
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      if (b == 0) {
        // the media takedown lands BETWEEN micro-batches (the s32 shape;
        // reclamation of the dead store rows is m11 compaction's job)
        corpus.filter(col("id") % 9 === 4).select("id")
          .write.mode("overwrite").parquet(tombDir)
      }
    }
    s.read.parquet(outDir).orderBy("wave")
  }

  /** s36 — media compaction UNDER the live ingest stream (s35 × s33):
    * the media stores run behind a two-line d58 catalog that every
    * micro-batch RESOLVES, so the maintenance window between waves can
    * run the full lifecycle — takedown → compaction of BOTH stores into
    * a new generation (band index via the shared compactBandIndex,
    * signature store anti-joined; wave-0's in-stream admissions are
    * CARRIED, since tombstones only name corpus ids) → atomic publish →
    * tombstone clear — while the stream keeps going. Wave 1 probes
    * generation 2 UNFILTERED and must admit exactly what s35's
    * tombstone-filtered probe admits (the d57 invariant on the media
    * surface: both queries share one oracle body, so any divergence
    * under the swap fails the hash), including still catching the
    * planted twins of wave-0 admissions through the swap. The census
    * drops s35's n_readmitted column: after compaction consumed the
    * tombstones the takedown effect is baked into the store — there is
    * no "without the filter" counterfactual left to count. */
  private val s36 = Q(
    "s36_stream_media_compacting_ingest",
    mediaIngestOracle(withReadmit = false)) { (s, d) =>
    import graft.ops.{Dedup, Incremental, Multimodal}
    val docs = Tables.documents(s, d)
    val corpus = docs.select(col("doc_id").as("id"),
      encode(col("text"), "UTF-8").as("payload"))

    val cS = Dedup.reuse(Multimodal.sigs(corpus))
    val idx1 = "graft_band_index_s36_" +
      graft.Scratch.nameTag()
    val sig1 = graft.Scratch.dir("graft_s36_sigs")
    // both store writes read the one persisted signature pass — overlap
    Dedup.inParallel(
      () => Dedup.writeBandIndex(s, Multimodal.bands(cS)
        .select(col("b").as("band"), col("bits").as("band_key"), col("id")), idx1),
      () => cS.select(col("id"), col("si")).write.mode("overwrite").parquet(sig1))
    val cat = graft.Scratch.dir("graft_s36_cat") + "/media.catalog"
    Incremental.publishCatalog(cat, Seq(idx1, sig1))

    val variants = Multimodal.mediaVariants(docs)
      .select((col("id") + 500000L).as("id"), col("payload"), (col("id") % 2).as("wave"))
    val twins = docs.filter(col("doc_id") % 10 === 2)
      .select((col("doc_id") + 1000000L).as("id"),
        encode(concat(reverse(col("text")), lit(" reup")), "UTF-8").as("payload"),
        lit(1L).as("wave"))
    val arrivals = variants.unionByName(twins)

    val watched = graft.Scratch.dir("graft_s36_watched")
    val outDir = graft.Scratch.dir("graft_s36_out")
    val ckpt = graft.Scratch.dir("graft_s36_ckpt")
    val tombDir = graft.Scratch.dir("graft_s36_tomb")
    corpus.select(col("id")).limit(0).write.mode("overwrite").parquet(tombDir)
    s36Catalog = cat
    val s36NonEmpty = new java.util.concurrent.atomic.AtomicLong(0L)
    (0 to 1).foreach { b =>
      val tmp = graft.Scratch.dir(s"graft_s36_wave$b")
      arrivals.filter(col("wave") === lit(b.toLong)).select("id", "payload")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        new java.io.File(watched, s"arrival$b.parquet").toPath)
      val q = s.readStream
        .schema(StructType(Seq(StructField("id", LongType),
          StructField("payload", BinaryType))))
        .parquet(watched)
        .writeStream
        .outputMode(OutputMode.Append())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          if (!batch.isEmpty) {
            // non-empty-batch counter, not the raw id (s31's rationale)
            require(s36NonEmpty.getAndIncrement() == b.toLong,
              s"s36 wave $b saw a second non-empty micro-batch ($batchId): " +
                "one-file-one-batch broken")
            // the CURRENT generation and the CURRENT tombstone set,
            // both re-resolved each batch — the contract under test
            val handles = Incremental.resolveCatalog(cat, expect = 2)
            val (idx, sigD) = (handles(0), handles(1))
            val tomb = s.read.schema("id LONG").parquet(tombDir)
            val aS = Dedup.reuse(Multimodal.sigs(batch.toDF()))
            val aBands = Dedup.reuse(Multimodal.bands(aS))
            val cand = Dedup.reuse(Dedup.probeBandIndex(s, idx, aBands
              .select(col("b").as("band"), col("bits").as("band_key"), col("id"))))
            val arrIds = aS.select("id")
            val stored = s.read.schema("id LONG, si ARRAY<BIGINT>").parquet(sigD)
            val adm = Dedup.reuse(
              Multimodal.mediaAdmissions(arrIds, aS, cand, stored, Some(tomb)))
            adm.agg(count(lit(1)).as("n_admitted"),
                coalesce(sum(col("id")), lit(0L)).as("sum_admitted_ids"))
              .crossJoin(broadcast(arrIds.agg(count(lit(1)).as("n_arrived"))))
              .crossJoin(broadcast(arrIds.join(adm, Seq("id"), "left_anti")
                .agg(count(when(col("id") >= 1000000L, 1)).as("n_twins_dropped"))))
              .select(lit(b.toLong).as("wave"), col("n_arrived"),
                (col("n_arrived") - col("n_admitted")).as("n_dropped"),
                col("n_admitted"), col("n_twins_dropped"),
                col("sum_admitted_ids"))
              .write.mode("append").parquet(outDir)
            Dedup.appendBandIndex(s,
              aBands.join(adm, Seq("id"))
                .select(col("b").as("band"), col("bits").as("band_key"), col("id")),
              idx)
            aS.select(col("id"), col("si")).join(adm, Seq("id"))
              .write.mode("append").parquet(sigD)
            aS.unpersist(); aBands.unpersist(); cand.unpersist()
            adm.unpersist(): Unit
          }
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      if (b == 0) {
        // maintenance window: takedown lands, BOTH stores compact into a
        // new generation (carrying wave-0's in-stream admissions), one
        // atomic publish swaps, the consumed tombstones clear
        corpus.filter(col("id") % 9 === 4).select("id")
          .write.mode("overwrite").parquet(tombDir)
        val cur = Incremental.resolveCatalog(cat, expect = 2)
        val tomb = s.read.schema("id LONG").parquet(tombDir)
        val sig2 = graft.Scratch.dir("graft_s36c_sigs")
        // two independent store rewrites — overlapped; the publish still
        // lands only after BOTH generations exist
        var idx2: String = null
        Dedup.inParallel(
          () => idx2 = Dedup.compactBandIndex(s, cur(0), tomb, "s36c"),
          // distinct collapses crash-retry residue (the m11 discipline)
          () => s.read.schema("id LONG, si ARRAY<BIGINT>").parquet(cur(1))
            .join(broadcast(tomb), Seq("id"), "left_anti")
            .distinct().write.mode("overwrite").parquet(sig2))
        Incremental.publishCatalog(cat, Seq(idx2, sig2))
        corpus.select(col("id")).limit(0).write.mode("overwrite").parquet(tombDir)
      }
    }
    s.read.parquet(outDir).orderBy("wave")
  }

  /** Catalog path of the most recent s36 run (test-only introspection). */
  @volatile private[graft] var s36Catalog: String = _

  /** s37 — DRIFT-GATED RE-TRAIN UNDER THE LIVE STREAM: d62's maintenance
    * action landing in s34's maintenance window, which makes the
    * assignment structure ITSELF generation state. s34's anchors are
    * frozen in the stream's closure — correct while they stand, but a
    * re-train swap changes the geometry every later arrival must be
    * assigned against, so here the catalog carries TWO handles (index
    * table, centroid store) and every micro-batch resolves BOTH.
    *
    * Wave 0 is a PLANTED skewed ingest (arrivals = 3×anchor-0 + own
    * vector: the ingest distribution collapsing into one region — all
    * land in one cell at ~950k-micro fit vs ~190k base, so d61's census
    * gates TRUE at every verify SF); it probes generation 1, appends,
    * and logs its ids to the ingest log (how maintenance knows which
    * stored entries are post-build — the production seam, not fixture
    * knowledge). The maintenance window then runs the d62 loop on the
    * STORED index: fit census against the current anchors split by the
    * ingest log, the pinned gate (≥5 appended members, |drift| ≥ 30000
    * micros — d62's constants, hardcoded in the oracle), one Lloyd round
    * over the stored population, re-assignment, and ONE atomic publish
    * of (gen-2 index, gen-2 centroids). Wave 1 resolves the catalog,
    * assigns against the RETRAINED anchors, and probes the re-assigned
    * index — which still carries wave-0's appends through the re-train
    * swap (the s34 invariant, now across a geometry change).
    *
    * The oracle replays both branches (d62's UNION-where-gate pattern):
    * wave-1 rankings under retrained anchors WHERE the gate fires,
    * under frozen anchors otherwise — the mid-stream re-train DECISION
    * and the post-re-train geometry are both hash-checked. */
  private val s37 = Q(
    "s37_stream_drift_retrain",
    """WITH e AS (
         SELECT vec_id,
                list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
         FROM embeddings),
       n AS (SELECT vec_id, v, CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS n2 FROM e),
       c0 AS (SELECT vec_id AS cent_id, v AS cv,
                     CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS cn2
              FROM e WHERE vec_id < 8),
       av AS (SELECT v AS a FROM e WHERE vec_id = 0),
       arr AS (
         SELECT n.vec_id, list_transform(generate_series(1, 64), i -> 3 * av.a[i] + n.v[i]) AS v
         FROM n, av WHERE n.vec_id % 20 = 5),
       arrn AS (SELECT vec_id, v, CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS n2 FROM arr),
       pop0 AS (SELECT vec_id, v, n2, 0 AS app FROM n WHERE vec_id % 10 <> 5
                UNION ALL SELECT vec_id, v, n2, 1 AS app FROM arrn),
       a0 AS MATERIALIZED (
         SELECT vec_id, v, n2, app, cell, cm FROM (
           SELECT p.vec_id, p.v, p.n2, p.app, c.cent_id AS cell,
                  CAST(round(1000000.0 * CAST(list_sum(list_transform(generate_series(1, 64), i -> p.v[i] * c.cv[i])) AS BIGINT)
                       / (sqrt(p.n2) * sqrt(c.cn2))) AS BIGINT) AS cm,
                  row_number() OVER (PARTITION BY p.vec_id
                    ORDER BY CAST(list_sum(list_transform(generate_series(1, 64), i -> p.v[i] * c.cv[i])) AS BIGINT) DESC,
                             c.cent_id) AS rn
           FROM pop0 p, c0 c) t WHERE rn = 1),
       w0 AS (
         SELECT CAST(0 AS BIGINT) AS wave, q.vec_id AS qid, q.cell, c.vec_id AS cid,
                CAST(list_sum(list_transform(generate_series(1, 64), i -> q.v[i] * c.v[i])) AS BIGINT)
                  / (sqrt(q.n2) * sqrt(c.n2)) AS cos
         FROM a0 q JOIN a0 c ON q.cell = c.cell AND c.app = 0 AND c.vec_id <> q.vec_id
         WHERE q.app = 1),
       cen AS (
         SELECT cell,
                count(*) FILTER (app = 0) AS n_base, count(*) FILTER (app = 1) AS n_app,
                CAST(coalesce(sum(cm) FILTER (app = 0), 0) AS BIGINT) AS s_base,
                CAST(coalesce(sum(cm) FILTER (app = 1), 0) AS BIGINT) AS s_app
         FROM a0 GROUP BY cell),
       gate AS MATERIALIZED (
         SELECT coalesce(max(CASE WHEN n_app >= 5 AND n_base > 0 AND
                  abs(round(s_base * 1.0 / n_base) - round(s_app * 1.0 / n_app)) >= 30000
                  THEN 1 ELSE 0 END), 0) = 1 AS acted
         FROM cen),
       u1 AS (
         SELECT cell, i, CAST(round(CAST(sum(v[i]) AS DOUBLE) / count(*)) AS BIGINT) AS m
         FROM a0 CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) ix
         GROUP BY cell, i),
       c1 AS (
         SELECT cell AS cent_id, list(m ORDER BY i) AS cv,
                CAST(list_sum(list_transform(list(m ORDER BY i), x -> x * x)) AS BIGINT) AS cn2
         FROM u1 GROUP BY cell),
       a1 AS MATERIALIZED (
         SELECT vec_id, v, n2, cell FROM (
           SELECT p.vec_id, p.v, p.n2, c.cent_id AS cell,
                  row_number() OVER (PARTITION BY p.vec_id
                    ORDER BY CAST(list_sum(list_transform(generate_series(1, 64), i -> p.v[i] * c.cv[i])) AS BIGINT) DESC,
                             c.cent_id) AS rn
           FROM a0 p, c1 c) t WHERE rn = 1),
       q1 AS (SELECT vec_id, v, n2 FROM n WHERE vec_id % 20 = 15),
       q1r AS (
         SELECT vec_id, v, n2, cell FROM (
           SELECT q.vec_id, q.v, q.n2, c.cent_id AS cell,
                  row_number() OVER (PARTITION BY q.vec_id
                    ORDER BY CAST(list_sum(list_transform(generate_series(1, 64), i -> q.v[i] * c.cv[i])) AS BIGINT) DESC,
                             c.cent_id) AS rn
           FROM q1 q, c1 c) t WHERE rn = 1),
       q1f AS (
         SELECT vec_id, v, n2, cell FROM (
           SELECT q.vec_id, q.v, q.n2, c.cent_id AS cell,
                  row_number() OVER (PARTITION BY q.vec_id
                    ORDER BY CAST(list_sum(list_transform(generate_series(1, 64), i -> q.v[i] * c.cv[i])) AS BIGINT) DESC,
                             c.cent_id) AS rn
           FROM q1 q, c0 c) t WHERE rn = 1),
       w1r AS (
         SELECT CAST(1 AS BIGINT) AS wave, q.vec_id AS qid, q.cell, c.vec_id AS cid,
                CAST(list_sum(list_transform(generate_series(1, 64), i -> q.v[i] * c.v[i])) AS BIGINT)
                  / (sqrt(q.n2) * sqrt(c.n2)) AS cos
         FROM q1r q JOIN a1 c ON q.cell = c.cell AND c.vec_id <> q.vec_id),
       w1f AS (
         SELECT CAST(1 AS BIGINT) AS wave, q.vec_id AS qid, q.cell, c.vec_id AS cid,
                CAST(list_sum(list_transform(generate_series(1, 64), i -> q.v[i] * c.v[i])) AS BIGINT)
                  / (sqrt(q.n2) * sqrt(c.n2)) AS cos
         FROM q1f q JOIN a0 c ON q.cell = c.cell AND c.vec_id <> q.vec_id),
       ranked AS (
         SELECT wave, qid, cell, cid, cos,
                row_number() OVER (PARTITION BY wave, qid ORDER BY cos DESC, cid) AS rank
         FROM (SELECT * FROM w0
               UNION ALL SELECT * FROM w1r WHERE (SELECT acted FROM gate)
               UNION ALL SELECT * FROM w1f WHERE NOT (SELECT acted FROM gate)))
       SELECT wave, qid, cell, cid, rank, round(cos, 6) AS cosine
       FROM ranked WHERE rank <= 3 ORDER BY wave, qid, rank""") { (s, d) =>
    import graft.ops.{Incremental, Similarity}
    import graft.ops.Similarity.{norm2Q, quantize}
    graft.functions.LongDot.register(s)
    graft.plans.TopKPerGroup.install(s)
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), quantize(col("embedding")).as("v"))
      .withColumn("n2", norm2Q(col("v")))
    val cents0 = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"), col("n2").as("cn2"))
    // generation 1: index over the base population + the anchors that
    // define its geometry — BOTH are published, both are generation state
    val idxGen1 = Similarity.writeIvfIndex(s,
      Similarity.ivfAssignAgainst(e.filter(col("vec_id") % 10 =!= 5),
        cents0.select(col("cent_id"), col("cv"))), "ivf_s37")
    val centsDir1 = graft.Scratch.dir("graft_s37_cents1")
    cents0.write.mode("overwrite").parquet(centsDir1)
    val cat = graft.Scratch.dir("graft_s37_cat") + "/index.catalog"
    Incremental.publishCatalog(cat, Seq(idxGen1, centsDir1))
    s37Catalog = cat
    // the ingest log: which index entries arrived post-build — the seam
    // maintenance reads (NOT fixture knowledge)
    val logDir = graft.Scratch.dir("graft_s37_log")
    e.select(col("vec_id")).limit(0).write.mode("overwrite").parquet(logDir)
    val watched = graft.Scratch.dir("graft_s37_watched")
    val outDir = graft.Scratch.dir("graft_s37_out")
    val ckpt = graft.Scratch.dir("graft_s37_ckpt")
    s37Acted = false
    val a0vec = e.filter(col("vec_id") === 0).select("v").head.getSeq[Long](0)
    val s37NonEmpty = new java.util.concurrent.atomic.AtomicLong(0L)
    (0 to 1).foreach { b =>
      val tmp = graft.Scratch.dir(s"graft_s37_wave$b")
      val waveDf =
        if (b == 0)
          // the planted skewed ingest: every arrival collapses toward
          // the anchor-0 region (3×anchor + own vector)
          e.filter(col("vec_id") % 20 === 5)
            .select(col("vec_id"),
              zip_with(typedLit(a0vec.toSeq), col("v"),
                (a, x) => lit(3L) * a + x).as("v"))
        else e.filter(col("vec_id") % 20 === 15).select(col("vec_id"), col("v"))
      waveDf.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        new java.io.File(watched, s"arrival$b.parquet").toPath)
      val q = s.readStream
        .schema(StructType(Seq(StructField("vec_id", LongType),
          StructField("v", ArrayType(LongType)))))
        .parquet(watched)
        .writeStream
        .outputMode(OutputMode.Append())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          if (!batch.isEmpty) {
            require(s37NonEmpty.getAndIncrement() == b.toLong,
              s"s37 wave $b saw a second non-empty micro-batch ($batchId): " +
                "one-file-one-batch broken")
            // BOTH generation handles re-resolved each batch: after a
            // re-train swap, arrivals must assign against the CURRENT
            // anchors, not the closure's
            val handles = Incremental.resolveCatalog(cat, expect = 2)
            val curCents = s.read.parquet(handles(1))
            val bAssign = Similarity.ivfAssignAgainst(
              batch.toDF().withColumn("n2", norm2Q(col("v"))),
              curCents.select(col("cent_id"), col("cv"))).localCheckpoint(true)
            Similarity.probeIvfTopK(s.table(handles(0)),
                bAssign.select(col("vec_id").as("qid"), col("v").as("qv"),
                  col("n2").as("qn2"), col("cell").as("qcell")), k = 3)
              .select(lit(b.toLong).as("wave"), col("qid"), col("cell"),
                col("cid"), col("rank"), col("cosine"))
              .write.mode("append").parquet(outDir)
            Similarity.appendIvfIndex(s, bAssign, handles(0))
            bAssign.select(col("vec_id")).write.mode("append").parquet(logDir)
          }
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      if (b == 0) {
        // maintenance window: the d62 loop on the STORED index. Census
        // against the current anchors, appended membership from the
        // ingest log; on a firing gate, one Lloyd round + re-assignment
        // + ONE atomic publish of (index, centroids) — the swap carries
        // wave-0's appends into the new geometry
        val handles = Incremental.resolveCatalog(cat, expect = 2)
        val curCents = s.read.parquet(handles(1))
        val pop = s.table(handles(0)).select(col("cid").as("vec_id"),
          col("cv2").as("v"), col("cn2").as("n2"))
        val a0 = Similarity.fitAssign(pop, curCents).localCheckpoint(true)
        val appIds = s.read.schema("vec_id LONG").parquet(logDir)
        val flagged = a0.join(
          broadcast(appIds.withColumn("app", lit(1))), Seq("vec_id"), "left")
          .withColumn("app", coalesce(col("app"), lit(0)))
        val isApp = col("app") === 1
        val acted = flagged.groupBy("cell")
          .agg(count(when(!isApp, 1)).as("n_base"),
            count(when(isApp, 1)).as("n_app"),
            coalesce(sum(when(!isApp, col("cm"))), lit(0L)).as("s_base"),
            coalesce(sum(when(isApp, col("cm"))), lit(0L)).as("s_app"))
          .filter(col("n_app") >= 5 && col("n_base") > 0 &&
            abs(round(col("s_base") * lit(1.0) / col("n_base"))
              - round(col("s_app") * lit(1.0) / col("n_app"))) >= 30000)
          .limit(1).count() > 0
        s37Acted = acted
        if (acted) {
          val cents1 = Similarity.centroidUpdateDF(a0)
            .select(col("cell").as("cent_id"), col("cv"))
            .withColumn("cn2", norm2Q(col("cv")))
          val idxGen2 = Similarity.writeIvfIndex(s,
            Similarity.ivfAssignAgainst(pop, cents1.select(col("cent_id"), col("cv"))),
            "ivf_s37g2")
          val centsDir2 = graft.Scratch.dir("graft_s37_cents2")
          cents1.write.mode("overwrite").parquet(centsDir2)
          Incremental.publishCatalog(cat, Seq(idxGen2, centsDir2))
        }
      }
    }
    s.read.parquet(outDir).orderBy("wave", "qid", "rank")
  }

  /** Whether the most recent s37 run's drift gate fired (test-only). */
  @volatile private[graft] var s37Acted: Boolean = false

  /** Catalog path of the most recent s37 run (test-only introspection). */
  @volatile private[graft] var s37Catalog: String = _

  /** s38 — STREAMING MAINTENANCE OF THE RETRIEVAL INDEX: t53's
    * maintained BM25 stores (term-bucketed postings + df/stats delta
    * logs) run behind the d58 catalog under a live ingest stream, with
    * the full takedown→compact→publish lifecycle landing in the
    * maintenance window (the s33/s36 quartet on the retrieval surface).
    *
    * Each micro-batch: resolve the catalog (postings table, df dir,
    * stats dir — three handles, one atomic publish), INDEX the arriving
    * docs (bucketed posting append + ONE delta keyed by the MICRO-BATCH
    * id — Spark's batchId is exactly the idempotence key t53's
    * batch-keyed overwrite needs: a crash-retried batch re-runs with
    * the SAME id and replaces its own deltas instead of double-counting
    * them), then serve the fixed query set against the live index
    * (tombstones anti-joined, stats delta-folded) — append-then-probe,
    * so a wave's own docs are immediately retrievable, and BM25 scores
    * themselves SHIFT with every ingest because n_docs/total_tok/df
    * moved: the oracle recomputes each wave's full scoring from its
    * live doc set, so a stale stat fold is a hash mismatch, not a
    * subtle drift.
    *
    * Maintenance window between waves: a takedown lands (negative
    * deltas from the removed docs' STORED postings), both stores are
    * compacted (postings minus tombstones + residue distinct; the delta
    * log folded to one row), ONE atomic publish swaps all three
    * handles, tombstones clear. Wave 1 probes generation 2 UNFILTERED —
    * wave-0's in-stream appends are carried through the swap and
    * removed docs stay gone. */
  private val s38 = Q(
    "s38_stream_bm25_maintenance",
    """WITH qt AS (
         SELECT * FROM (VALUES
           ('q01','merge'),('q01','sort'),
           ('q02','stream'),('q02','window'),
           ('q03','customer'),('q03','value')) AS t(query_id, term)),
       dl AS MATERIALIZED (
         SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents),
       tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
       tfq AS MATERIALIZED (
         SELECT doc_id, term, count(*) AS tf FROM tok
         WHERE term IN (SELECT term FROM qt) GROUP BY doc_id, term),
       live0 AS (SELECT doc_id FROM documents WHERE doc_id % 10 <> 5 OR doc_id % 20 = 5),
       live1 AS (SELECT doc_id FROM documents
                 WHERE (doc_id % 10 <> 5 AND doc_id % 7 <> 2) OR doc_id % 10 = 5),
       stats0 AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_tok
                  FROM dl JOIN live0 USING (doc_id)),
       df0 AS (SELECT term, count(*) AS df FROM tfq JOIN live0 USING (doc_id) GROUP BY term),
       scored0 AS (
         SELECT q.query_id, f.doc_id,
                CAST(round(
                  ln((n_docs - g.df + 0.5) / (g.df + 0.5) + 1.0) *
                  (f.tf * 2.2) /
                  (f.tf + 1.2 * (0.25 + 0.75 * d.dl * n_docs / CAST(total_tok AS DOUBLE)))
                  * 1000000) AS BIGINT) AS q_score
         FROM tfq f
         JOIN live0 USING (doc_id)
         JOIN qt q ON f.term = q.term
         JOIN df0 g ON f.term = g.term
         JOIN dl d ON f.doc_id = d.doc_id
         CROSS JOIN stats0),
       ranked0 AS (
         SELECT query_id, doc_id, s,
                row_number() OVER (PARTITION BY query_id ORDER BY s DESC, doc_id) AS rank
         FROM (SELECT query_id, doc_id, CAST(sum(q_score) AS BIGINT) AS s
               FROM scored0 GROUP BY query_id, doc_id)),
       stats1 AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_tok
                  FROM dl JOIN live1 USING (doc_id)),
       df1 AS (SELECT term, count(*) AS df FROM tfq JOIN live1 USING (doc_id) GROUP BY term),
       scored1 AS (
         SELECT q.query_id, f.doc_id,
                CAST(round(
                  ln((n_docs - g.df + 0.5) / (g.df + 0.5) + 1.0) *
                  (f.tf * 2.2) /
                  (f.tf + 1.2 * (0.25 + 0.75 * d.dl * n_docs / CAST(total_tok AS DOUBLE)))
                  * 1000000) AS BIGINT) AS q_score
         FROM tfq f
         JOIN live1 USING (doc_id)
         JOIN qt q ON f.term = q.term
         JOIN df1 g ON f.term = g.term
         JOIN dl d ON f.doc_id = d.doc_id
         CROSS JOIN stats1),
       ranked1 AS (
         SELECT query_id, doc_id, s,
                row_number() OVER (PARTITION BY query_id ORDER BY s DESC, doc_id) AS rank
         FROM (SELECT query_id, doc_id, CAST(sum(q_score) AS BIGINT) AS s
               FROM scored1 GROUP BY query_id, doc_id))
       SELECT wave, query_id, doc_id, CAST(rank AS BIGINT) AS rank,
              round(s / 1000000.0, 4) AS bm25
       FROM (
         SELECT CAST(0 AS BIGINT) AS wave, query_id, doc_id, s, rank
         FROM ranked0 WHERE rank <= 5
         UNION ALL
         SELECT CAST(1 AS BIGINT), query_id, doc_id, s, rank
         FROM ranked1 WHERE rank <= 5)
       ORDER BY wave, query_id, rank""") { (s, d) =>
    import graft.ops.{Dedup, Incremental, TextAnalysis}
    graft.plans.TopKPerGroup.install(s)
    import s.implicits._
    val queryTerms = Seq(
      "q01" -> "merge", "q01" -> "sort",
      "q02" -> "stream", "q02" -> "window",
      "q03" -> "customer", "q03" -> "value")
    val qt = queryTerms.toDF("query_id", "term")
    val vocab = queryTerms.map(_._2).distinct
    val docs = Tables.documents(s, d)
    // generation 1 over the base corpus
    val p0 = TextAnalysis.postingsOf(docs.filter(col("doc_id") % 10 =!= 5))
      .localCheckpoint(true)
    val dfDir = graft.Scratch.dir("graft_s38_df")
    val statsDir = graft.Scratch.dir("graft_s38_st")
    // store write and delta logs all read the p0 checkpoint — overlap
    var table: String = null
    Dedup.inParallel(
      () => table = TextAnalysis.writePostingStore(s, p0, "post_s38"),
      () => TextAnalysis.logStatDeltas(p0, dfDir, statsDir, batch = 0, sign = 1))
    val cat = graft.Scratch.dir("graft_s38_cat") + "/store.catalog"
    Incremental.publishCatalog(cat, Seq(table, dfDir, statsDir))
    s38Catalog = cat
    val tombDir = graft.Scratch.dir("graft_s38_tomb")
    docs.select(col("doc_id")).limit(0).write.mode("overwrite").parquet(tombDir)
    val watched = graft.Scratch.dir("graft_s38_watched")
    val outDir = graft.Scratch.dir("graft_s38_out")
    val ckpt = graft.Scratch.dir("graft_s38_ckpt")
    val s38NonEmpty = new java.util.concurrent.atomic.AtomicLong(0L)
    (0 to 1).foreach { b =>
      val tmp = graft.Scratch.dir(s"graft_s38_wave$b")
      docs.filter(col("doc_id") % 20 === lit(5L + 10L * b))
        .select(col("doc_id"), col("text"))
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        new java.io.File(watched, s"arrival$b.parquet").toPath)
      val q = s.readStream
        .schema(StructType(Seq(StructField("doc_id", LongType),
          StructField("text", StringType))))
        .parquet(watched)
        .writeStream
        .outputMode(OutputMode.Append())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          if (!batch.isEmpty) {
            require(s38NonEmpty.getAndIncrement() == b.toLong,
              s"s38 wave $b saw a second non-empty micro-batch ($batchId): " +
                "one-file-one-batch broken")
            val h = Incremental.resolveCatalog(cat, expect = 3)
            val tomb = s.read.schema("doc_id LONG").parquet(tombDir)
            val pb = TextAnalysis.postingsOf(batch.toDF()).localCheckpoint(true)
            // index the arrivals: bucketed append + ONE delta keyed by
            // the MICRO-BATCH id — Spark's batchId IS the idempotence
            // key (a crash-retried batch replaces its own deltas); the
            // +10 offset keeps ingest keys clear of the init/takedown
            // keys the maintenance window writes
            TextAnalysis.appendPostingStore(s, pb, h(0))
            TextAnalysis.logStatDeltas(pb, h(1), h(2),
              batch = 10 + batchId.toInt, sign = 1)
            // serve AFTER indexing: the wave's own docs are immediately
            // retrievable, and every score reflects the moved stats
            TextAnalysis.bm25Probe(s"w$b",
                s.table(h(0)).join(broadcast(
                  tomb.select(col("doc_id"))), Seq("doc_id"), "left_anti"),
                qt, vocab, h(1), h(2), s)
              .select(lit(b.toLong).as("wave"), col("query_id"), col("doc_id"),
                col("rank"), col("bm25"))
              .write.mode("append").parquet(outDir)
          }
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      if (b == 0) {
        // maintenance window: takedown lands (negative deltas from the
        // STORED postings of the removed docs), both stores compact,
        // ONE atomic three-handle publish, tombstones clear
        docs.filter(col("doc_id") % 10 =!= 5 && col("doc_id") % 7 === 2)
          .select("doc_id").write.mode("overwrite").parquet(tombDir)
        val h = Incremental.resolveCatalog(cat, expect = 3)
        val tomb = s.read.schema("doc_id LONG").parquet(tombDir)
        val removed = s.table(h(0)).join(broadcast(tomb), Seq("doc_id"))
          .select("term", "doc_id", "tf", "dl").distinct()
        // the negative deltas must LAND before the folds below read the
        // delta dirs; the posting rewrite and the two folds are then
        // independent — overlapped (the t53 compaction shape)
        TextAnalysis.logStatDeltas(removed, h(1), h(2), batch = 2, sign = -1)
        val dfDir2 = graft.Scratch.dir("graft_s38_df2")
        val statsDir2 = graft.Scratch.dir("graft_s38_st2")
        var table2: String = null
        Dedup.inParallel(
          () => table2 = TextAnalysis.compactPostingStore(s, h(0), tomb, "post_s38c"),
          () => s.read.parquet(h(1)).groupBy("term").agg(sum(col("d")).as("d"))
            .write.mode("overwrite").parquet(s"$dfDir2/batch=0"),
          () => s.read.parquet(h(2))
            .agg(sum(col("d_docs")).as("d_docs"), sum(col("d_tok")).as("d_tok"))
            .write.mode("overwrite").parquet(s"$statsDir2/batch=0"))
        Incremental.publishCatalog(cat, Seq(table2, dfDir2, statsDir2))
        docs.select(col("doc_id")).limit(0).write.mode("overwrite").parquet(tombDir)
      }
    }
    s.read.parquet(outDir)
      .select(col("wave"), col("query_id"), col("doc_id"),
        col("rank").cast(LongType).as("rank"), col("bm25"))
      .orderBy("wave", "query_id", "rank")
  }

  /** Catalog path of the most recent s38 run (test-only introspection). */
  @volatile private[graft] var s38Catalog: String = _

  /** s39 — s34's maintained-index streaming quartet on the COMPRESSED
    * layout (d63's IVF-PQ store): every micro-batch resolves the
    * current generation through the catalog, anti-joins the current
    * tombstones, runs the full funnel probe (ADC over codes in the
    * query's cell, exact refine via id-keyed corpus fetch), then
    * APPENDS its own vectors as codes — encode is map-side against the
    * FROZEN anchors + codebook (both index structure; s37 owns the
    * re-train story). The maintenance window runs takedown →
    * compactIvfPqIndex (carrying wave-0's appended codes) → atomic
    * publish → tombstone clear; wave 1 probes generation 2 unfiltered,
    * still retrieves wave-0 vectors, and removed vectors are gone. The
    * oracle replays both waves' ADC + refine over the exact live
    * populations, so a stale generation handle, a dropped append, or a
    * resurrected tombstone is a hash mismatch on integer distances. */
  private val s39 = Q(
    "s39_stream_ivfpq_maintained_index",
    """WITH e AS (
         SELECT vec_id,
                list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
         FROM embeddings),
       n AS (SELECT vec_id, v, CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS n2 FROM e),
       cents AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < 8),
       scored AS (
         SELECT n.vec_id, n.v, n.n2, c.cent_id,
                row_number() OVER (PARTITION BY n.vec_id
                  ORDER BY CAST(list_sum(list_transform(generate_series(1, 64), i -> n.v[i] * c.cv[i])) AS BIGINT) DESC,
                           c.cent_id) AS rn
         FROM n, cents c),
       assign AS MATERIALIZED (
         SELECT vec_id, v, n2, cent_id AS cell FROM scored WHERE rn = 1),
       subs AS (SELECT unnest(generate_series(0, 7)) AS s),
       vs AS (SELECT vec_id, s, list_slice(v, s * 8 + 1, s * 8 + 8) AS sv
              FROM e CROSS JOIN subs),
       cbs AS MATERIALIZED (SELECT vec_id AS code, s, sv AS cv FROM vs WHERE vec_id < 64),
       enc AS MATERIALIZED (
         SELECT vec_id, s, code FROM (
           SELECT v.vec_id, v.s, c.code,
                  row_number() OVER (PARTITION BY v.vec_id, v.s
                    ORDER BY CAST(list_sum(list_transform(generate_series(1, 8),
                               i -> (v.sv[i] - c.cv[i]) * (v.sv[i] - c.cv[i]))) AS BIGINT) ASC,
                             c.code) AS rn
           FROM vs v JOIN cbs c ON v.s = c.s) t WHERE rn = 1),
       tombv AS (SELECT vec_id FROM e WHERE vec_id % 10 <> 5 AND vec_id % 7 = 3),
       idx0 AS (SELECT vec_id FROM e WHERE vec_id % 10 <> 5),
       idx1 AS (SELECT vec_id FROM e
                WHERE (vec_id % 10 <> 5 AND vec_id NOT IN (SELECT vec_id FROM tombv))
                   OR vec_id % 20 = 5),
       qa AS MATERIALIZED (
         SELECT CAST(CASE WHEN vec_id % 20 = 5 THEN 0 ELSE 1 END AS BIGINT) AS wave,
                vec_id AS qid, cell, v AS qv, n2 AS qn2
         FROM assign WHERE vec_id % 10 = 5),
       qs AS MATERIALIZED (SELECT vec_id AS qid, s, sv FROM vs WHERE vec_id % 10 = 5),
       adc AS MATERIALIZED (
         SELECT qa.wave, qa.qid, qa.cell, en.vec_id AS cid,
                CAST(sum(list_sum(list_transform(generate_series(1, 8),
                  i -> (q.sv[i] - c.cv[i]) * (q.sv[i] - c.cv[i])))) AS BIGINT) AS ad
         FROM qa
         JOIN assign ca ON ca.cell = qa.cell AND ca.vec_id <> qa.qid
         JOIN idx0 i0 ON qa.wave = 0 AND i0.vec_id = ca.vec_id
         JOIN enc en ON en.vec_id = ca.vec_id
         JOIN qs q ON q.qid = qa.qid AND q.s = en.s
         JOIN cbs c ON c.s = en.s AND c.code = en.code
         GROUP BY qa.wave, qa.qid, qa.cell, en.vec_id
         UNION ALL
         SELECT qa.wave, qa.qid, qa.cell, en.vec_id AS cid,
                CAST(sum(list_sum(list_transform(generate_series(1, 8),
                  i -> (q.sv[i] - c.cv[i]) * (q.sv[i] - c.cv[i])))) AS BIGINT) AS ad
         FROM qa
         JOIN assign ca ON ca.cell = qa.cell AND ca.vec_id <> qa.qid
         JOIN idx1 i1 ON qa.wave = 1 AND i1.vec_id = ca.vec_id
         JOIN enc en ON en.vec_id = ca.vec_id
         JOIN qs q ON q.qid = qa.qid AND q.s = en.s
         JOIN cbs c ON c.s = en.s AND c.code = en.code
         GROUP BY qa.wave, qa.qid, qa.cell, en.vec_id),
       cand AS (
         SELECT wave, qid, cell, cid, ad FROM (
           SELECT wave, qid, cell, cid, ad,
                  row_number() OVER (PARTITION BY wave, qid ORDER BY ad ASC, cid) AS rk
           FROM adc) t WHERE rk <= 10),
       refined AS (
         SELECT cand.wave, cand.qid, cand.cell, cand.cid, cand.ad,
                qa.qn2 + c.n2 - 2 * CAST(list_sum(list_transform(generate_series(1, 64),
                  i -> qa.qv[i] * c.v[i])) AS BIGINT) AS d2
         FROM cand
         JOIN qa ON qa.qid = cand.qid AND qa.wave = cand.wave
         JOIN n c ON c.vec_id = cand.cid)
       SELECT wave, qid, cell, cid, CAST(rank AS BIGINT) AS rank, ad, d2
       FROM (SELECT wave, qid, cell, cid, ad, d2,
                    row_number() OVER (PARTITION BY wave, qid ORDER BY d2 ASC, cid) AS rank
             FROM refined) t
       WHERE rank <= 3 ORDER BY wave, qid, rank""") { (s, d) =>
    import graft.ops.{Dedup, Incremental, Similarity}
    import graft.ops.Similarity.{norm2Q, quantize}
    graft.functions.LongDot.register(s)
    graft.functions.LongL2.register(s)
    graft.plans.TopKPerGroup.install(s)
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), quantize(col("embedding")).as("v"))
      .withColumn("n2", norm2Q(col("v")))
    // anchors + codebook are FROZEN index structure (s37 owns re-train)
    val cents = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"))
    val cb = Similarity.pqCodebook(e)
    val assign = Dedup.reuse(Similarity.ivfAssignAgainst(e, cents))
    val encAll = assign.withColumn("codes", Similarity.pqCodesCol(cb))
    val idxGen1 = Similarity.writeIvfPqIndex(
      s, encAll.filter(col("vec_id") % 10 =!= 5), "ivfpq_s39")
    val cat = graft.Scratch.dir("graft_s39_cat") + "/index.catalog"
    Incremental.publishCatalog(cat, Seq(idxGen1))
    s39Catalog = cat
    val tombDir = graft.Scratch.dir("graft_s39_tomb")
    e.select(col("vec_id")).limit(0).write.mode("overwrite").parquet(tombDir)
    val corpus = e.select(col("vec_id").as("cid"), col("v").as("cv"),
      col("n2").as("cn2"))
    val watched = graft.Scratch.dir("graft_s39_watched")
    val outDir = graft.Scratch.dir("graft_s39_out")
    val ckpt = graft.Scratch.dir("graft_s39_ckpt")
    val s39NonEmpty = new java.util.concurrent.atomic.AtomicLong(0L)
    (0 to 1).foreach { b =>
      val tmp = graft.Scratch.dir(s"graft_s39_wave$b")
      Tables.embeddings(s, d).filter(col("vec_id") % 20 === lit(5L + 10L * b))
        .select(col("vec_id"), col("embedding"))
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        new java.io.File(watched, s"arrival$b.parquet").toPath)
      val q = s.readStream
        .schema(StructType(Seq(StructField("vec_id", LongType),
          StructField("embedding", ArrayType(FloatType)))))
        .parquet(watched)
        .writeStream
        .outputMode(OutputMode.Append())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          if (!batch.isEmpty) {
            require(s39NonEmpty.getAndIncrement() == b.toLong,
              s"s39 wave $b saw a second non-empty micro-batch ($batchId): " +
                "one-file-one-batch broken")
            val idxTable = Incremental.resolveCatalog(cat, expect = 1).head
            val tomb = s.read.schema("vec_id LONG").parquet(tombDir)
            val bAssign = Similarity.ivfAssignAgainst(
              batch.toDF()
                .select(col("vec_id"), quantize(col("embedding")).as("v"))
                .withColumn("n2", norm2Q(col("v"))),
              cents).localCheckpoint(true)
            val liveIdx = s.table(idxTable)
              .join(broadcast(tomb.select(col("vec_id").as("cid"))),
                Seq("cid"), "left_anti")
            // the full funnel against the compressed store: ADC from
            // codes in-cell, exact refine via the id-keyed corpus fetch
            Similarity.probeIvfPqTopK(liveIdx,
                bAssign.select(col("vec_id").as("qid"), col("cell").as("qcell"),
                  Similarity.pqLutCol(cb).as("lut")),
                bAssign.select(col("vec_id").as("qid"), col("v").as("qv"),
                  col("n2").as("qn2")),
                corpus, kAdc = 10, k = 3)
              .select(lit(b.toLong).as("wave"), col("qid"), col("cell"),
                col("cid"), col("rank"), col("ad"), col("d2"))
              .write.mode("append").parquet(outDir)
            // probe-then-append (nothing ranks against itself), encode
            // map-side against the frozen structures
            Similarity.appendIvfPqIndex(s,
              bAssign.withColumn("codes", Similarity.pqCodesCol(cb)), idxTable)
          }
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      if (b == 0) {
        // maintenance window: takedown → compaction (wave-0 codes
        // carried) → atomic publish → tombstone clear
        e.filter(col("vec_id") % 10 =!= 5 && col("vec_id") % 7 === 3)
          .select("vec_id").write.mode("overwrite").parquet(tombDir)
        val cur = Incremental.resolveCatalog(cat, expect = 1).head
        val idxGen2 = Similarity.compactIvfPqIndex(s, cur,
          s.read.schema("vec_id LONG").parquet(tombDir), "ivfpq_s39c")
        Incremental.publishCatalog(cat, Seq(idxGen2))
        e.select(col("vec_id")).limit(0).write.mode("overwrite").parquet(tombDir)
      }
    }
    s.read.parquet(outDir).orderBy("wave", "qid", "rank")
  }

  /** Catalog path of the most recent s39 run (test-only introspection). */
  @volatile private[graft] var s39Catalog: String = _

  /** s40 — PINNED GENERATION READS FROM A LIVE STREAM, and GC-vs-pin
    * safety. d66's pinned reads are batch-only; every streaming
    * consumer so far (s33/s34/s36/s38/s39) re-resolves the LATEST
    * generation per batch. A training-export stream needs the OPPOSITE
    * contract — session consistency: the generation it started on must
    * keep answering, unchanged, across a mid-stream maintenance swap.
    * That makes the pin a liability for the GC, so the pin becomes a
    * LEASE the GC actually sees ([[graft.ops.Incremental
    * .acquireCatalogPin]]): retention GC refuses to reclaim a
    * generation held by an unexpired lease even outside the retain
    * window, and once the lease is released (or expires) the next GC
    * reclaims it — after which a read through the stale pin fails
    * loudly (RoundThirteenSpec drills the expiry and the loud failure;
    * this query hash-checks both GC decisions).
    *
    * Two consumers share one two-wave probe stream: `pinned` resolves
    * THROUGH the lease every batch (the lease check runs per batch, as
    * a renewing production consumer would) and must answer from
    * generation 1 in BOTH waves — the oracle demands wave-1 verdicts
    * computed against the PRE-swap store while the pointer already
    * serves generation 2; `current` re-resolves the pointer and must
    * see the takedown in wave 1. The maintenance window between waves
    * runs takedown compaction + a CAS publish (d69's commit), then a
    * retention GC UNDER THE LIVE PIN whose refusal is a hash-checked
    * row (`gc`/wave 1: 0 reclaimed, 2 generations left); the
    * post-stream GC after the release reclaims exactly generation 1
    * (`gc`/wave 2: 1 reclaimed, 1 left). GC rows reuse the census
    * columns: n_candidates = generations reclaimed, n_verified =
    * generations remaining. */
  private val s40 = Q(
    "s40_stream_pinned_generation_read",
    """WITH docs AS (
         SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       sh AS (
         SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh
         FROM (SELECT doc_id, ws,
                      unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS i
               FROM docs)),
       hs AS MATERIALIZED (
         SELECT doc_id, ('0x' || substring(md5(sh), 1, 8))::BIGINT AS h1,
                ('0x' || substring(md5(sh), 9, 8))::BIGINT AS h2
         FROM sh),
       sig AS (
         SELECT doc_id, seed, min(h1 + seed * h2) AS mh
         FROM hs, (SELECT unnest(generate_series(0, 7)) AS seed) seeds
         GROUP BY doc_id, seed),
       bands AS MATERIALIZED (
         SELECT doc_id, CAST(seed // 2 AS INT) AS band,
                md5(string_agg(CAST(mh AS VARCHAR), '|' ORDER BY seed)) AS band_key
         FROM sig GROUP BY doc_id, CAST(seed // 2 AS INT)),
       cand_g1 AS (
         SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
         FROM (SELECT * FROM bands WHERE doc_id % 7 = 5) n
         JOIN (SELECT * FROM bands WHERE doc_id % 7 != 5) o
           ON n.band = o.band AND n.band_key = o.band_key),
       cand_g2 AS (
         SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
         FROM (SELECT * FROM bands WHERE doc_id % 7 = 5) n
         JOIN (SELECT * FROM bands WHERE doc_id % 7 != 5 AND doc_id % 7 != 3) o
           ON n.band = o.band AND n.band_key = o.band_key),
       shd AS MATERIALIZED (
         SELECT DISTINCT doc_id, h1 * 134217728 + h2 % 134217728 AS h FROM hs),
       sz AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
       inter_g1 AS (
         SELECT c.new_id, c.old_id, count(*) AS ni
         FROM cand_g1 c
           JOIN shd a ON a.doc_id = c.new_id
           JOIN shd b ON b.doc_id = c.old_id AND b.h = a.h
         GROUP BY c.new_id, c.old_id),
       ver_g1 AS MATERIALIZED (
         SELECT i.new_id, i.old_id FROM inter_g1 i
           JOIN sz sa ON sa.doc_id = i.new_id
           JOIN sz sb ON sb.doc_id = i.old_id
         WHERE i.ni * 1.0 / (sa.n + sb.n - i.ni) >= 0.5),
       inter_g2 AS (
         SELECT c.new_id, c.old_id, count(*) AS ni
         FROM cand_g2 c
           JOIN shd a ON a.doc_id = c.new_id
           JOIN shd b ON b.doc_id = c.old_id AND b.h = a.h
         GROUP BY c.new_id, c.old_id),
       ver_g2 AS (
         SELECT i.new_id, i.old_id FROM inter_g2 i
           JOIN sz sa ON sa.doc_id = i.new_id
           JOIN sz sb ON sb.doc_id = i.old_id
         WHERE i.ni * 1.0 / (sa.n + sb.n - i.ni) >= 0.5),
       cw10 AS MATERIALIZED (
         SELECT d.doc_id AS new_doc_id,
                CAST(coalesce(c.n_cand, 0) AS BIGINT) AS n_candidates,
                CAST(coalesce(v.n_ver, 0) AS BIGINT) AS n_verified,
                CASE WHEN v.new_id IS NOT NULL THEN 'duplicate' ELSE 'unique' END AS verdict,
                v.best_match
         FROM (SELECT doc_id FROM documents WHERE doc_id % 14 = 5) d
           LEFT JOIN (SELECT new_id, count(*) AS n_cand FROM cand_g1 GROUP BY new_id) c
             ON d.doc_id = c.new_id
           LEFT JOIN (SELECT new_id, count(*) AS n_ver, min(old_id) AS best_match
                      FROM ver_g1 GROUP BY new_id) v
             ON d.doc_id = v.new_id),
       cw11 AS (
         SELECT d.doc_id AS new_doc_id,
                CAST(coalesce(c.n_cand, 0) AS BIGINT) AS n_candidates,
                CAST(coalesce(v.n_ver, 0) AS BIGINT) AS n_verified,
                CASE WHEN v.new_id IS NOT NULL THEN 'duplicate' ELSE 'unique' END AS verdict,
                v.best_match
         FROM (SELECT doc_id FROM documents WHERE doc_id % 14 = 12) d
           LEFT JOIN (SELECT new_id, count(*) AS n_cand FROM cand_g1 GROUP BY new_id) c
             ON d.doc_id = c.new_id
           LEFT JOIN (SELECT new_id, count(*) AS n_ver, min(old_id) AS best_match
                      FROM ver_g1 GROUP BY new_id) v
             ON d.doc_id = v.new_id),
       cw21 AS (
         SELECT d.doc_id AS new_doc_id,
                CAST(coalesce(c.n_cand, 0) AS BIGINT) AS n_candidates,
                CAST(coalesce(v.n_ver, 0) AS BIGINT) AS n_verified,
                CASE WHEN v.new_id IS NOT NULL THEN 'duplicate' ELSE 'unique' END AS verdict,
                v.best_match
         FROM (SELECT doc_id FROM documents WHERE doc_id % 14 = 12) d
           LEFT JOIN (SELECT new_id, count(*) AS n_cand FROM cand_g2 GROUP BY new_id) c
             ON d.doc_id = c.new_id
           LEFT JOIN (SELECT new_id, count(*) AS n_ver, min(old_id) AS best_match
                      FROM ver_g2 GROUP BY new_id) v
             ON d.doc_id = v.new_id)
       SELECT consumer, wave, new_doc_id, n_candidates, n_verified, verdict, best_match
       FROM (
         SELECT 'pinned' AS consumer, CAST(0 AS BIGINT) AS wave, * FROM cw10
         UNION ALL SELECT 'pinned', 1, * FROM cw11
         UNION ALL SELECT 'current', 0, * FROM cw10
         UNION ALL SELECT 'current', 1, * FROM cw21
         UNION ALL SELECT 'gc', 1, CAST(-1 AS BIGINT), CAST(0 AS BIGINT),
           CAST(2 AS BIGINT), 'pin_refused', CAST(NULL AS BIGINT)
         UNION ALL SELECT 'gc', 2, CAST(-1 AS BIGINT), CAST(1 AS BIGINT),
           CAST(1 AS BIGINT), 'reclaimed', CAST(NULL AS BIGINT))
       ORDER BY consumer, wave, new_doc_id""") { (s, d) =>
    import graft.ops.{Dedup, Incremental}
    val docs = Tables.documents(s, d)
    val (buckets, shingles) = Dedup.lshBucketsAndShingles(docs, "doc_id", "text",
      shingleWords = 3, bands = 4, rowsPerBand = 2)
    val isProbe = col("id") % 7 === 5
    val t1 = "graft_band_s40_" + graft.Scratch.nameTag()
    Dedup.writeBandIndex(s, buckets.filter(!isProbe), t1)
    val cat = graft.Scratch.dir("graft_s40_cat") + "/index.catalog"
    Incremental.publishCatalogVersioned(cat, Seq(t1))
    // the export stream's LEASE, taken at stream start; an hour dwarfs
    // the run (a production consumer renews per batch)
    Incremental.acquireCatalogPin(cat, version = 1, holder = "s40-export",
      leaseMs = 3600000L)
    s40Catalog = cat
    val corpusShingles = shingles.filter(col("id") % 7 =!= 5)
    val watched = graft.Scratch.dir("graft_s40_watched")
    val outDir = graft.Scratch.dir("graft_s40_out")
    val ckpt = graft.Scratch.dir("graft_s40_ckpt")
    val gcRows = scala.collection.mutable
      .ArrayBuffer[(String, Long, Long, Long, Long, String, Option[Long])]()
    val s40NonEmpty = new java.util.concurrent.atomic.AtomicLong(0L)
    (0 to 1).foreach { b =>
      val tmp = graft.Scratch.dir(s"graft_s40_wave$b")
      docs.filter(col("doc_id") % 14 === lit(5L + 7L * b))
        .select(col("doc_id"), col("text").as("t"))
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        new java.io.File(watched, s"arrival$b.parquet").toPath)
      val q = s.readStream
        .schema(StructType(Seq(StructField("doc_id", LongType),
          StructField("t", StringType))))
        .parquet(watched)
        .writeStream
        .outputMode(OutputMode.Append())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          if (!batch.isEmpty) {
            // non-empty-batch counter, not the raw id (s31's rationale)
            require(s40NonEmpty.getAndIncrement() == b.toLong,
              s"s40 wave $b saw a second non-empty micro-batch ($batchId): " +
                "one-file-one-batch broken")
            // the probe's bands and shingles derive from the BATCH
            val (bBuckets, bShingles) = Dedup.lshBucketsAndShingles(
              batch.toDF(), "doc_id", "t",
              shingleWords = 3, bands = 4, rowsPerBand = 2)
            val bB = bBuckets.localCheckpoint(true)
            val allSh = corpusShingles.unionByName(bShingles.localCheckpoint(true))
            def consumerRows(consumer: String, table: String): DataFrame = {
              val cand = Dedup.probeBandIndex(s, table, bB)
              val candN = cand.groupBy(col("id_a").as("new_id"))
                .agg(count(lit(1)).as("n_cand"))
              val verN = Dedup.jaccardVerifiedPairs(cand, allSh, tau = 0.5)
                .groupBy(col("id_a").as("new_id"))
                .agg(count(lit(1)).as("n_ver"), min(col("id_b")).as("best_match"))
              batch.toDF().select(col("doc_id").as("new_doc_id"))
                .join(candN, col("new_doc_id") === candN("new_id"), "left")
                .join(verN, col("new_doc_id") === verN("new_id"), "left")
                .select(lit(consumer).as("consumer"), lit(b.toLong).as("wave"),
                  col("new_doc_id"),
                  coalesce(col("n_cand"), lit(0L)).as("n_candidates"),
                  coalesce(col("n_ver"), lit(0L)).as("n_verified"),
                  when(verN("new_id").isNotNull, "duplicate")
                    .otherwise("unique").as("verdict"),
                  col("best_match"))
            }
            // the production consumer RENEWS its lease every batch (a
            // holder overwrites its own lease file), then resolves —
            // and re-checks — the pin; the current consumer re-resolves
            // the moving pointer
            Incremental.acquireCatalogPin(cat, version = 1,
              holder = "s40-export", leaseMs = 3600000L)
            val pinnedTable =
              Incremental.resolvePinnedCatalog(cat, "s40-export", expect = 1).head
            val currentTable = Incremental.resolveCatalog(cat, expect = 1).head
            consumerRows("pinned", pinnedTable)
              .unionByName(consumerRows("current", currentTable))
              .write.mode("append").parquet(outDir)
          }
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      if (b == 0) {
        // maintenance window: takedown compaction publishes generation 2
        // through the CAS commit, then retention GC runs UNDER the live
        // pin — the lease must refuse generation 1's reclamation
        val tomb = docs.filter(col("doc_id") % 7 === 3).select(col("doc_id").as("id"))
        Incremental.commitCatalogCas(cat) { (_, cur) =>
          Seq(Dedup.compactBandIndex(s, cur.head, tomb, "s40c"))
        }
        val reclaimed = Incremental.gcCatalogHistory(s, cat, retain = 1)
        gcRows += (("gc", 1L, -1L, reclaimed.size.toLong,
          Incremental.catalogVersions(cat).size.toLong,
          if (reclaimed.isEmpty) "pin_refused" else "reclaimed", None))
      }
    }
    // the consumer is done: release the lease; the SAME retention GC now
    // reclaims generation 1 (the pin, not the policy, was the guard)
    Incremental.releaseCatalogPin(cat, "s40-export")
    val reclaimed2 = Incremental.gcCatalogHistory(s, cat, retain = 1)
    gcRows += (("gc", 2L, -1L, reclaimed2.size.toLong,
      Incremental.catalogVersions(cat).size.toLong,
      if (reclaimed2.isEmpty) "pin_refused" else "reclaimed", None))
    import s.implicits._
    s.read.parquet(outDir)
      .unionByName(gcRows.toSeq.toDF("consumer", "wave", "new_doc_id",
        "n_candidates", "n_verified", "verdict", "best_match"))
      .orderBy("consumer", "wave", "new_doc_id")
  }

  /** Catalog path of the most recent s40 run (test-only introspection). */
  @volatile private[graft] var s40Catalog: String = _

  /** s41 — TOKENIZER RE-TRAIN MID-STREAM: the s37 signal→action→swap
    * loop on the tokenizer surface, closing the last open trigger
    * family. The stored merge table is catalog generation state; each
    * micro-batch resolves the CURRENT generation, segments its per-doc
    * word census under it (t31's join shape — the stream is never
    * re-tokenized, only the batch's word TYPES pass through the merge
    * fold), logs the batch's type census to the ingest log, and emits
    * per-doc (wave, generation, n_words, n_bpe_tokens) rows. The
    * maintenance window between waves runs t54's drift census — base
    * fertility vs the ARRIVED batch's fertility from the log (the seam
    * maintenance reads, not fixture knowledge), both under the current
    * merges, integer micros, pinned ≥30000 gate — and a firing gate
    * runs the t30 re-train over base ∪ arrived census and swaps the
    * merge table with one CAS publish. Wave 0 is the planted shift
    * (reversed words, t54's plant), so the gate fires and wave 1 — the
    * same docs un-reversed — segments under generation 2; the oracle
    * ([[graft.ops.TokenizerOracles.s41Sql]]) renders BOTH merge tables,
    * re-decides the gate, and keeps both branches live, so a missed or
    * spurious swap hash-fails on wave-1's values and generation column.
    * The no-drift branch (in-distribution wave 0 → no swap, wave 1
    * still generation 1) is drilled in RoundThirteenSpec. */
  private val s41 = Q.dynamic("s41_stream_tokenizer_retrain") { (s, d) =>
    import graft.ops.{BpeTokenizer, Incremental, TextAnalysis}
    val k = s.conf.getOption("graft.bpe.merges").map(_.toInt).getOrElse(40)
    val docs = Tables.documents(s, d)
    val wordsOf = (c: org.apache.spark.sql.Column) =>
      explode(TextAnalysis.tokens(c, "whitespace"))
    val baseCen = graft.ops.Dedup.reuse(docs.filter(col("doc_id") % 5 =!= 3)
      .select(wordsOf(col("text")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("freq")))
    // generation 1: merges learned on the base corpus, published as
    // catalog state (the merge table IS the tokenizer)
    val m1 = BpeTokenizer.learn(s, baseCen, k)._1
    import s.implicits._
    val mergesDir1 = graft.Scratch.dir("graft_s41_m1")
    m1.toDF("rank", "left", "right", "n_pairs")
      .write.mode("overwrite").parquet(mergesDir1)
    val cat = graft.Scratch.dir("graft_s41_cat") + "/tokenizer.catalog"
    Incremental.publishCatalogVersioned(cat, Seq(mergesDir1))
    s41Catalog = cat
    val logDir = graft.Scratch.dir("graft_s41_log")
    baseCen.select(col("word"), col("freq").as("cnt")).limit(0)
      .write.mode("overwrite").parquet(logDir)
    val watched = graft.Scratch.dir("graft_s41_watched")
    val outDir = graft.Scratch.dir("graft_s41_out")
    val ckpt = graft.Scratch.dir("graft_s41_ckpt")
    val s41NonEmpty = new java.util.concurrent.atomic.AtomicLong(0L)
    (0 to 1).foreach { b =>
      val tmp = graft.Scratch.dir(s"graft_s41_wave$b")
      val waveDf =
        if (b == 0)
          // the planted distribution shift: every word reversed —
          // deterministic, oracle-expressible, starves left-to-right
          // learned merges (t54's plant)
          docs.filter(col("doc_id") % 5 === 3)
            .select(col("doc_id"),
              array_join(transform(split(col("text"), " "), w => reverse(w)), " ").as("t"))
        else docs.filter(col("doc_id") % 5 === 3)
          .select(col("doc_id"), col("text").as("t"))
      waveDf.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        new java.io.File(watched, s"arrival$b.parquet").toPath)
      val q = s.readStream
        .schema(StructType(Seq(StructField("doc_id", LongType),
          StructField("t", StringType))))
        .parquet(watched)
        .writeStream
        .outputMode(OutputMode.Append())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          if (!batch.isEmpty) {
            require(s41NonEmpty.getAndIncrement() == b.toLong,
              s"s41 wave $b saw a second non-empty micro-batch ($batchId): " +
                "one-file-one-batch broken")
            // the CURRENT tokenizer generation, re-resolved each batch
            val gen = Incremental.currentCatalogVersion(cat)
            val mergesDir = Incremental.resolveCatalog(cat, expect = 1).head
            val merges = s.read.parquet(mergesDir)
              .orderBy("rank")
              .as[(Int, String, String, Long)].collect().toSeq
            val dwB = batch.toDF()
              .select(col("doc_id"), wordsOf(col("t")).as("word"))
              .filter(length(col("word")) > 0)
              .groupBy("doc_id", "word").agg(count(lit(1)).as("cnt"))
              .localCheckpoint(true)
            val segB = BpeTokenizer.segmentTypes(
              dwB.select("word").distinct(), merges)
            dwB.join(segB, "word")
              .groupBy("doc_id")
              .agg(sum(col("cnt")).as("n_words"),
                sum(col("cnt") * col("n_tok")).as("n_bpe_tokens"))
              .select(lit(b.toLong).as("wave"), lit(gen.toLong).as("generation"),
                col("doc_id"), col("n_words"), col("n_bpe_tokens"))
              .write.mode("append").parquet(outDir)
            // the ingest log: the batch's TYPE census — what the drift
            // census and a re-train read (never the fixture)
            dwB.groupBy("word").agg(sum(col("cnt")).as("cnt"))
              .write.mode("append").parquet(logDir)
          }
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      if (b == 0) {
        // maintenance window: t54's drift census over the ARRIVED
        // census (from the log) vs the base census, both under the
        // CURRENT merges; a firing gate re-trains on base ∪ arrived
        // and swaps the merge table via one CAS publish
        val mergesDir = Incremental.resolveCatalog(cat, expect = 1).head
        val merges = s.read.parquet(mergesDir)
          .orderBy("rank").as[(Int, String, String, Long)].collect().toSeq
        val arrived = graft.ops.Dedup.reuse(
          s.read.schema("word STRING, cnt LONG").parquet(logDir)
            .groupBy("word").agg(sum(col("cnt")).as("cnt")))
        val segAll = graft.ops.Dedup.reuse(BpeTokenizer.segmentTypes(
          baseCen.select("word").union(arrived.select("word")).distinct(), merges))
        def fert(cen: DataFrame, cntCol: String): DataFrame =
          cen.join(segAll, "word")
            .agg(sum(col(cntCol) * length(col("word"))).as("chars"),
              sum(col(cntCol) * col("n_tok")).as("tokens"))
            .select(round(lit(1000000.0) * col("tokens") / col("chars"))
              .cast(LongType).as("tpc"))
        val drift = fert(arrived, "cnt").crossJoin(
            fert(baseCen, "freq").select(col("tpc").as("base_tpc")))
          .select((col("tpc") - col("base_tpc")).as("drift_micro"))
          .head.getLong(0)
        s41Acted = drift >= 30000L
        if (s41Acted) {
          val unionCen = baseCen
            .unionByName(arrived.select(col("word"), col("cnt").as("freq")))
            .groupBy("word").agg(sum(col("freq")).as("freq"))
          val m2 = BpeTokenizer.learn(s, unionCen, k)._1
          val mergesDir2 = graft.Scratch.dir("graft_s41_m2")
          m2.toDF("rank", "left", "right", "n_pairs")
            .write.mode("overwrite").parquet(mergesDir2)
          Incremental.commitCatalogCas(cat) { (_, _) => Seq(mergesDir2) }
        }
      }
    }
    s.read.parquet(outDir).orderBy("wave", "doc_id")
  } { (s, d) =>
    import graft.ops.{BpeTokenizer, TextAnalysis, TokenizerOracles}
    val k = s.conf.getOption("graft.bpe.merges").map(_.toInt).getOrElse(40)
    val docs = Tables.documents(s, d)
    val baseCen = docs.filter(col("doc_id") % 5 =!= 3)
      .select(explode(TextAnalysis.tokens(col("text"), "whitespace")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("freq"))
    val revCen = docs.filter(col("doc_id") % 5 === 3)
      .select(explode(TextAnalysis.tokens(col("text"), "whitespace")).as("w0"))
      .filter(length(col("w0")) > 0)
      .select(reverse(col("w0")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
    val m1 = BpeTokenizer.learn(s, baseCen, k)._1
    val unionCen = baseCen.unionByName(revCen)
      .groupBy("word").agg(sum(col("freq")).as("freq"))
    val m2 = BpeTokenizer.learn(s, unionCen, k)._1
    TokenizerOracles.s41Sql(m1, m2, gateMicro = 30000L)
  }

  /** s42 — CONCURRENT MAINTENANCE UNDER A LIVE STREAM: the d69 CAS
    * commit doing its real job. The maintenance window between waves
    * runs TWO genuinely concurrent publishers against the ingest
    * stream's catalog — a d64 re-bucket migration (8 → 32, layout) and
    * a takedown compaction (content) — racing from the same snapshot on
    * real threads. Exactly one wins v2; the loser's CAS conflicts, it
    * re-reads and RE-APPLIES against the winner's generation, and
    * commits v3. The operations commute on content (compact∘migrate ≡
    * migrate∘compact), and the compaction publisher rewrites at the
    * resolved generation's STORED bucket spec
    * ([[graft.ops.Dedup.compactBandIndex]]), so the final state —
    * (base ∪ wave-0 appends) − tombstones at 32 buckets, version 3 —
    * is deterministic REGARDLESS of race order, which is what makes a
    * genuinely nondeterministic thread race oracle-checkable: wave 1
    * probes it, appends its own bands at the resolved 32-bucket spec,
    * and the closing store census row pins the final row count, the
    * version count (3 = both publishers survived), and the resolved
    * spec. Probing derives bands from each batch; Jaccard verification
    * reads the static shingle table (shingle-store maintenance is
    * s31/p02's proven machinery, not this query's subject). */
  private val s42 = Q(
    "s42_stream_concurrent_maintenance",
    """WITH docs AS (
         SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       sh AS (
         SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh
         FROM (SELECT doc_id, ws,
                      unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS i
               FROM docs)),
       hs AS MATERIALIZED (
         SELECT doc_id, ('0x' || substring(md5(sh), 1, 8))::BIGINT AS h1,
                ('0x' || substring(md5(sh), 9, 8))::BIGINT AS h2
         FROM sh),
       sig AS (
         SELECT doc_id, seed, min(h1 + seed * h2) AS mh
         FROM hs, (SELECT unnest(generate_series(0, 7)) AS seed) seeds
         GROUP BY doc_id, seed),
       bands AS MATERIALIZED (
         SELECT doc_id, CAST(seed // 2 AS INT) AS band,
                md5(string_agg(CAST(mh AS VARCHAR), '|' ORDER BY seed)) AS band_key
         FROM sig GROUP BY doc_id, CAST(seed // 2 AS INT)),
       cand_g1 AS (
         SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
         FROM (SELECT * FROM bands WHERE doc_id % 14 = 5) n
         JOIN (SELECT * FROM bands WHERE doc_id % 7 != 5) o
           ON n.band = o.band AND n.band_key = o.band_key),
       cand_g3 AS (
         SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
         FROM (SELECT * FROM bands WHERE doc_id % 14 = 12) n
         JOIN (SELECT * FROM bands
               WHERE (doc_id % 7 != 5 AND doc_id % 7 != 3) OR doc_id % 14 = 5) o
           ON n.band = o.band AND n.band_key = o.band_key),
       shd AS MATERIALIZED (
         SELECT DISTINCT doc_id, h1 * 134217728 + h2 % 134217728 AS h FROM hs),
       sz AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
       inter_g1 AS (
         SELECT c.new_id, c.old_id, count(*) AS ni
         FROM cand_g1 c
           JOIN shd a ON a.doc_id = c.new_id
           JOIN shd b ON b.doc_id = c.old_id AND b.h = a.h
         GROUP BY c.new_id, c.old_id),
       ver_g1 AS (
         SELECT i.new_id, i.old_id FROM inter_g1 i
           JOIN sz sa ON sa.doc_id = i.new_id
           JOIN sz sb ON sb.doc_id = i.old_id
         WHERE i.ni * 1.0 / (sa.n + sb.n - i.ni) >= 0.5),
       inter_g3 AS (
         SELECT c.new_id, c.old_id, count(*) AS ni
         FROM cand_g3 c
           JOIN shd a ON a.doc_id = c.new_id
           JOIN shd b ON b.doc_id = c.old_id AND b.h = a.h
         GROUP BY c.new_id, c.old_id),
       ver_g3 AS (
         SELECT i.new_id, i.old_id FROM inter_g3 i
           JOIN sz sa ON sa.doc_id = i.new_id
           JOIN sz sb ON sb.doc_id = i.old_id
         WHERE i.ni * 1.0 / (sa.n + sb.n - i.ni) >= 0.5),
       w0 AS (
         SELECT d.doc_id AS new_doc_id,
                CAST(coalesce(c.n_cand, 0) AS BIGINT) AS n_candidates,
                CAST(coalesce(v.n_ver, 0) AS BIGINT) AS n_verified,
                CASE WHEN v.new_id IS NOT NULL THEN 'duplicate' ELSE 'unique' END AS verdict,
                v.best_match
         FROM (SELECT doc_id FROM documents WHERE doc_id % 14 = 5) d
           LEFT JOIN (SELECT new_id, count(*) AS n_cand FROM cand_g1 GROUP BY new_id) c
             ON d.doc_id = c.new_id
           LEFT JOIN (SELECT new_id, count(*) AS n_ver, min(old_id) AS best_match
                      FROM ver_g1 GROUP BY new_id) v
             ON d.doc_id = v.new_id),
       w1 AS (
         SELECT d.doc_id AS new_doc_id,
                CAST(coalesce(c.n_cand, 0) AS BIGINT) AS n_candidates,
                CAST(coalesce(v.n_ver, 0) AS BIGINT) AS n_verified,
                CASE WHEN v.new_id IS NOT NULL THEN 'duplicate' ELSE 'unique' END AS verdict,
                v.best_match
         FROM (SELECT doc_id FROM documents WHERE doc_id % 14 = 12) d
           LEFT JOIN (SELECT new_id, count(*) AS n_cand FROM cand_g3 GROUP BY new_id) c
             ON d.doc_id = c.new_id
           LEFT JOIN (SELECT new_id, count(*) AS n_ver, min(old_id) AS best_match
                      FROM ver_g3 GROUP BY new_id) v
             ON d.doc_id = v.new_id)
       SELECT wave, generation, new_doc_id, n_candidates, n_verified, verdict, best_match
       FROM (
         SELECT CAST(0 AS BIGINT) AS wave, CAST(1 AS BIGINT) AS generation, * FROM w0
         UNION ALL
         SELECT 1, 3, * FROM w1
         UNION ALL
         SELECT 2, 3, CAST(-1 AS BIGINT),
                (SELECT count(*) FROM bands WHERE doc_id % 7 != 3),
                CAST(3 AS BIGINT), 'spec_32', CAST(NULL AS BIGINT))
       ORDER BY wave, new_doc_id""") { (s, d) =>
    import graft.ops.{Dedup, Incremental}
    val docs = Tables.documents(s, d)
    val (buckets, shingles) = Dedup.lshBucketsAndShingles(docs, "doc_id", "text",
      shingleWords = 3, bands = 4, rowsPerBand = 2)
    val t1 = "graft_band_s42_" + graft.Scratch.nameTag()
    Dedup.writeBandIndex(s, buckets.filter(col("id") % 7 =!= 5), t1, Some(8))
    val cat = graft.Scratch.dir("graft_s42_cat") + "/index.catalog"
    Incremental.publishCatalogVersioned(cat, Seq(t1, "8"))
    s42Catalog = cat
    val allShingles = shingles
    val watched = graft.Scratch.dir("graft_s42_watched")
    val outDir = graft.Scratch.dir("graft_s42_out")
    val ckpt = graft.Scratch.dir("graft_s42_ckpt")
    val s42NonEmpty = new java.util.concurrent.atomic.AtomicLong(0L)
    (0 to 1).foreach { b =>
      val tmp = graft.Scratch.dir(s"graft_s42_wave$b")
      docs.filter(col("doc_id") % 14 === lit(5L + 7L * b))
        .select(col("doc_id"), col("text").as("t"))
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        new java.io.File(watched, s"arrival$b.parquet").toPath)
      val q = s.readStream
        .schema(StructType(Seq(StructField("doc_id", LongType),
          StructField("t", StringType))))
        .parquet(watched)
        .writeStream
        .outputMode(OutputMode.Append())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          if (!batch.isEmpty) {
            require(s42NonEmpty.getAndIncrement() == b.toLong,
              s"s42 wave $b saw a second non-empty micro-batch ($batchId): " +
                "one-file-one-batch broken")
            // resolve (handle, bucket spec) atomically; probe-then-append
            // to the resolved handle at its stored spec
            val lines = Incremental.resolveCatalog(cat, expect = 2)
            val gen = Incremental.currentCatalogVersion(cat)
            val (bBuckets, _) = Dedup.lshBucketsAndShingles(
              batch.toDF(), "doc_id", "t",
              shingleWords = 3, bands = 4, rowsPerBand = 2)
            val bB = bBuckets.localCheckpoint(true)
            val cand = Dedup.probeBandIndex(s, lines.head, bB)
            val candN = cand.groupBy(col("id_a").as("new_id"))
              .agg(count(lit(1)).as("n_cand"))
            val verN = Dedup.jaccardVerifiedPairs(cand, allShingles, tau = 0.5)
              .groupBy(col("id_a").as("new_id"))
              .agg(count(lit(1)).as("n_ver"), min(col("id_b")).as("best_match"))
            batch.toDF().select(col("doc_id").as("new_doc_id"))
              .join(candN, col("new_doc_id") === candN("new_id"), "left")
              .join(verN, col("new_doc_id") === verN("new_id"), "left")
              .select(lit(b.toLong).as("wave"), lit(gen.toLong).as("generation"),
                col("new_doc_id"),
                coalesce(col("n_cand"), lit(0L)).as("n_candidates"),
                coalesce(col("n_ver"), lit(0L)).as("n_verified"),
                when(verN("new_id").isNotNull, "duplicate")
                  .otherwise("unique").as("verdict"),
                col("best_match"))
              .write.mode("append").parquet(outDir)
            Dedup.appendBandIndex(s, bB, lines.head)
          }
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      if (b == 0) {
        // the maintenance window: migration and compaction racing from
        // the same snapshot on REAL threads, both through the CAS loop —
        // exactly one wins v2, the loser re-applies on top and wins v3
        val tomb = docs.filter(col("doc_id") % 7 === 3).select(col("doc_id").as("id"))
        val start = new java.util.concurrent.CountDownLatch(1)
        val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
        def publisher(body: (Int, Seq[String]) => Seq[String]): Thread =
          new Thread(() => {
            start.await()
            try Incremental.commitCatalogCas(cat, maxAttempts = 10)(body): Unit
            catch { case t: Throwable => failures.add(t): Unit }
          })
        val migrate = publisher { (_, cur) =>
          Seq(Dedup.migrateBandIndex(s, cur.head, 32, "s42m"), "32")
        }
        val compact = publisher { (_, cur) =>
          Seq(Dedup.compactBandIndex(s, cur.head, tomb, "s42c"),
            cur(1))
        }
        migrate.start(); compact.start(); start.countDown()
        migrate.join(); compact.join()
        require(failures.isEmpty, s"racing maintenance failed: ${failures.peek()}")
        require(Incremental.currentCatalogVersion(cat) == 3,
          "both publishers must survive: one wins v2, the retry wins v3")
        require(Incremental.resolveCatalog(cat, expect = 2)(1) == "32",
          "the migrated spec must survive whichever publisher won the race")
      }
    }
    // the closing census: final content, version count, resolved spec
    val fin = Incremental.resolveCatalog(cat, expect = 2)
    import s.implicits._
    val storeRow = Seq((2L, 3L, -1L, s.table(fin.head).count(),
      Incremental.catalogVersions(cat).size.toLong,
      "spec_" + fin(1), Option.empty[Long]))
      .toDF("wave", "generation", "new_doc_id", "n_candidates",
        "n_verified", "verdict", "best_match")
    s.read.parquet(outDir).unionByName(storeRow)
      .orderBy("wave", "new_doc_id")
  }

  /** Catalog path of the most recent s42 run (test-only introspection). */
  @volatile private[graft] var s42Catalog: String = _

  /** Whether the most recent s41 run's drift gate fired (test-only). */
  @volatile private[graft] var s41Acted: Boolean = false

  /** Catalog path of the most recent s41 run (test-only introspection). */
  @volatile private[graft] var s41Catalog: String = _

  /** s43 — STREAMING CELL-GROWTH GATE: d73's census → pinned budget →
    * sizing ladder → CAS-published cell migration, run where a real
    * deployment runs it — inside a live vector-ingest stream's
    * maintenance window. The last gated maintenance family (vectors
    * d61→d62→s37, layout d65→d64, tokenizer t54→t30→s41, cells
    * d73/d74) gets its streaming drill: the gate's input is a store
    * that has ABSORBED mid-stream appends, and the layout decision it
    * publishes must be picked up by the very next micro-batch.
    *
    * Two ingest waves (the s39 one-file-one-batch discipline). Every
    * micro-batch resolves the CURRENT (handle, cells) through the
    * catalog, assigns its arrivals against the resolved generation's
    * OWN stored centroids (`cid < cells` — the store-fed d73
    * discipline), probes top-3 cosine through the resolved store
    * (probe-then-append: nothing ranks against itself), then appends at
    * the resolved generation's bucket count — so a wave-1 append onto a
    * migrated 16-bucket generation writes 16-bucket files and the
    * exchange-free probe layout survives the migration. The maintenance
    * window between waves runs d73's census over the store (base PLUS
    * the wave-0 ingest — 488 rows holds at sf0.001/0.01, 1950 fires at
    * sf0.1 → 16 cells), and a fired gate CAS-publishes the migrated
    * generation mid-stream; wave 1 then probes THROUGH the new layout
    * (its queries assigned against 16 stored centroids, candidates =
    * the re-laid base ∪ wave-0 population). The oracle recomputes both
    * waves' rankings and the gate row from the raw fixture — a stale
    * generation resolved after the swap, a dropped mid-stream append, a
    * mis-assigned vector in the migration, or a wrong ladder target is
    * a hash mismatch. RoundFifteenSpec asserts the physical outcomes
    * (hold: one generation, 8 buckets; fire: a 16-cell 16-bucket v2
    * with the wave-1 append inside it). */
  private val s43 = Q(
    "s43_stream_cell_growth_gate",
    """WITH e AS (
         SELECT vec_id,
                list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
         FROM embeddings),
       n AS MATERIALIZED (
         SELECT vec_id, v, CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS n2 FROM e),
       cents8 AS (SELECT vec_id AS cent_id, v AS cv FROM n WHERE vec_id < 8),
       assign8 AS MATERIALIZED (
         SELECT vec_id, cent_id AS cell FROM (
           SELECT n.vec_id, c.cent_id,
                  row_number() OVER (PARTITION BY n.vec_id
                    ORDER BY CAST(list_sum(list_transform(generate_series(1, 64), i -> n.v[i] * c.cv[i])) AS BIGINT) DESC,
                             c.cent_id) AS rn
           FROM n, cents8 c) t WHERE rn = 1),
       w0 AS (
         SELECT CAST(0 AS BIGINT) AS wave, qa.vec_id AS qid, qa.cell,
                ca.vec_id AS cid,
                CAST(list_sum(list_transform(generate_series(1, 64), i -> qn.v[i] * cn.v[i])) AS BIGINT)
                  / (sqrt(qn.n2) * sqrt(cn.n2)) AS cos
         FROM assign8 qa
         JOIN assign8 ca ON ca.cell = qa.cell
         JOIN n qn ON qn.vec_id = qa.vec_id
         JOIN n cn ON cn.vec_id = ca.vec_id
         WHERE qa.vec_id % 40 = 19
           AND ca.vec_id % 40 <> 19 AND ca.vec_id % 40 <> 39),
       census AS MATERIALIZED (
         SELECT CAST(sum(c) AS BIGINT) AS n_rows, count(*) AS n_cells,
                CAST(max(c) AS BIGINT) AS max_cell_rows
         FROM (SELECT cell, count(*) AS c FROM assign8
               WHERE vec_id % 40 <> 39 GROUP BY cell)),
       gate AS MATERIALIZED (
         SELECT n_rows, n_cells, max_cell_rows,
                n_rows >= 128 * 8 AS acted,
                CAST(8 AS BIGINT) AS cells_pre,
                CAST(CASE WHEN n_rows < 128 * 8 THEN 8
                          WHEN n_rows < 128 * 16 THEN 16
                          WHEN n_rows < 128 * 32 THEN 32
                          WHEN n_rows < 128 * 64 THEN 64
                          WHEN n_rows < 128 * 128 THEN 128
                          WHEN n_rows < 128 * 256 THEN 256
                          WHEN n_rows < 128 * 512 THEN 512
                          ELSE 1024 END AS BIGINT) AS cells_post
         FROM census),
       centsc AS (
         SELECT vec_id AS cent_id, v AS cv FROM n
         WHERE vec_id < (SELECT CASE WHEN acted THEN cells_post ELSE cells_pre END FROM gate)),
       assignc AS MATERIALIZED (
         SELECT vec_id, cent_id AS cell FROM (
           SELECT n.vec_id, c.cent_id,
                  row_number() OVER (PARTITION BY n.vec_id
                    ORDER BY CAST(list_sum(list_transform(generate_series(1, 64), i -> n.v[i] * c.cv[i])) AS BIGINT) DESC,
                             c.cent_id) AS rn
           FROM n, centsc c) t WHERE rn = 1),
       w1 AS (
         SELECT CAST(1 AS BIGINT) AS wave, qa.vec_id AS qid, qa.cell,
                ca.vec_id AS cid,
                CAST(list_sum(list_transform(generate_series(1, 64), i -> qn.v[i] * cn.v[i])) AS BIGINT)
                  / (sqrt(qn.n2) * sqrt(cn.n2)) AS cos
         FROM assignc qa
         JOIN assignc ca ON ca.cell = qa.cell
         JOIN n qn ON qn.vec_id = qa.vec_id
         JOIN n cn ON cn.vec_id = ca.vec_id
         WHERE qa.vec_id % 40 = 39
           AND ca.vec_id % 40 <> 39),
       pr AS (
         SELECT wave, qid, cell, cid, cos,
                row_number() OVER (PARTITION BY wave, qid ORDER BY cos DESC, cid) AS rank
         FROM (SELECT * FROM w0 UNION ALL SELECT * FROM w1))
       SELECT phase, n_rows, n_cells, max_cell_rows, acted, cells_pre, cells_post,
              wave, qid, cell, cid, CAST(rank AS BIGINT) AS rank, cosine
       FROM (
         SELECT 'gate' AS phase, n_rows, n_cells, max_cell_rows, acted,
                cells_pre, cells_post,
                CAST(NULL AS BIGINT) AS wave, CAST(NULL AS BIGINT) AS qid,
                CAST(NULL AS BIGINT) AS cell, CAST(NULL AS BIGINT) AS cid,
                CAST(NULL AS BIGINT) AS rank, CAST(NULL AS DOUBLE) AS cosine
         FROM gate
         UNION ALL
         SELECT 'probe', CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                CAST(NULL AS BIGINT), CAST(NULL AS BOOLEAN),
                CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                wave, qid, cell, cid, rank, round(cos, 6)
         FROM pr WHERE rank <= 3)
       ORDER BY phase, wave, qid, rank""") { (s, d) =>
    import graft.ops.{Dedup, Incremental, Similarity}
    import graft.ops.Similarity.{norm2Q, quantize}
    graft.functions.LongDot.register(s)
    graft.plans.TopKPerGroup.install(s)
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), quantize(col("embedding")).as("v"))
      .withColumn("n2", norm2Q(col("v")))
    // generation 1: the base corpus (both arrival classes withheld) at
    // the 8-cell seed layout, published as (handle, cells)
    val base = e.filter(col("vec_id") % 40 =!= 19 && col("vec_id") % 40 =!= 39)
    val t1 = Similarity.writeIvfIndex(s,
      Dedup.reuse(Similarity.ivfAssign(base)), "ivf_s43")
    val cat = graft.Scratch.dir("graft_s43_cat") + "/index.catalog"
    Incremental.publishCatalogVersioned(cat, Seq(t1, "8"))
    s43Catalog = cat
    val watched = graft.Scratch.dir("graft_s43_watched")
    val outDir = graft.Scratch.dir("graft_s43_out")
    val ckpt = graft.Scratch.dir("graft_s43_ckpt")
    val s43NonEmpty = new java.util.concurrent.atomic.AtomicLong(0L)
    var gateRow: (Long, Long, Long, Boolean, Long, Long) = null
    (0 to 1).foreach { b =>
      val tmp = graft.Scratch.dir(s"graft_s43_wave$b")
      Tables.embeddings(s, d).filter(col("vec_id") % 40 === lit(19L + 20L * b))
        .select(col("vec_id"), col("embedding"))
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        new java.io.File(watched, s"arrival$b.parquet").toPath)
      val q = s.readStream
        .schema(StructType(Seq(StructField("vec_id", LongType),
          StructField("embedding", ArrayType(FloatType)))))
        .parquet(watched)
        .writeStream
        .outputMode(OutputMode.Append())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          if (!batch.isEmpty) {
            require(s43NonEmpty.getAndIncrement() == b.toLong,
              s"s43 wave $b saw a second non-empty micro-batch ($batchId): " +
                "one-file-one-batch broken")
            // resolve the CURRENT layout: handle AND cell count — after
            // a fired gate this batch must see the migrated generation
            val h = Incremental.resolveCatalog(cat, expect = 2)
            val cells = h(1).toInt
            val cents = s.table(h.head).filter(col("cid") < cells)
              .select(col("cid").as("cent_id"), col("cv2").as("cv"))
            val bAssign = Similarity.ivfAssignAgainst(
              batch.toDF()
                .select(col("vec_id"), quantize(col("embedding")).as("v"))
                .withColumn("n2", norm2Q(col("v"))),
              cents).localCheckpoint(true)
            // probe-then-append through the resolved generation
            Similarity.probeIvfTopK(s, h.head,
                bAssign.select(col("vec_id").as("qid"), col("v").as("qv"),
                  col("n2").as("qn2"), col("cell").as("qcell")), k = 3)
              .select(lit(b.toLong).as("wave"), col("qid"), col("cell"),
                col("cid"), col("rank"), col("cosine"))
              .write.mode("append").parquet(outDir)
            // append to the resolved generation: a post-migration
            // append follows the migrated physical layout
            Similarity.appendIvfIndex(s, bAssign, h.head)
          }
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      if (b == 0) {
        // maintenance window: the d73 gate over the live store (which
        // has absorbed the wave-0 ingest) — census, pinned budget,
        // bounded ladder, CAS-published migration when it fires
        val cur = Incremental.resolveCatalog(cat, expect = 2)
        val cellsPre = cur(1).toInt
        val cRow = s.table(cur.head).groupBy("cell").agg(count(lit(1)).as("c"))
          .agg(sum(col("c")).as("n_rows"), count(lit(1)).as("n_cells"),
            max(col("c")).as("max_cell_rows")).head
        val (nRows, nCells, maxCell) =
          (cRow.getLong(0), cRow.getLong(1), cRow.getLong(2))
        val budget = 128L
        val acted = nRows >= budget * cellsPre
        val cellsPost = Seq(8, 16, 32, 64, 128, 256, 512)
          .find(c => nRows < budget * c).getOrElse(1024)
        if (acted) {
          val t2 = Similarity.migrateIvfIndexCells(s, cur.head, cellsPost, "s43m")
          Incremental.commitCatalogCas(cat) { (_, _) =>
            Seq(t2, cellsPost.toString)
          }: Unit
        }
        gateRow = (nRows, nCells, maxCell, acted, cellsPre.toLong, cellsPost.toLong)
      }
    }
    import s.implicits._
    val gate = Seq(gateRow)
      .toDF("n_rows", "n_cells", "max_cell_rows", "acted", "cells_pre", "cells_post")
      .select(lit("gate").as("phase"), col("n_rows"), col("n_cells"),
        col("max_cell_rows"), col("acted"), col("cells_pre"), col("cells_post"),
        lit(null).cast("long").as("wave"), lit(null).cast("long").as("qid"),
        lit(null).cast("long").as("cell"), lit(null).cast("long").as("cid"),
        lit(null).cast("long").as("rank"), lit(null).cast("double").as("cosine"))
    val probeRows = s.read.parquet(outDir)
      .select(lit("probe").as("phase"),
        lit(null).cast("long").as("n_rows"), lit(null).cast("long").as("n_cells"),
        lit(null).cast("long").as("max_cell_rows"),
        lit(null).cast("boolean").as("acted"),
        lit(null).cast("long").as("cells_pre"), lit(null).cast("long").as("cells_post"),
        col("wave"), col("qid"), col("cell"), col("cid"), col("rank"), col("cosine"))
    gate.unionByName(probeRows).orderBy("phase", "wave", "qid", "rank")
  }

  /** Catalog path of the most recent s43 run (test-only introspection). */
  @volatile private[graft] var s43Catalog: String = _

  val defs: Seq[Q] = Seq(s01, s02, s03, s04, s05, s06, s07, s08, s09, s10,
    s11, s12, s13, s14, s15, s16, s17, s18, s19, s20, s21, s22, s23, s24, s25,
    s26, s27, s28, s29, s30, s31, s32, s33, s34, s35, s36, s37, s38, s39, s40,
    s41, s42, s43)
}

/** s11's StatefulProcessor: cumulative (event count, value cents) per
  * user in a single ValueState cell. */
class UserTotalsProcessor
  extends org.apache.spark.sql.streaming.StatefulProcessor[Long, (Long, Long), (Long, Long, Long)] {
  import org.apache.spark.sql.streaming.{TimerValues, TTLConfig, ValueState}
  import org.apache.spark.sql.{Encoders, streaming}

  @transient private var totals: ValueState[(Long, Long)] = _

  override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
    totals = getHandle.getValueState[(Long, Long)]("totals",
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong), TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
      timerValues: TimerValues): Iterator[(Long, Long, Long)] = {
    var (n, cents) = if (totals.exists()) totals.get() else (0L, 0L)
    rows.foreach { case (_, c) => n += 1; cents += c }
    totals.update((n, cents))
    Iterator.single((key, n, cents))
  }
}
