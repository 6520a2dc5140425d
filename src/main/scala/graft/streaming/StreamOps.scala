package graft.streaming

import graft.Tables
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** Structured Streaming surface (north-star scope per SURVEY.md §2.6 — the
  * reference is batch-only; its lazy-cursor streaming flavor and per-run
  * keyed state map 1:1 onto Structured Streaming built-ins).
  */
object StreamOps {

  /** Event with microsecond epoch — the typed shape for stateful ops. */
  case class Event(event_id: Long, ts_us: Long, user_id: Long,
                   event_type: String, value: Double)

  case class UserSessions(user_id: Long, n_events: Long, n_sessions: Long)

  /** Streaming source over the events parquet: schema-adaptive `ts`
    * normalization (nanos-as-long, NTZ micros, or zoned micros — see
    * Tables.normalizeEventTs), directory + pathGlobFilter because the file
    * stream source needs a directory. The ONE ingest convention every
    * streaming query shares.
    */
  private def eventStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val rawSchema = spark.read.parquet(s"$dir/events.parquet").schema
    Tables.normalizeEventTs(
      spark.readStream.schema(rawSchema)
        .option("pathGlobFilter", "events.parquet").parquet(dir))
  }

  /** Runs `body` (which starts and finishes a streaming query) with
    * `spark.sql.shuffle.partitions` temporarily set to `n`, restoring the
    * previous value afterwards.
    *
    * Stateful streaming operators create one state store PER shuffle
    * partition, and the count is pinned into the checkpoint by the FIRST
    * micro-batch — so this is THE sizing knob for streaming state, and it
    * must be set before `start()`. Each store costs an init + delta-file
    * commit every batch, so the right value tracks the stream's keyed-state
    * volume, not the batch engine's scan parallelism: a handful for the
    * synchronous test harness here, hundreds on a production cluster where
    * per-store state must also fit an executor's memory.
    */
  private def withStatePartitions[A](spark: SparkSession, n: Int)(body: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    val prevProvider = spark.conf.getOption(StateStoreProviderKey)
    spark.conf.set(key, n.toString)
    // The battery-wide state-store knob: `spark.graft.stateStore=rocksdb`
    // switches EVERY harness query (windowed aggs, dedup, stream-stream
    // joins) onto the RocksDB provider — at 100 TB keyed state must live
    // off-heap/on-disk, not in an executor-heap HashMap. Results are
    // bit-identical under either provider (StateStoreSpec asserts);
    // transformWithState ops force RocksDB regardless (API requirement),
    // which an unset knob leaves untouched.
    if (spark.conf.getOption(GraftStateStoreConf)
        .exists(_.equalsIgnoreCase("rocksdb")))
      spark.conf.set(StateStoreProviderKey, RocksDbProvider)
    try body finally {
      spark.conf.set(key, prev)
      prevProvider match {
        case Some(v) => spark.conf.set(StateStoreProviderKey, v)
        case None => spark.conf.unset(StateStoreProviderKey)
      }
    }
  }

  /** Session conf selecting the state-store backend for the streaming
    * battery: "rocksdb" → RocksDB provider, anything else/unset → Spark's
    * default (HDFS-backed executor-heap maps).
    */
  val GraftStateStoreConf = "spark.graft.stateStore"
  private val StateStoreProviderKey =
    "spark.sql.streaming.stateStore.providerClass"
  private val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** State partitions for the synchronous harness queries below: the events
    * table is one file and every stateful op's keyed state fits trivially,
    * so per-store commit overhead dominates any parallelism win past this.
    */
  private val HarnessStateParts = 8

  /** End-of-run state-store footprint of ONE stateful operator: the
    * last micro-batch's StateOperatorProgress, the numbers a production
    * deployment alarms on (state that grows without bound = a missing
    * watermark or an unbounded join range — the failure mode that kills
    * a 100 TB streaming job weeks in, not in review).
    */
  case class StateOpMetrics(operator: String, rowsTotal: Long,
                            rowsUpdated: Long, rowsRemoved: Long,
                            memoryBytes: Long)

  /** Metrics of the most recent harness query (any of the ops in this
    * file), for SCALE.md ladders and ops dashboards: per stateful
    * operator, end-of-run state rows / bytes. Populated synchronously by
    * [[processAndRecord]] — no listener-bus race.
    */
  @volatile private var lastState: Seq[StateOpMetrics] = Nil
  def lastStateMetrics: Seq[StateOpMetrics] = lastState
  def resetStateMetrics(): Unit = lastState = Nil

  /** Drain an AvailableNow query synchronously and snapshot its state
    * metrics from the LAST progress carrying stateOperators (the final
    * no-data batch reports the settled post-eviction footprint; a query
    * with no stateful op records Nil).
    */
  private def processAndRecord(
      q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    q.processAllAvailable()
    lastState = q.recentProgress.reverseIterator
      .find(p => p.stateOperators != null && p.stateOperators.nonEmpty)
      .map(_.stateOperators.toSeq.map(so =>
        StateOpMetrics(so.operatorName, so.numRowsTotal, so.numRowsUpdated,
          so.numRowsRemoved, so.memoryUsedBytes)))
      .getOrElse(Nil)
  }

  /** Tumbling-window streaming aggregation, driven synchronously from the
    * static events parquet (memory sink + processAllAvailable — one
    * micro-batch). Returns the finished result as a batch DataFrame.
    */
  def hourlyCounts(spark: SparkSession, dir: String,
                   queryName: String = "graft_hourly"): DataFrame = {
    val agg = eventStream(spark, dir)
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("value_cents"))
    withStatePartitions(spark, HarnessStateParts) {
      val q = agg.writeStream
        .outputMode(OutputMode.Complete)
        .format("memory").queryName(queryName)
        .trigger(Trigger.AvailableNow())
        .start()
      processAndRecord(q)
      q.stop()
    }
    spark.table(queryName).select(
      date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour_str"),
      col("n"), col("value_cents"))
  }

  /** Aggregate the custom DSv2 micro-batch source
    * ([[graft.sources.SeqMicroBatchStream]]) to completion: `n` rows
    * drained in `batchRows`-sized admission-controlled triggers, bucketed
    * modulo-10 count/sum. Returns the finished batch DataFrame plus the
    * number of micro-batches the drain actually took (> 1 proves the
    * ReadLimit was honored — one trigger did NOT swallow the backlog).
    */
  def seqStreamAgg(spark: SparkSession, n: Long, parts: Int,
                   batchRows: Long,
                   queryName: String): (DataFrame, Long) = {
    val src = spark.readStream
      .format("graft.sources.SeqSourceProvider")
      .option("n", n.toString)
      .option("parts", parts.toString)
      .option("batchRows", batchRows.toString)
      .load()
    val agg = src.groupBy((col("id") % 10).as("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("val")).as("sum_val"))
    var batches = 0L
    withStatePartitions(spark, HarnessStateParts) {
      val q = agg.writeStream
        .outputMode(OutputMode.Complete)
        .format("memory").queryName(queryName)
        .trigger(Trigger.AvailableNow())
        .start()
      processAndRecord(q)
      batches = Option(q.lastProgress).map(_.batchId + 1).getOrElse(0L)
      q.stop()
    }
    (spark.table(queryName).select("bucket", "n", "sum_val"), batches)
  }

  /** Event-time windowed aggregation over the custom DSv2 micro-batch
    * source: each generated row gets a synthetic event time (epoch +
    * id seconds), the stream carries a watermark, and hourly windows
    * accumulate ACROSS the admission-controlled micro-batches — the
    * combination st20's stateless-complete shape doesn't exercise:
    * windowed state must merge correctly when one window's rows arrive
    * split over several triggers. Batch replay over the same derived
    * timestamps is the exact oracle.
    */
  def seqStreamWindowed(spark: SparkSession, n: Long, parts: Int,
                        batchRows: Long, epoch: Long,
                        queryName: String): (DataFrame, Long) = {
    val src = spark.readStream
      .format("graft.sources.SeqSourceProvider")
      .option("n", n.toString)
      .option("parts", parts.toString)
      .option("batchRows", batchRows.toString)
      .load()
      .withColumn("ts", timestamp_seconds(lit(epoch) + col("id")))
      .withWatermark("ts", "10 seconds")
    val agg = src.groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"), sum(col("val")).as("sum_val"))
    var batches = 0L
    withStatePartitions(spark, HarnessStateParts) {
      val q = agg.writeStream
        .outputMode(OutputMode.Complete)
        .format("memory").queryName(queryName)
        .trigger(Trigger.AvailableNow())
        .start()
      processAndRecord(q)
      batches = Option(q.lastProgress).map(_.batchId + 1).getOrElse(0L)
      q.stop()
    }
    (spark.table(queryName).select(
      date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
        .as("hour_str"),
      col("n"), col("sum_val")), batches)
  }

  /** Gap-based sessionization, batch form: sessions break when consecutive
    * events of a user are more than `gapSeconds` apart. Exact integer
    * (microsecond) comparisons throughout.
    *
    * Shape: `lag(ts) OVER (PARTITION BY user_id ORDER BY ts)` marks session
    * starts, then a per-user aggregate counts them. Everything stays in
    * whole-stage codegen with bounded memory (the window sorter spills),
    * and the aggregate reuses the window's hash partitioning — ONE shuffle
    * total. A `groupByKey.mapGroups` + in-memory sort would hold each user's
    * whole event array on the heap: fine until one user has 10M events.
    */
  def sessionizeBatch(spark: SparkSession, events: DataFrame,
                      gapSeconds: Long): Dataset[UserSessions] = {
    import spark.implicits._
    val gapUs = gapSeconds * 1000000L
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    events.select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"))
      .withColumn("prev_us", lag(col("ts_us"), 1).over(w))
      .withColumn("session_start",
        when(col("prev_us").isNull || col("ts_us") - col("prev_us") > gapUs,
          1L).otherwise(0L))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("session_start")).as("n_sessions"))
      .as[UserSessions]
  }

  /** Streaming exact dedup on a keyed stream with a watermark bounding the
    * dedup state — the Structured Streaming analogue of the reference's
    * per-run uniqueness cache (sdk/src/ETLTask.php:31-53): keys older than
    * the watermark age out of the state store instead of growing forever
    * (the reference ran with memory_limit=-1 and no eviction).
    */
  def streamingDedup(events: DataFrame, keyCols: Seq[String],
                     watermarkCol: String, delay: String): DataFrame =
    events.withWatermark(watermarkCol, delay)
      .dropDuplicates(keyCols :+ watermarkCol)

  /** Streaming dedup on the KEY ALONE with
    * `dropDuplicatesWithinWatermark` (Spark 3.5+): unlike
    * [[streamingDedup]] — which must include the event time in the key to
    * let state age out — this deduplicates on just `keyCols` while the
    * watermark still bounds state lifetime (a key re-admits once its
    * first sighting ages past the delay). The right semantics for
    * at-least-once sources whose duplicates arrive close together but
    * carry DIFFERENT timestamps — exactly the case the plain key+time
    * dedup misses. Driven synchronously; counts survivors per type.
    */
  def streamingDedupWithinWatermark(spark: SparkSession, dir: String,
                                    queryName: String): DataFrame = {
    val stream = eventStream(spark, dir)
    val deduped = stream.select(col("user_id"), col("event_type"), col("ts"))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark(Seq("user_id", "event_type"))
    val agg = deduped.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    withStatePartitions(spark, HarnessStateParts) {
      val q = agg.writeStream
        .outputMode(OutputMode.Complete)
        .format("memory").queryName(queryName)
        .trigger(Trigger.AvailableNow())
        .start()
      processAndRecord(q)
      q.stop()
    }
    spark.table(queryName)
  }

  /** Stream-static join: the streaming fact joins a static dimension
    * per micro-batch (no state, no watermark needed — the static side is
    * re-planned each batch). Driven synchronously from the events parquet;
    * returns the finished aggregation as a batch frame.
    */
  def streamStaticSegmentCounts(spark: SparkSession, dir: String,
                                queryName: String): DataFrame = {
    val stream = eventStream(spark, dir)
    val dim = graft.Tables.load(spark, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    val joined = stream.join(dim, stream("user_id") === dim("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"))
    withStatePartitions(spark, HarnessStateParts) {
      val q = joined.writeStream
        .outputMode(OutputMode.Complete)
        .format("memory").queryName(queryName)
        .trigger(Trigger.AvailableNow())
        .start()
      processAndRecord(q)
      q.stop()
    }
    spark.table(queryName)
  }

  /** Streaming SCD2 enrichment: each event joins the (static, broadcast)
    * slowly-changing-dimension row CURRENT at its event time — the
    * classic click-stream-enrichment shape. The dimension here is the
    * per-customer order-priority history derived change-on-write from
    * `orders` (the scd2_temporal_lookup construction), with the LAST
    * interval left OPEN-ENDED — the "current record valid until further
    * notice" SCD2 convention — so live events (whose times are after the
    * dimension's last change) enrich with the latest value rather than
    * falling off the end of the history.
    *
    * Stateless per micro-batch: a stream-static broadcast hash join on
    * the customer key with the interval containment as residual — no
    * streaming state at all, which is what makes the shape hold at any
    * stream rate (the scaling knob is the dimension snapshot's broadcast
    * size, refreshed per batch on a real cluster).
    */
  def streamTemporalLookup(spark: SparkSession, dir: String,
                           queryName: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("custkey").orderBy("o_orderdate", "o_orderkey")
    val hist = Tables.load(spark, dir, "orders")
      .select(col("o_custkey").as("custkey"), col("o_orderdate"),
        col("o_orderkey"), col("o_orderpriority"))
      .withColumn("prev", lag(col("o_orderpriority"), 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("o_orderpriority"))
      .withColumn("from_day",
        datediff(to_date(col("o_orderdate")), lit("1970-01-01")))
      .withColumn("to_incl",
        coalesce(
          datediff(to_date(lead(col("o_orderdate"), 1).over(w)),
            lit("1970-01-01")) - 1,
          lit(Int.MaxValue)))
      .select("custkey", "o_orderpriority", "from_day", "to_incl")
    val stream = eventStream(spark, dir)
      .withColumn("event_day",
        datediff(to_date(col("ts")), lit("1970-01-01")))
      .select(col("event_id"), col("user_id"), col("event_day"))
    val joined = stream.join(broadcast(hist),
        col("user_id") === col("custkey") &&
          col("event_day") >= col("from_day") &&
          col("event_day") <= col("to_incl"))
      .select(col("event_id"), col("user_id"),
        col("o_orderpriority").as("priority"))
    withStatePartitions(spark, HarnessStateParts) {
      val q = joined.writeStream
        .outputMode(OutputMode.Append)
        .format("memory").queryName(queryName)
        .trigger(Trigger.AvailableNow())
        .start()
      processAndRecord(q)
      q.stop()
    }
    spark.table(queryName)
  }

  case class SessionState(startUs: Long, lastUs: Long, n: Long)
  case class CompletedSession(user_id: Long, start_us: Long, end_us: Long,
                              n_events: Long)

  /** Streaming sessionization via flatMapGroupsWithState: per-user sessions
    * close when a later event arrives more than `gapSeconds` after the
    * session's last event, and are emitted as completed rows — custom keyed
    * state, the fully general stateful-streaming surface (SURVEY.md §2.6
    * north star).
    *
    * State per key is one fixed-size SessionState — bounded memory per user
    * regardless of stream length. Pass
    * `GroupStateTimeout.ProcessingTimeTimeout` in production to also evict
    * idle keys (closing their sessions after wall-clock inactivity); the
    * default NoTimeout keeps session closure purely data-driven, which is
    * also what synchronous `processAllAvailable` test harnesses need — a
    * processing-time timeout makes the stream never "complete".
    */
  def streamingSessions(events: Dataset[Event], gapSeconds: Long,
                        timeout: GroupStateTimeout =
                          GroupStateTimeout.NoTimeout()):
      Dataset[CompletedSession] = {
    import events.sparkSession.implicits._
    val gapUs = gapSeconds * 1000000L
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, CompletedSession](
        OutputMode.Append, timeout) {
        (uid: Long, batch: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(CompletedSession(uid, s.startUs, s.lastUs, s.n))
          } else {
            val sorted = batch.toSeq.sortBy(e => (e.ts_us, e.event_id))
            var completed = List.empty[CompletedSession]
            var cur = state.getOption
            sorted.foreach { e =>
              cur match {
                case Some(s) if e.ts_us - s.lastUs <= gapUs =>
                  cur = Some(s.copy(lastUs = e.ts_us, n = s.n + 1))
                case Some(s) =>
                  completed ::= CompletedSession(uid, s.startUs, s.lastUs, s.n)
                  cur = Some(SessionState(e.ts_us, e.ts_us, 1))
                case None =>
                  cur = Some(SessionState(e.ts_us, e.ts_us, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              if (timeout == GroupStateTimeout.ProcessingTimeTimeout())
                state.setTimeoutDuration(gapSeconds * 1000)
            }
            completed.reverseIterator
          }
      }
  }

  /** Streaming exact dedup + aggregation driven synchronously from the
    * static events parquet: drop duplicate (user_id, event_type, ts)
    * events under a watermark, then count survivors per type — the
    * watermark bounds the dedup state store (keys older than the delay age
    * out), which is what makes exact streaming dedup viable at 100 TB.
    */
  def streamingDedupCounts(spark: SparkSession, dir: String,
                           queryName: String): DataFrame = {
    val stream = eventStream(spark, dir)
    val deduped = streamingDedup(stream.select("user_id", "event_type", "ts"),
      Seq("user_id", "event_type"), "ts", "1 hour")
    val agg = deduped.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    withStatePartitions(spark, HarnessStateParts) {
      val q = agg.writeStream
        .outputMode(OutputMode.Complete)
        .format("memory").queryName(queryName)
        .trigger(Trigger.AvailableNow())
        .start()
      processAndRecord(q)
      q.stop()
    }
    spark.table(queryName)
  }

  /** COMPLETED sessions from the custom-state streaming path, driven
    * synchronously from the static events parquet: one micro-batch feeds
    * every event through [[streamingSessions]] (flatMapGroupsWithState),
    * so the emitted rows are exactly each user's sessions that were CLOSED
    * by a later in-batch event — the last (still-open) session per user
    * stays in the state store. Deterministic, hence oracle-checkable: the
    * SQL mirror computes gap-sessions and drops each user's last.
    */
  def streamingSessionsBatch(spark: SparkSession, dir: String,
                             gapSeconds: Long,
                             queryName: String): DataFrame = {
    import spark.implicits._
    val events = eventStream(spark, dir)
      .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("user_id"), col("event_type"), col("value"))
      .as[Event]
    withStatePartitions(spark, HarnessStateParts) {
      val q = streamingSessions(events, gapSeconds).toDF()
        .writeStream
        .outputMode(OutputMode.Append)
        .format("memory").queryName(queryName)
        .trigger(Trigger.AvailableNow())
        .start()
      processAndRecord(q)
      q.stop()
    }
    spark.table(queryName)
  }

  /** Per-user running totals (event count + exact value cents). */
  case class UserTotal(user_id: Long, n: Long, value_cents: Long)

  /** [[UserTotal]] accumulation as a [[StatefulProcessor]] — the
    * `transformWithState` arbitrary-state API (Spark 4), successor to
    * mapGroupsWithState: typed per-key state (Value/List/Map) obtained
    * from a handle at init, optional TTL, timers, and a RocksDB-backed
    * store. Cents are accumulated with the SAME rounding Spark's `round`
    * applies (BigDecimal HALF_UP on the canonical double), so the final
    * state is bit-equal to the batch aggregate.
    */
  private class RunningTotals
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, Event, UserTotal] {
    @transient private var totals:
        org.apache.spark.sql.streaming.ValueState[UserTotal] = _
    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode):
        Unit =
      totals = getHandle.getValueState[UserTotal]("totals",
        org.apache.spark.sql.Encoders.product[UserTotal],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Event],
        timerValues: org.apache.spark.sql.streaming.TimerValues):
        Iterator[UserTotal] = {
      var cur =
        if (totals.exists()) totals.get() else UserTotal(key, 0L, 0L)
      rows.foreach { e =>
        val cents = java.math.BigDecimal.valueOf(e.value * 100)
          .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
        cur = UserTotal(key, cur.n + 1, cur.value_cents + cents)
      }
      totals.update(cur)
      Iterator.single(cur)
    }
  }

  /** Gap-sessionization with EVENT-TIME TIMERS — the full
    * transformWithState surface: sessions that close within a batch (a
    * later event exceeds the gap) emit from `handleInputRows`; the open
    * tail registers a timer at last + gap, and `handleExpiredTimer` seals
    * it once the WATERMARK passes — the mechanism that closes idle
    * sessions on an unbounded stream without waiting for the user's next
    * event (mapGroupsWithState could only do this with processing-time
    * timeouts, which are wall-clock nondeterministic; event-time timers
    * are replayable). Timers are millisecond-resolution: expiry =
    * floor(last_us / 1000) + gap_ms.
    */
  private class TimerSessions(gapSeconds: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, Event, CompletedSession] {
    @transient private var sess:
        org.apache.spark.sql.streaming.ValueState[SessionState] = _
    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode):
        Unit =
      sess = getHandle.getValueState[SessionState]("sess",
        org.apache.spark.sql.Encoders.product[SessionState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(uid: Long, rows: Iterator[Event],
        timerValues: org.apache.spark.sql.streaming.TimerValues):
        Iterator[CompletedSession] = {
      val gapUs = gapSeconds * 1000000L
      val sorted = rows.toSeq.sortBy(e => (e.ts_us, e.event_id))
      var completed = List.empty[CompletedSession]
      var cur = if (sess.exists()) Some(sess.get()) else None
      sorted.foreach { e =>
        cur match {
          case Some(s) if e.ts_us - s.lastUs <= gapUs =>
            cur = Some(s.copy(lastUs = e.ts_us, n = s.n + 1))
          case Some(s) =>
            completed ::= CompletedSession(uid, s.startUs, s.lastUs, s.n)
            cur = Some(SessionState(e.ts_us, e.ts_us, 1))
          case None =>
            cur = Some(SessionState(e.ts_us, e.ts_us, 1))
        }
      }
      cur.foreach { s =>
        sess.update(s)
        // drop any timer from a previous batch first: a stale (earlier)
        // timer would otherwise fire while the session is still open and
        // seal it early — invisible in a one-batch harness, wrong on a
        // live stream
        getHandle.listTimers().foreach(t =>
          getHandle.deleteTimer(t.asInstanceOf[Long]))
        getHandle.registerTimer(s.lastUs / 1000 + gapSeconds * 1000)
      }
      completed.reverseIterator
    }
    override def handleExpiredTimer(uid: Long,
        timerValues: org.apache.spark.sql.streaming.TimerValues,
        info: org.apache.spark.sql.streaming.ExpiredTimerInfo):
        Iterator[CompletedSession] =
      if (sess.exists()) {
        val s = sess.get()
        sess.clear()
        Iterator.single(CompletedSession(uid, s.startUs, s.lastUs, s.n))
      } else Iterator.empty
  }

  /** [[TimerSessions]] driven synchronously: batch 0 processes the corpus
    * (in-batch-closed sessions emit), then the final watermark
    * (max ts − delay) expires timers and seals idle tails. Deterministic —
    * a session emits iff a later event closed it OR its timer
    * (floor(last_us/1000) + gap_ms) is below the final watermark — hence
    * oracle-checkable like st6/st8.
    */
  def timerSessionsBatch(spark: SparkSession, dir: String,
                         gapSeconds: Long, delaySeconds: Long,
                         queryName: String): DataFrame = {
    import spark.implicits._
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
    try {
      val events = eventStream(spark, dir)
        .withWatermark("ts", s"$delaySeconds seconds")
        .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
          col("user_id"), col("event_type"), col("value"))
        .as[Event]
      val out = events.groupByKey(_.user_id)
        .transformWithState(new TimerSessions(gapSeconds),
          org.apache.spark.sql.streaming.TimeMode.EventTime(),
          OutputMode.Append())
      withStatePartitions(spark, HarnessStateParts) {
        val q = out.toDF().writeStream
          .outputMode(OutputMode.Append)
          .format("memory").queryName(queryName)
          .trigger(Trigger.AvailableNow())
          .start()
        processAndRecord(q)
        q.stop()
      }
      spark.table(queryName)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  /** (ts_us, event_id) pair held in a recent-events list. */
  case class RecentEvent(ts_us: Long, event_id: Long)

  /** Last-3 events per user flattened to columns. */
  case class RecentRow(user_id: Long, e1: Long, e2: Long, e3: Long)

  /** Bounded recent-events buffer as a ListState — the third
    * transformWithState primitive after ValueState (st11) and timers
    * (st13): the state is a LIST the store reads/writes incrementally
    * (append without rewriting the whole value — on RocksDB a merge op),
    * the right shape for bounded per-key buffers like "last k events",
    * dedup rings, or replay windows. The buffer is re-truncated to k on
    * every batch, so state is O(k) per key forever.
    */
  private class RecentEvents(k: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, Event, RecentRow] {
    @transient private var recent:
        org.apache.spark.sql.streaming.ListState[RecentEvent] = _
    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode):
        Unit =
      recent = getHandle.getListState[RecentEvent]("recent",
        org.apache.spark.sql.Encoders.product[RecentEvent],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(uid: Long, rows: Iterator[Event],
        timerValues: org.apache.spark.sql.streaming.TimerValues):
        Iterator[RecentRow] = {
      val merged = (recent.get().toSeq ++
        rows.map(e => RecentEvent(e.ts_us, e.event_id)))
        .sortBy(r => (-r.ts_us, -r.event_id))
        .take(k)
      recent.put(merged.toArray)
      def idAt(i: Int): Long =
        if (i < merged.length) merged(i).event_id else -1L
      Iterator.single(RecentRow(uid, idAt(0), idAt(1), idAt(2)))
    }
  }

  /** Last-3 events per user via [[RecentEvents]], driven synchronously —
    * one Update-mode batch leaves one row per user, equal to the batch
    * top-3-by-recency (ties broken by event id, mirrored in the oracle).
    */
  def recentEventsBatch(spark: SparkSession, dir: String,
                        queryName: String): DataFrame = {
    import spark.implicits._
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
    try {
      val events = eventStream(spark, dir)
        .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
          col("user_id"), col("event_type"), col("value"))
        .as[Event]
      val out = events.groupByKey(_.user_id)
        .transformWithState(new RecentEvents(3),
          org.apache.spark.sql.streaming.TimeMode.None(),
          OutputMode.Update())
      withStatePartitions(spark, HarnessStateParts) {
        val q = out.toDF().writeStream
          .outputMode(OutputMode.Update)
          .format("memory").queryName(queryName)
          .trigger(Trigger.AvailableNow())
          .start()
        processAndRecord(q)
        q.stop()
      }
      spark.table(queryName)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  /** Running per-user totals through `transformWithState`, driven
    * synchronously from the static events parquet. Update mode + one
    * AvailableNow micro-batch → exactly one output row per user, equal to
    * the batch aggregate (the determinism that lets this sit under the
    * oracle gate). Requires the RocksDB state store provider — the
    * transformWithState operator refuses the default HDFS-backed one —
    * which is also the production choice (changelog checkpointing, state
    * larger than heap).
    */
  /** One admitted event. */
  case class AdmittedRow(user_id: Long, event_id: Long)

  /** Last event seen per user — the carried state for transitions. */
  case class LastEvent(ts_us: Long, event_id: Long, event_type: String)

  /** One observed consecutive-event transition. */
  case class TransitionRow(from_type: String, to_type: String)

  /** Streaming twin of the batch transition matrix (`e15_transitions`):
    * a ValueState carries each user's LAST event across micro-batches, so
    * a transition spanning a batch boundary is still observed exactly
    * once — the property a per-batch window cannot give. Rows sort by
    * event time within the batch (arrival order is not event order);
    * emissions are the per-pair stream, aggregated downstream.
    *
    * Scale note: `rows.toSeq.sortBy` buffers ONE KEY's rows for ONE
    * micro-batch on the executor heap — fine at harness volume, but at
    * 100 TB a hot key's per-trigger volume can exceed memory. The
    * 1000-executor variant bounds the trigger (`maxFilesPerTrigger` /
    * `maxOffsetsPerTrigger`) so per-key-per-batch stays small, or accepts
    * within-batch arrival order (dropping the sort) when the source is
    * already time-ordered per key, as Kafka-by-key is. Same applies to
    * [[RateCap]] below.
    */
  private class Transitions
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, Event, TransitionRow] {
    @transient private var last:
        org.apache.spark.sql.streaming.ValueState[LastEvent] = _
    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode):
        Unit =
      last = getHandle.getValueState[LastEvent]("last",
        org.apache.spark.sql.Encoders.product[LastEvent],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(uid: Long, rows: Iterator[Event],
        timerValues: org.apache.spark.sql.streaming.TimerValues):
        Iterator[TransitionRow] = {
      val sorted = rows.toSeq.sortBy(e => (e.ts_us, e.event_id))
      if (sorted.isEmpty) Iterator.empty
      else {
        val prev = if (last.exists()) Some(last.get()) else None
        val head = sorted.head
        val carried = prev.map(p =>
          TransitionRow(p.event_type, head.event_type)).iterator
        val within = sorted.sliding(2).collect {
          case Seq(a, b) => TransitionRow(a.event_type, b.event_type)
        }
        val tail = sorted.last
        last.update(LastEvent(tail.ts_us, tail.event_id, tail.event_type))
        carried ++ within
      }
    }
  }

  /** Transition matrix via [[Transitions]], driven synchronously — equal
    * to the batch lead-window form, which is what the oracle computes.
    */
  def transitionsBatch(spark: SparkSession, dir: String,
                       queryName: String): DataFrame = {
    import spark.implicits._
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
    try {
      val events = eventStream(spark, dir)
        .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
          col("user_id"), col("event_type"), col("value"))
        .as[Event]
      val out = events.groupByKey(_.user_id)
        .transformWithState(new Transitions,
          org.apache.spark.sql.streaming.TimeMode.None(),
          OutputMode.Update())
      withStatePartitions(spark, HarnessStateParts) {
        val q = out.toDF().writeStream
          .outputMode(OutputMode.Update)
          .format("memory").queryName(queryName)
          .trigger(Trigger.AvailableNow())
          .start()
        processAndRecord(q)
        q.stop()
      }
      spark.table(queryName)
        .groupBy("from_type", "to_type")
        .agg(count(lit(1)).as("n"))
    } finally {
      prev match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  /** Streaming approximate distinct — HLL±± sketch state per group,
    * merged ACROSS micro-batches by Spark's partial-aggregation of the
    * sketch registers (order-insensitive max-merge, so the estimate is
    * identical to the batch sketch no matter how triggers split the
    * stream). The per-key state is O(sketch) — KBs per group forever —
    * where exact streaming distinct state grows with cardinality; this
    * is THE state-bound trade a 100 TB stream forces. Gate contract is
    * a7's envelope: exact count (recomputed batch-side) + a boolean
    * that flips if the sketch drifts past 5%.
    */
  def streamApproxDistinct(spark: SparkSession, dir: String,
                           queryName: String): DataFrame = {
    val agg = eventStream(spark, dir)
      .groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id")).as("approx_users"))
    withStatePartitions(spark, HarnessStateParts) {
      val q = agg.writeStream
        .outputMode(OutputMode.Complete)
        .format("memory").queryName(queryName)
        .trigger(Trigger.AvailableNow())
        .start()
      processAndRecord(q)
      q.stop()
    }
    val exact = graft.Tables.load(spark, dir, "events")
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_users"))
    spark.table(queryName).join(exact, "event_type")
      .select(col("event_type"), col("exact_users"),
        (abs(col("approx_users") - col("exact_users")) * 20 <=
          col("exact_users")).as("sketch_within_5pct"))
      .orderBy("event_type")
  }

  /** Streaming log-histogram quantiles — the a32 sketch accumulated
    * incrementally: each micro-batch folds its purchase values into the
    * (bucket, count) aggregation (Complete mode — the sketch IS the
    * aggregation state, bounded at 64·2^subBits rows regardless of
    * stream volume), and the final readout runs
    * [[graft.ops.LogHistogram.percentilesOfSketch]] over the drained
    * table. Because the sketch is a plain counting aggregation, the
    * incremental merge is exact: the gate shares a32's BATCH oracle
    * bit-for-bit — the mergeability claim, verified end-to-end.
    */
  def streamLogHistogram(spark: SparkSession, dir: String,
                         queryName: String): DataFrame = {
    val agg = eventStream(spark, dir)
      .filter(col("event_type") === "purchase" && col("value").isNotNull)
      .select(round(col("value") * 100).cast("long").as("v"))
      .filter(col("v") >= 0)
      .select(graft.ops.LogHistogram.bucketLow("v", 6).as("low"))
      .groupBy("low").agg(count(lit(1)).as("cnt"))
    withStatePartitions(spark, HarnessStateParts) {
      val q = agg.writeStream
        .outputMode(OutputMode.Complete)
        .format("memory").queryName(queryName)
        .trigger(Trigger.AvailableNow())
        .start()
      processAndRecord(q)
      q.stop()
    }
    graft.ops.LogHistogram.percentilesOfSketch(
      spark.table(queryName), Seq(5000, 9000, 9900))
  }

  /** Materialized CDC state per key: last applied change + live flag. */
  case class CdcState(lastEventId: Long, deleted: Boolean,
                      balCents: Long, nChanges: Long)

  /** One per-key CDC snapshot emission (per micro-batch). */
  case class CdcRow(user_id: Long, last_event_id: Long, deleted: Boolean,
                    bal_cents: Long, n_changes: Long)

  /** Streaming CDC APPLY — the materialized-view-maintenance shape of
    * the batch `j10_cdc_apply`: each user's change log (U upserts a new
    * balance, D tombstones the key; `event_id % 17 == 0` plays the
    * delete marker, as in j10) folds into a ValueState holding the
    * CURRENT row, and every micro-batch emits the key's post-batch
    * snapshot. A change sequence spanning batch boundaries materializes
    * identically to a batch replay — the exactly-once-per-key property
    * that makes a streaming CDC sink trustworthy. State is O(1) per key
    * (the current row, not the log), so keyed state scales with the
    * ENTITY count, not the change volume — the property that holds at
    * 100 TB of changes.
    */
  private class CdcApply
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, Event, CdcRow] {
    @transient private var st:
        org.apache.spark.sql.streaming.ValueState[CdcState] = _
    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode):
        Unit =
      st = getHandle.getValueState[CdcState]("cdc",
        org.apache.spark.sql.Encoders.product[CdcState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(uid: Long, rows: Iterator[Event],
        timerValues: org.apache.spark.sql.streaming.TimerValues):
        Iterator[CdcRow] = {
      // event order within the batch (see Transitions' scale note on
      // the per-key-per-batch buffer)
      val sorted = rows.toSeq.sortBy(e => (e.ts_us, e.event_id))
      if (sorted.isEmpty) Iterator.empty
      else {
        var cur = if (st.exists()) st.get()
          else CdcState(0L, deleted = true, 0L, 0L)
        sorted.foreach { e =>
          val del = e.event_id % 17 == 0
          // value arrives pre-rounded to cents (engine-side round(),
          // exact in a double) — no JVM-vs-SQL rounding divergence here
          cur = CdcState(e.event_id, del,
            if (del) 0L else e.value.toLong,
            cur.nChanges + 1)
        }
        st.update(cur)
        Iterator.single(CdcRow(uid, cur.lastEventId, cur.deleted,
          cur.balCents, cur.nChanges))
      }
    }
  }

  /** Live materialized rows via [[CdcApply]], driven synchronously; the
    * downstream picks each key's LAST emission (later batches supersede)
    * and drops tombstoned keys — equal to the batch last-change replay,
    * which is what the oracle computes.
    */
  def cdcApplyBatch(spark: SparkSession, dir: String,
                    queryName: String): DataFrame = {
    import spark.implicits._
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
    try {
      val events = eventStream(spark, dir)
        .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
          col("user_id"), col("event_type"),
          round(col("value") * 100).cast("long").cast("double").as("value"))
        .as[Event]
      val out = events.groupByKey(_.user_id)
        .transformWithState(new CdcApply,
          org.apache.spark.sql.streaming.TimeMode.None(),
          OutputMode.Update())
      withStatePartitions(spark, HarnessStateParts) {
        val q = out.toDF().writeStream
          .outputMode(OutputMode.Update)
          .format("memory").queryName(queryName)
          .trigger(Trigger.AvailableNow())
          .start()
        processAndRecord(q)
        q.stop()
      }
      // "latest emission" rank: n_changes is MONOTONE per key across
      // micro-batches (each batch's emission strictly increases it), so
      // it is the correct supersession key even when the source splits
      // into several batches; last_event_id is NOT — apply order is
      // (ts_us, event_id), and a later batch can apply a lower event_id
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("n_changes").desc)
      spark.table(queryName)
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .filter(!col("deleted"))
        .select(col("user_id"), col("bal_cents"), col("n_changes"))
    } finally {
      prev match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  /** Per-key per-hour RATE CAP as a MapState — the fourth
    * transformWithState primitive after ValueState (st11), timers (st13)
    * and ListState (st14): state is a MAP the store reads/writes by USER
    * KEY (hour bucket), so admitting an event touches one map entry, not
    * a monolithic value. Admits the first `k` events of each
    * (user, time bucket) in event order and drops the rest — the quota/throttle shape
    * (per-domain crawl caps, per-tenant ingest limits) that must behave
    * identically replayed in batch. In production the hour entries get a
    * TTL (TTLConfig) so state is O(active hours) per key; the synchronous
    * harness keeps NONE. The `rows.toSeq.sortBy` below buffers one key's
    * rows for one micro-batch on the heap — see the [[Transitions]] scale
    * note for the bounded-trigger / pre-ordered-source variants at 100 TB.
    */
  private class RateCap(k: Int, bucketUs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, Event, AdmittedRow] {
    @transient private var counts:
        org.apache.spark.sql.streaming.MapState[Long, Long] = _
    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode):
        Unit =
      counts = getHandle.getMapState[Long, Long]("hour_counts",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(uid: Long, rows: Iterator[Event],
        timerValues: org.apache.spark.sql.streaming.TimerValues):
        Iterator[AdmittedRow] = {
      // within-batch admission must follow event order, not file order
      rows.toSeq.sortBy(e => (e.ts_us, e.event_id)).flatMap { e =>
        val hour = e.ts_us / bucketUs
        val c = if (counts.containsKey(hour)) counts.getValue(hour) else 0L
        if (c < k) {
          counts.updateValue(hour, c + 1)
          Some(AdmittedRow(uid, e.event_id))
        } else None
      }.iterator
    }
  }

  /** Hourly rate cap via [[RateCap]], driven synchronously on RocksDB —
    * equal to the batch `row_number over (user, hour order by ts) <= k`,
    * which is what the oracle computes.
    */
  def rateCapBatch(spark: SparkSession, dir: String, k: Int,
                   bucketUs: Long, queryName: String): DataFrame = {
    import spark.implicits._
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
    try {
      val events = eventStream(spark, dir)
        .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
          col("user_id"), col("event_type"), col("value"))
        .as[Event]
      val out = events.groupByKey(_.user_id)
        .transformWithState(new RateCap(k, bucketUs),
          org.apache.spark.sql.streaming.TimeMode.None(),
          OutputMode.Update())
      withStatePartitions(spark, HarnessStateParts) {
        val q = out.toDF().writeStream
          .outputMode(OutputMode.Update)
          .format("memory").queryName(queryName)
          .trigger(Trigger.AvailableNow())
          .start()
        processAndRecord(q)
        q.stop()
      }
      spark.table(queryName)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  def runningTotalsBatch(spark: SparkSession, dir: String,
                         queryName: String): DataFrame = {
    import spark.implicits._
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
    try {
      val events = eventStream(spark, dir)
        .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
          col("user_id"), col("event_type"), col("value"))
        .as[Event]
      val out = events.groupByKey(_.user_id)
        .transformWithState(new RunningTotals,
          org.apache.spark.sql.streaming.TimeMode.None(),
          OutputMode.Update())
      withStatePartitions(spark, HarnessStateParts) {
        val q = out.toDF().writeStream
          .outputMode(OutputMode.Update)
          .format("memory").queryName(queryName)
          .trigger(Trigger.AvailableNow())
          .start()
        processAndRecord(q)
        q.stop()
      }
      spark.table(queryName)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  /** NATIVE streaming session windows: `session_window(ts, gap)` under a
    * watermark in Append mode — Spark merges per-key windows in the state
    * store and EMITS a session only once the watermark passes its end, so
    * the output carries exactly the sessions that can no longer grow
    * (the correctness contract batch sessionization can't give on an
    * unbounded stream). State per key is the set of OPEN windows — bounded
    * by the watermark delay, the property that makes this viable at
    * 100 TB/day event volumes.
    *
    * Driven synchronously: AvailableNow processes the corpus in batch 0
    * (watermark still at zero → nothing emits), then the final watermark
    * = max(event time) − delay releases every session that ended before
    * it — deterministic, hence oracle-checkable: the mirror computes
    * gap-sessions and keeps those with `end = last + gap < max(ts) −
    * delay`.
    */
  def streamingSessionWindows(spark: SparkSession, dir: String,
                              gapSeconds: Long, delaySeconds: Long,
                              queryName: String): DataFrame = {
    val agg = eventStream(spark, dir)
      .withWatermark("ts", s"$delaySeconds seconds")
      .groupBy(col("user_id"),
        session_window(col("ts"), s"$gapSeconds seconds"))
      .agg(count(lit(1)).as("n"))
    withStatePartitions(spark, HarnessStateParts) {
      val q = agg.writeStream
        .outputMode(OutputMode.Append)
        .format("memory").queryName(queryName)
        .trigger(Trigger.AvailableNow())
        .start()
      processAndRecord(q)
      q.stop()
    }
    spark.table(queryName).select(col("user_id"),
      unix_micros(col("session_window.start")).as("start_us"),
      unix_micros(col("session_window.end")).as("end_us"),
      col("n"))
  }

  /** CHAINED windowed aggregations — two stateful operators in ONE
    * streaming query (multiple-stateful-operator support): 15-minute
    * partial aggregates re-aggregated into hourly rollups,
    * `window(window, 1h)` over the first layer's window struct. This is
    * the streaming form of map-side combine: the quarter layer absorbs
    * the raw event volume, the hourly layer sees at most 4 rows per hour
    * — at 100 TB/day the first layer is what keeps the wide-window state
    * store small. It also yields a metric a single-layer hourly agg
    * CANNOT express: the peak quarter within each hour.
    *
    * Append mode + watermark: an hourly window emits once the watermark
    * passes its end (strictly), so the trailing unclosed hour stays in
    * state — the gate (and its oracle) therefore sees exactly the hours
    * with `end < max event time`, the same decided-prefix discipline as
    * [[streamingSessionWindows]].
    */
  def chainedWindowCounts(spark: SparkSession, dir: String,
                          queryName: String): DataFrame = {
    val quarter = eventStream(spark, dir)
      .withWatermark("ts", "0 seconds")
      .groupBy(window(col("ts"), "15 minutes"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("cents"))
    val hourly = quarter
      .groupBy(window(col("window"), "1 hour"))
      .agg(sum(col("n")).as("n"), sum(col("cents")).as("value_cents"),
        max(col("n")).as("peak_quarter_n"))
    withStatePartitions(spark, HarnessStateParts) {
      val q = hourly.writeStream
        .outputMode(OutputMode.Append)
        .format("memory").queryName(queryName)
        .trigger(Trigger.AvailableNow())
        .start()
      processAndRecord(q)
      q.stop()
    }
    spark.table(queryName).select(
      date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour_str"),
      col("n"), col("value_cents"), col("peak_quarter_n"))
  }

  /** STREAM-STREAM inner join with an event-time range constraint — the
    * remaining join surface Structured Streaming offers: clicks join
    * purchases of the same user within [purchase, purchase + 2 h], both
    * sides watermarked so the join state is BOUNDED (a click older than
    * the watermark can no longer match any future purchase and its state
    * is dropped — the property that makes stream-stream joins viable at
    * 100 TB). Driven synchronously; returns per-purchase click counts.
    */
  def streamStreamAttribution(spark: SparkSession, dir: String,
                              queryName: String): DataFrame = {
    val clicks = eventStream(spark, dir)
      .filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    val purchases = eventStream(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id").as("p_user"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val joined = clicks.join(purchases,
      col("c_user") === col("p_user") &&
        col("c_ts") >= col("p_ts") &&
        col("c_ts") <= col("p_ts") + expr("INTERVAL 2 HOURS"))
      // the downstream aggregate reads ONLY purchase_id: project before
      // the memory sink so the driver collects one long per pair, not
      // the full (user, ts, ts) row (guide §2.3 — the sink is the
      // exchange here). Stateless projection AFTER the stateful join:
      // micro-batch structure and join state are untouched.
      .select(col("purchase_id"))
    withStatePartitions(spark, HarnessStateParts) {
      val q = joined.writeStream
        .outputMode(OutputMode.Append)
        .format("memory").queryName(queryName)
        .trigger(Trigger.AvailableNow())
        .start()
      processAndRecord(q)
      q.stop()
    }
    // The memory sink holds the UNaggregated pair set; materialize the
    // small aggregate and drop the sink view so repeated invocations
    // (bench warm-up + timed passes) don't pin pair sets in driver memory.
    val agg = spark.table(queryName)
      .groupBy(col("purchase_id"))
      .agg(count(lit(1)).as("n_clicks"))
      .cache()
    agg.count() // materialize before the view goes away
    spark.catalog.dropTempView(queryName)
    agg
  }

  /** Watermarked LEFT OUTER stream-stream join — the outer flavor of
    * [[streamStreamAttribution]]: purchases with NO click in the 2 h
    * attribution window still emit (null-padded) once the watermark passes
    * the window's end, the state-eviction path an inner join never takes.
    *
    * Determinism under the hash gate: an unmatched left row emits only
    * when the GLOBAL watermark (the MIN across both inputs) clears
    * `p_ts + 2 h`, and the final no-data micro-batch parks each input's
    * watermark at that INPUT's `max(ts) − 1 h` — the clicks stream's
    * watermark stops at the last CLICK, not the last event (at a sparse
    * scale factor the two can differ by hours; found by the sf0.001
    * robustness sweep, round 8). So the decided prefix is
    * `p_ts ≤ min(max purchase ts, max click ts) − 4 h` (3 h for the
    * watermark algebra + 1 h margin), and the cutoff is applied AFTER
    * the join: filtering the purchase STREAM itself would cap its
    * per-source watermark at `cutoff − 1 h` and drag the global minimum
    * down with it, silently re-hiding the tail it was meant to expose.
    * The batch mirror is the same LEFT JOIN with the same cutoff.
    */
  def streamStreamLeftOuter(spark: SparkSession, dir: String,
                            queryName: String): DataFrame = {
    val ev0 = Tables.load(spark, dir, "events")
    val maxUs = ev0
      .agg(least(
        max(when(col("event_type") === "purchase", unix_micros(col("ts")))),
        max(when(col("event_type") === "click", unix_micros(col("ts"))))))
      .collect().head.getLong(0)
    val cutoffUs = maxUs - 4L * 3600L * 1000000L
    val purchases = eventStream(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id").as("p_user"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val clicks = eventStream(spark, dir)
      .filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    val joined = purchases.join(clicks,
        col("c_user") === col("p_user") &&
          col("c_ts") >= col("p_ts") &&
          col("c_ts") <= col("p_ts") + expr("INTERVAL 2 HOURS"),
        "left_outer")
      .filter(unix_micros(col("p_ts")) <= cutoffUs)
      // project before the memory sink (see streamStreamAttribution):
      // the aggregate reads only (purchase_id, c_user-null-ness)
      .select(col("purchase_id"), col("c_user"))
    withStatePartitions(spark, HarnessStateParts) {
      val q = joined.writeStream
        .outputMode(OutputMode.Append)
        .format("memory").queryName(queryName)
        .trigger(Trigger.AvailableNow())
        .start()
      processAndRecord(q)
      q.stop()
    }
    val agg = spark.table(queryName)
      .groupBy(col("purchase_id"))
      .agg(count(col("c_user")).as("n_clicks"))
      .cache()
    agg.count()
    spark.catalog.dropTempView(queryName)
    agg
  }

  /** `foreachBatch` body for a streaming upsert into a live database
    * table: each micro-batch applies update-else-insert on `keys` via
    * [[graft.etl.JdbcSink.upsertReport]] — the standard pattern for sinks
    * Spark has no native streaming connector for. Pair with `outputMode(Update)`
    * on an aggregation so each batch carries only the CHANGED groups.
    * Structured Streaming's at-least-once replay composes with the
    * upsert's idempotence: a replayed batch rewrites the same rows instead
    * of duplicating them (the exactly-once story a plain append sink can't
    * give against a mutable table).
    */
  def jdbcUpsertBatch(url: String, table: String, keys: Seq[String],
                      options: Map[String, String] = Map.empty):
      (DataFrame, Long) => Unit =
    (batch, _) => {
      graft.etl.JdbcSink.upsertReport(batch, url, table, keys, options)
      ()
    }

  /** Streaming aggregation → LIVE database serving table, driven
    * synchronously: the events corpus is re-laid-out as `nBatches` parquet
    * files and streamed ONE FILE PER MICRO-BATCH (`maxFilesPerTrigger` under
    * AvailableNow), each batch upserting its CHANGED per-type totals into
    * the JDBC table via [[jdbcUpsertBatch]] — the end-to-end shape of a
    * production "stream → running aggregate → serving store" pipeline.
    *
    * Determinism (hence oracle-checkability): Update mode emits a group
    * only in batches where it changed, carrying its CUMULATIVE total — so
    * whatever the file split, a key's LAST upsert holds its full-corpus
    * total and the final table state equals the plain batch aggregate.
    * Replay idempotence comes from the upsert itself (update-else-insert).
    *
    * The serving table is created empty with the key column typed VARCHAR:
    * Spark's JDBC type mapping (which [[graft.etl.JdbcSink.append]] creates
    * tables with) maps StringType to CLOB on Derby, and CLOB keys cannot sit
    * in an UPDATE ... WHERE comparison.
    */
  def streamingJdbcAggUpsert(spark: SparkSession, dir: String, url: String,
                             table: String, options: Map[String, String],
                             nBatches: Int = 3): DataFrame = {
    val src = java.nio.file.Files
      .createTempDirectory("graft_stream_src").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_stream_ckpt").toString
    val ev = graft.Tables.load(spark, dir, "events")
      .select(col("event_type"), col("value"))
    ev.repartition(nBatches, col("event_type"))
      .write.mode("overwrite").parquet(src)
    graft.etl.JdbcSink.append(
      ev.limit(0).select(col("event_type"),
        lit(0L).as("n"), lit(0L).as("value_cents")),
      url, table,
      options + ("createTableColumnTypes" -> "event_type VARCHAR(64)"))
    val agg = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("value_cents"))
    withStatePartitions(spark, HarnessStateParts) {
      val q = agg.writeStream
        .outputMode(OutputMode.Update)
        .option("checkpointLocation", ckpt)
        .foreachBatch(jdbcUpsertBatch(url, table, Seq("event_type"), options))
        .trigger(Trigger.AvailableNow())
        .start()
      processAndRecord(q)
      q.stop()
    }
    graft.etl.Sources.jdbc(spark, url, table, options)
  }

  /** STREAMING IVF INDEX MAINTENANCE — the ANN lifecycle's ingest leg
    * as a stream: a persisted, cell-partitioned index (n22's layout) is
    * kept current by a `foreachBatch` sink that assigns each arriving
    * micro-batch against the FROZEN persisted codebook
    * ([[graft.ops.Similarity.ivfAssignDelta]] — map-only over the
    * batch, K broadcast dots per vector, never touching the base) and
    * APPENDS the assigned rows into the batch's cell partitions. This
    * is n23's refresh loop driven by Structured Streaming instead of a
    * scheduled job: because a frozen-codebook assignment depends only
    * on (vector, codebook), the final index equals a full rebuild no
    * matter how the stream slices the delta — which is why the gate can
    * serve n3's exact query from the streamed index and share n3's
    * oracle verbatim.
    *
    * Replay semantics: AvailableNow + a fresh checkpoint make this run
    * deterministic; a production deployment would make the append
    * idempotent against foreachBatch's at-least-once replay (batch-id-
    * derived file names or a transactional table format) — the same
    * caveat every append-mode foreachBatch sink carries, orthogonal to
    * the assignment math this gate pins.
    */
  def streamingIndexRefresh(spark: SparkSession, dir: String,
                            nBatches: Int = 3,
                            nCells: Int = 16): DataFrame = {
    val emb = graft.Tables.load(spark, dir, "embeddings")
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_stream_ivf").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_stream_ivf_ckpt").toString
    // n23's base/delta split: the delta must not remove a codebook
    // vector from the base build (bounded nCells-row scalar read)
    val centIds = emb
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(nCells).select("vec_id").collect().map(_.getLong(0)).toSeq
    val isDelta = col("vec_id") % 10 === 0 &&
      !col("vec_id").isin(centIds: _*)
    // base build, persisted cell-partitioned (n22's clustered layout)
    val (cells0, cents0) = graft.ops.Similarity.ivfBuildIndex(
      emb.filter(!isDelta), "vec_id", "embedding", nCells = nCells)
    cells0.repartition(col("c_cell"))
      .write.mode("overwrite").partitionBy("c_cell")
      .parquet(tmp + "/cells")
    cents0.write.mode("overwrite").parquet(tmp + "/cents")
    val cents = spark.read.parquet(tmp + "/cents")
    // the delta arrives as a file stream, one file per micro-batch
    val delta = emb.filter(isDelta).select("vec_id", "embedding")
    delta.repartition(nBatches)
      .write.mode("overwrite").parquet(tmp + "/delta_src")
    val q = spark.readStream.schema(delta.schema)
      .option("maxFilesPerTrigger", "1").parquet(tmp + "/delta_src")
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // SERIALIZED against compaction (r10-verdict item 1): the
        // append and ivfCompact's staged swap mutate the same cell
        // directories, so both run under the index's maintenance lock
        // — see Similarity.withMaintenanceLock and the n29 gate, which
        // interleaves the two and proves the result equals a rebuild.
        graft.ops.Similarity.withMaintenanceLock(
          batch.sparkSession, tmp + "/cells", "refresh") {
          graft.ops.Similarity.ivfAppendCells(batch.sparkSession,
            tmp + "/cells", graft.ops.Similarity
              .ivfAssignDelta(batch, cents, "vec_id", "embedding"))
        }
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    processAndRecord(q)
    q.stop()
    // serve n3's exact query from the streamed index
    graft.ops.Similarity.ivfQueryIndex(
      graft.ops.Similarity.ivfOpenIndex(spark, tmp + "/cells"),
      cents,
      emb.filter(col("vec_id") < 8), "vec_id", "embedding",
      k = 5, nProbe = 2)
  }

  /** MAINTENANCE INTERLEAVE (r10-verdict item 1) — the concurrency
    * story [[streamingIndexRefresh]] (st27) and
    * [[graft.ops.Similarity.ivfCompact]] (n25) left implicit: both
    * mutate the SAME cell-partitioned index directory, and nothing
    * pinned their single-writer assumption. Here the two RACE — the
    * delta arrives as three micro-batches, and a tombstone-folding
    * compaction runs on its own thread (released after the first
    * append), the two writers arbitrated ONLY by the index's
    * maintenance lock ([[graft.ops.Similarity.withMaintenanceLock]] —
    * atomic create-no-overwrite of `_graft_maint_lock`, lease-stealable
    * so a crashed holder can't wedge the index). The served result must
    * equal a FULL REBUILD minus the tombstones no matter where the
    * compaction lands in the append sequence, because (a) frozen-
    * codebook assignment is slice-invariant, (b) the compaction's
    * rewrite preserves every non-tombstoned row already in an affected
    * cell — including refresh appends — and (c) tombstones target only
    * base rows, present from batch zero — rebuild-minus-tombstones is
    * the race's unique fixed point, which is exactly the property that
    * lets a nondeterministically-scheduled maintenance pair sit under a
    * hash oracle. The gate serves with NO tombstone filter (the deletes
    * must be physical, n25's discipline) and shares n24's oracle shape
    * with the delta excluded from the tombstone predicate.
    */
  /** EXACTLY-ONCE STREAMING SINK into a versioned destination table
    * (st28): micro-batches land through
    * [[graft.etl.VersionedTable.appendStreamBatch]], which commits each
    * batch's id INTO the manifest by the same atomic rename that
    * publishes its files — so Structured Streaming's at-least-once
    * foreachBatch replays are recognized and skipped whole, and a
    * reader never sees a torn batch. After the stream drains, a
    * versioned small-file COMPACTION folds the per-batch files (the
    * maintenance op every streaming-fed 100 TB destination schedules —
    * micro-batches accumulate one file per batch-task and the file
    * count, not the bytes, becomes the bottleneck), then the gate
    * serves an aggregate of the final snapshot: the result is invariant
    * to HOW the stream was batched, which is exactly what the oracle
    * checks.
    */
  def streamVersionedSink(spark: SparkSession, dir: String,
                          nBatches: Int = 3): DataFrame = {
    val ev = graft.Tables.load(spark, dir, "events")
      .select("event_id", "user_id", "event_type")
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_vt_stream").toString
    val tableDir = tmp + "/table"
    graft.etl.VersionedTable.init(spark, tableDir,
      ev.filter(col("event_id") % 5 === 0))
    val delta = ev.filter(col("event_id") % 5 =!= 0)
    delta.repartition(nBatches)
      .write.mode("overwrite").parquet(tmp + "/src")
    val q = spark.readStream.schema(delta.schema)
      .option("maxFilesPerTrigger", "1").parquet(tmp + "/src")
      .writeStream
      .option("checkpointLocation", tmp + "/ckpt")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        graft.etl.VersionedTable.appendStreamBatch(
          batch.sparkSession, tableDir, batch, id, streamId = "st28-sink")
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    processAndRecord(q)
    q.stop()
    graft.etl.VersionedTable.compact(spark, tableDir, targetFiles = 2)
    graft.etl.VersionedTable.read(spark, tableDir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("event_id")).as("sum_id"))
  }

  /** STREAMING CHANGE-DATA-FEED PIPELINE (st29, r13-verdict item 4):
    * the engine's own table format feeding a downstream consumer
    * CONTINUOUSLY — each micro-batch (1) upserts into the source
    * versioned table via [[graft.etl.VersionedTable.mergeStreamBatch]]
    * (exactly-once per stream identity), then (2) propagates the
    * just-committed span's change rows into a downstream change-log
    * table via [[graft.etl.VersionedTable.followChanges]], whose
    * high-water mark IS the downstream's per-consumer manifest epoch —
    * no separate state store, both hops idempotent under foreachBatch
    * replay. The served log is BATCHING-INVARIANT: every source key
    * occurs in exactly one micro-batch (repartition of a unique-key
    * delta), so each key's change rows are its point diff against the
    * base regardless of how the stream was sliced — exactly what the
    * DuckDB oracle recomputes set-wise. Span cost is manifest-diff
    * pruned (∝ churn, not table size): the 100 TB CDC-fan-out shape.
    */
  def streamChangeFeed(spark: SparkSession, dir: String,
                       nBatches: Int = 3): DataFrame = {
    val orders = graft.Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_vt_cdf_stream").toString
    val srcTable = tmp + "/src_table"
    val dstTable = tmp + "/changes"
    val base = orders.filter(col("o_orderkey") % 3 =!= 0)
    graft.etl.VersionedTable.init(spark, srcTable, base) // v1
    graft.etl.VersionedTable.init(spark, dstTable,
      base.limit(0).withColumn("_change_type", lit("")))
    val delta = orders.filter(col("o_orderkey") % 7 === 0)
      .select(col("o_orderkey"),
        (col("o_custkey") + 1000000L).as("o_custkey"),
        lit("U").as("o_orderstatus"))
    delta.repartition(nBatches)
      .write.mode("overwrite").parquet(tmp + "/feed")
    val q = spark.readStream.schema(delta.schema)
      .option("maxFilesPerTrigger", "1").parquet(tmp + "/feed")
      .writeStream
      .option("checkpointLocation", tmp + "/ckpt")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val s = batch.sparkSession
        graft.etl.VersionedTable.mergeStreamBatch(
          s, srcTable, batch, Seq("o_orderkey"), id,
          streamId = "st29-src")
        graft.etl.VersionedTable.followChanges(
          s, srcTable, dstTable, Seq("o_orderkey"),
          consumerId = "st29-cdf")
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    processAndRecord(q)
    q.stop()
    graft.etl.VersionedTable.read(spark, dstTable)
      .orderBy("o_orderkey", "_change_type")
  }

  def maintenanceInterleave(spark: SparkSession, dir: String,
                            nCells: Int = 16): DataFrame = {
    val emb = graft.Tables.load(spark, dir, "embeddings")
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_maint_ivf").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_maint_ivf_ckpt").toString
    // full-corpus hash-order codebook (bounded nCells-row scalar read):
    // delta and tombstones must both leave the codebook untouched
    val centIds = emb
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(nCells).select("vec_id").collect().map(_.getLong(0)).toSeq
    val isDelta = col("vec_id") % 10 === 0 &&
      !col("vec_id").isin(centIds: _*)
    // tombstones are BASE-only (delta excluded): the compaction folds
    // all of them mid-stream, so the final index needs no logical
    // tombstone filter at serve time
    val tombs = emb
      .filter(col("vec_id") % 7 === 3 && col("vec_id") >= 8 &&
        col("vec_id") % 10 =!= 0 && !col("vec_id").isin(centIds: _*))
      .select(col("vec_id").as("t_id"))
    val (cells0, cents0) = graft.ops.Similarity.ivfBuildIndex(
      emb.filter(!isDelta), "vec_id", "embedding", nCells = nCells)
    cells0.repartition(col("c_cell"))
      .write.mode("overwrite").partitionBy("c_cell")
      .parquet(tmp + "/cells")
    cents0.write.mode("overwrite").parquet(tmp + "/cents")
    val cents = spark.read.parquet(tmp + "/cents")
    val delta = emb.filter(isDelta).select("vec_id", "embedding")
    delta.repartition(3)
      .write.mode("overwrite").parquet(tmp + "/delta_src")
    // The compactor runs on its OWN thread and RACES the refresh
    // stream — released once the first append lands, arbitrated only
    // by the maintenance lock (both mutators acquire it; neither knows
    // about the other). The final state is interleaving-independent:
    // tombstones target base rows present from batch zero, the
    // compaction rewrite preserves any delta rows already appended
    // into an affected cell, and later appends are untouched — so
    // rebuild-minus-tombstones is the unique fixed point whichever of
    // batches 1-3 the compaction lands between.
    val firstAppend = new java.util.concurrent.CountDownLatch(1)
    val compactErr = new java.util.concurrent.atomic
      .AtomicReference[Throwable]()
    val compactor = new Thread(() => {
      try {
        firstAppend.await()
        graft.ops.Similarity.ivfCompact(spark,
          tmp + "/cells", tombs, "t_id", tmp + "/stage")
      } catch { case t: Throwable => compactErr.set(t) }
    }, "graft-n29-compactor")
    compactor.start()
    val q = spark.readStream.schema(delta.schema)
      .option("maxFilesPerTrigger", "1").parquet(tmp + "/delta_src")
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.ops.Similarity.withMaintenanceLock(
          batch.sparkSession, tmp + "/cells", "refresh") {
          graft.ops.Similarity.ivfAppendCells(batch.sparkSession,
            tmp + "/cells", graft.ops.Similarity
              .ivfAssignDelta(batch, cents, "vec_id", "embedding"))
        }
        firstAppend.countDown()
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    processAndRecord(q)
    q.stop()
    compactor.join(600000)
    if (compactor.isAlive)
      throw new IllegalStateException(
        "n29 compactor still running after 600 s — serving now would " +
          "race a live compaction; failing explicitly instead")
    if (compactErr.get != null) throw compactErr.get
    // serve with NO tombstone filter: the interleaved maintenance must
    // leave exactly rebuild-minus-tombstones LIVE (ivfOpenIndex reads
    // the committed manifest; the compactor's replaced files may still
    // sit on disk awaiting their deferred delete)
    graft.ops.Similarity.ivfQueryIndex(
      graft.ops.Similarity.ivfOpenIndex(spark, tmp + "/cells"),
      cents,
      emb.filter(col("vec_id") < 8), "vec_id", "embedding",
      k = 5, nProbe = 2)
  }

  /** Streaming keyed state: running per-user event count via
    * mapGroupsWithState — the Structured Streaming analogue of the
    * reference's per-run in-memory key caches (sdk/src/ETLTask.php:34).
    */
  def runningUserCounts(spark: SparkSession, events: Dataset[Event]):
      Dataset[(Long, Long)] = {
    import spark.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (uid: Long, batch: Iterator[Event], state: GroupState[Long]) =>
          val total = state.getOption.getOrElse(0L) + batch.size
          state.update(total)
          (uid, total)
      }
  }

  /** STREAMING incremental admission against a static corpus — the d14
    * bloom shape moved to the ingest path: the corpus digest set is built
    * ONCE (batch), its bloom filter rides into the stream as a literal
    * (the filter IS a broadcast value — 128 KiB for 2^20 bits — which is
    * exactly how a production job ships an index into executors), and
    * every arriving document is triaged per row inside the stream's scan:
    * bloom-negative → admitted with no join at all; bloom-positive → a
    * stream-static LEFT ANTI join against the corpus digests verifies
    * exactly. No streaming state is created anywhere — admission is
    * stateless row triage + a static-side join, so there is no state
    * store to size and no watermark to reason about.
    *
    * Result equals the batch d14 admission (the gate's oracle is the same
    * plain NOT IN).
    */
  def streamingBloomAdmission(spark: SparkSession, dir: String,
                              queryName: String): DataFrame = {
    import graft.ops.Bloom
    val docs = graft.Tables.load(spark, dir, "documents")
    val corpusDigests = docs
      .filter(col("doc_id") % 10 =!= 0 && col("text").isNotNull)
      .select(md5(col("text")).as("__h"))
    // The one-row aggregate collapses to a 128 KiB array — a broadcast
    // value by construction, not a driver-side loop over data.
    val filterBytes: Array[Byte] = corpusDigests
      .agg(Bloom.bloomBuild(col("__h"), 1 << 20, 5).as("bf"))
      .collect().head.getAs[Array[Byte]](0)
    val rawSchema = spark.read.parquet(s"$dir/documents.parquet").schema
    val stream = spark.readStream.schema(rawSchema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
      .filter(col("doc_id") % 10 === 0 && col("text").isNotNull)
      .withColumn("__h", md5(col("text")))
      .withColumn("__maybe",
        Bloom.mightContain(lit(filterBytes), col("__h"), 5))
    val definitelyNew = stream.filter(!col("__maybe"))
    val verified = stream.filter(col("__maybe"))
      .join(corpusDigests, Seq("__h"), "left_anti")
    val admitted = definitelyNew.unionByName(verified)
      .select(col("doc_id"), col("lang"))
    val q = admitted.writeStream
      .outputMode(OutputMode.Append)
      .format("memory").queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    processAndRecord(q)
    q.stop()
    spark.table(queryName)
  }

  /** Streaming DATA-DRIFT detector via the Population Stability Index —
    * the monitoring op every production feature/metric pipeline runs:
    * per DAILY event-time window, PSI of the value distribution against
    * a STATIC day-one baseline histogram,
    * `PSI = Σ_b (p_b − q_b)·ln(p_b/q_b)` over fixed $50 value buckets
    * with add-one smoothing (so an empty bucket on either side stays
    * finite). Alert at the industry 0.2 threshold. Daily, not hourly,
    * because PSI needs volume per window: at thin per-window counts the
    * smoothing term dominates and every window alerts (measured at
    * sf0.001 hourly: median PSI 0.9 on the corpus' OWN generator — a
    * granularity lesson, not a tuning knob).
    *
    * Shape: the STREAMING side is one windowed (window, bucket) count —
    * state is O(buckets) per open window, nothing else; the PSI fold
    * runs on the emitted DECIDED prefix (st16's `end < max ts`
    * discipline) against the broadcast 10-row baseline — a readout over
    * window×bucket rows, not events. At 100 TB/day the state store sees
    * 10 rows per day per shuffle partition; drift alerting costs the
    * event pass it was already making. Fixed-point ln discipline (t18):
    * per-bucket term rounded to 1e-9 before the integer sum, so the
    * batch replay hash-matches under any partitioning.
    */
  /** Streaming SAMPLE-RATIO-MISMATCH monitor — the live sibling of the
    * a28 χ² audit and the first alarm every experimentation platform
    * wires: per event-day window, the A/B split (user parity) counts
    * through ONE stateful windowed aggregation (O(2) state per open
    * window), and the decided prefix is scored against the designed
    * 50/50 allocation with the df=1 χ², which for a two-cell uniform
    * expectation collapses to the EXACT rational (n0−n1)²/n — one
    * double per window, fixed-pointed; alarm at the 3.841 critical
    * value (p < 0.05). A drifting assignment hash or a
    * variant-dependent data loss trips it within a day.
    */
  def streamSrm(spark: SparkSession, dir: String,
                queryName: String): DataFrame = {
    val counts = eventStream(spark, dir)
      .withWatermark("ts", "0 seconds")
      .select(col("ts"), (col("user_id") % 2).as("variant"))
      .groupBy(window(col("ts"), "1 day"), col("variant"))
      .agg(count(lit(1)).as("c"))
    withStatePartitions(spark, HarnessStateParts) {
      val q = counts.writeStream
        .outputMode(OutputMode.Append)
        .format("memory").queryName(queryName)
        .trigger(Trigger.AvailableNow())
        .start()
      processAndRecord(q)
      q.stop()
    }
    spark.table(queryName)
      .select(unix_micros(col("window.start")).as("w_us"),
        col("variant"), col("c"))
      .groupBy("w_us")
      .agg(
        sum(when(col("variant") === 0, col("c")).otherwise(0L)).as("n0"),
        sum(when(col("variant") === 1, col("c")).otherwise(0L)).as("n1"))
      .withColumn("chi2_fp", expr(
        "CASE WHEN n0 + n1 = 0 THEN NULL ELSE " +
          "CAST(round(pow(CAST(n0 - n1 AS DOUBLE), 2) / (n0 + n1)" +
          " * 1e9) AS BIGINT) END"))
      .withColumn("srm", col("chi2_fp") > 3841000000L)
  }

  def streamPsiDrift(spark: SparkSession, dir: String,
                     queryName: String): DataFrame = {
    val baselineEnd = 1704153600000000L // 2024-01-02T00:00:00Z, micros
    val bucketExpr = "least(9, CAST(round(value * 100) AS BIGINT) div 5000)"
    val base = Tables.load(spark, dir, "events")
      .filter(unix_micros(col("ts")) < baselineEnd)
      .select(expr(bucketExpr).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("c_base"))
    val counts = eventStream(spark, dir)
      .withWatermark("ts", "0 seconds")
      .select(col("ts"), expr(bucketExpr).as("bucket"))
      .groupBy(window(col("ts"), "1 day"), col("bucket"))
      .agg(count(lit(1)).as("c_cur"))
    withStatePartitions(spark, HarnessStateParts) {
      val q = counts.writeStream
        .outputMode(OutputMode.Append)
        .format("memory").queryName(queryName)
        .trigger(Trigger.AvailableNow())
        .start()
      processAndRecord(q)
      q.stop()
    }
    val sink = spark.table(queryName)
      .select(unix_micros(col("window.start")).as("w_us"),
        col("bucket"), col("c_cur"))
    // fixed 0..9 bucket grid per decided window: absent buckets must
    // contribute their smoothed term on BOTH sides, not vanish
    val grid = sink.select("w_us").distinct()
      .crossJoin(broadcast(spark.range(10).select(col("id").as("bucket"))))
      .join(broadcast(base), Seq("bucket"), "left")
      .withColumn("c_base", coalesce(col("c_base"), lit(0L)))
    val nBase = base.agg(sum(col("c_base")).as("n_base"))
    val wWin = org.apache.spark.sql.expressions.Window.partitionBy("w_us")
    grid.join(sink, Seq("w_us", "bucket"), "left")
      .withColumn("c_cur", coalesce(col("c_cur"), lit(0L)))
      .crossJoin(broadcast(nBase))
      .withColumn("n_cur", sum(col("c_cur")).over(wWin))
      .withColumn("term_fp", expr(
        "CAST(round((CAST(c_cur + 1 AS DOUBLE) / (n_cur + 10)" +
          " - CAST(c_base + 1 AS DOUBLE) / (n_base + 10))" +
          " * ln((CAST(c_cur + 1 AS DOUBLE) / (n_cur + 10))" +
          " / (CAST(c_base + 1 AS DOUBLE) / (n_base + 10))) * 1e9)" +
          " AS BIGINT)"))
      .groupBy("w_us")
      .agg(max(col("n_cur")).as("n_cur"), sum(col("term_fp")).as("psi_fp"))
      .withColumn("drift", col("psi_fp") > 200000000L)
  }
}
