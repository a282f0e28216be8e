package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.Row

import graft.engine.InceptionEngine

/** Structured Streaming surface (SURVEY.md §2.3/§7.6 extension — the
  * reference is request/response only; its whole document pipeline is
  * stateless per row, so the identical logical plan runs under streaming
  * unmodified).
  */
object StreamingEmbed {

  /** Stream-embed documents into the long-format chunk table via
    * InceptionEngine.embedDocumentsExploded, i.e. the flagship
    * embedDocuments kernel flattened to one row per chunk. Chunk + embed
    * are stateless, so append mode needs no watermark or state store.
    * Works on any streaming DataFrame with (doc_id, text).
    */
  def embedStream(engine: InceptionEngine, stream: DataFrame): DataFrame =
    engine.embedDocumentsExploded(stream).toDF()

  /** Micro-batch sink reusing the batch pipeline verbatim via foreachBatch
    * — the reference's "batched requests" become micro-batches.
    */
  def embedForeachBatch(
      engine: InceptionEngine,
      stream: DataFrame
  )(handle: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    stream.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        handle(engine.embedDocumentsExploded(batch).toDF(), id)
      }

  /** Event-time tumbling aggregation with watermark over an events stream
    * (ts TIMESTAMP, event_type STRING, value DOUBLE): one row per
    * (`windowLen` window, event_type) with its count and value sum.
    */
  def eventCountsStream(
      events: DataFrame,
      windowLen: String = "1 hour",
      watermark: String = "2 hours"
  ): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))

  /** Stream-stream INNER interval join: enrich each left event with
    * right events for the same key within `[l.ts - lookback, l.ts]`.
    * Both sides carry watermarks, so the state store evicts right rows
    * older than the watermark minus the interval — bounded state, the
    * canonical streaming-join shape. Column names: left (key, ts, ...);
    * right is aliased `r_` to keep outputs unambiguous.
    */
  /** `joinType` extends the shape to the OUTER stream-stream joins:
    * with "left_outer", an unmatched left row is emitted (right columns
    * NULL) once the watermark passes its join window — i.e. once no
    * future right row can possibly match. Until the watermark passes,
    * the row waits in state; callers comparing against a batch join
    * must restrict both sides to the watermark-complete region.
    */
  def intervalJoinStreams(
      left: DataFrame,
      right: DataFrame,
      keyCol: String,
      tsCol: String,
      lookback: String = "1 hour",
      watermark: String = "2 hours",
      joinType: String = "inner"
  ): DataFrame = {
    val l = left.withWatermark(tsCol, watermark)
    val r = right.toDF(right.columns.map("r_" + _): _*)
      .withWatermark(s"r_$tsCol", watermark)
    l.join(r,
      col(keyCol) === col(s"r_$keyCol") &&
        col(s"r_$tsCol") >= col(tsCol) - expr(s"INTERVAL $lookback") &&
        col(s"r_$tsCol") <= col(tsCol),
      joinType)
  }

  /** Committed-batchId high-water-mark store for [[idempotentSink]].
    * Real deployments record the committed batchId transactionally WITH
    * the data (e.g. a `_committed_batch` column or a table property in
    * the same commit); this abstraction lets the sink guard plug in any
    * such durable store.
    */
  trait HighWaterMark {
    def get: Long            // last committed batchId, -1 if none
    def set(id: Long): Unit  // record id as committed
  }

  /** In-PROCESS high-water mark: survives replays within one JVM run
    * only. After a driver crash/restart it resets to -1 and the replayed
    * batch re-runs — use [[fileHighWaterMark]] (or a store transactional
    * with the sink) when recovery semantics matter. This is the right
    * default for tests and for sinks that are themselves idempotent.
    */
  def memoryHighWaterMark(): HighWaterMark = new HighWaterMark {
    private val committed = new java.util.concurrent.atomic.AtomicLong(-1L)
    def get: Long = committed.get
    def set(id: Long): Unit = committed.set(id)
  }

  /** File-backed high-water mark: the committed batchId is persisted via
    * write-to-temp + atomic rename, so a restarted driver resumes with
    * the real mark and a replayed batch stays a no-op. (Atomic-rename
    * durability holds on POSIX filesystems; on object stores use a
    * store transactional with the sink instead.)
    */
  def fileHighWaterMark(path: java.nio.file.Path): HighWaterMark =
    new HighWaterMark {
      def get: Long =
        if (java.nio.file.Files.exists(path))
          new String(java.nio.file.Files.readAllBytes(path),
            java.nio.charset.StandardCharsets.UTF_8).trim.toLong
        else -1L
      def set(id: Long): Unit = {
        val tmp = path.resolveSibling(path.getFileName.toString + ".tmp")
        java.nio.file.Files.write(tmp,
          id.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        java.nio.file.Files.move(tmp, path,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    }

  /** Idempotent foreachBatch sink wrapper: Structured Streaming
    * guarantees at-least-once delivery to foreachBatch — after a crash
    * between sink write and checkpoint commit, the SAME batchId is
    * replayed. This guard skips any batchId ≤ the high-water mark, so a
    * replayed batch is a no-op instead of a double-count. Recovery
    * semantics are exactly those of the supplied [[HighWaterMark]]
    * store: the in-memory default dedups replays within one JVM run
    * only; pass [[fileHighWaterMark]] (or a sink-transactional store)
    * for crash-restart exactly-once.
    */
  def idempotentSink(
      handle: (DataFrame, Long) => Unit,
      hwm: HighWaterMark = memoryHighWaterMark()
  ): (DataFrame, Long) => Unit =
    (df, id) =>
      if (id > hwm.get) {
        handle(df, id)
        hwm.set(id)
      }

  /** Per-user session accumulator carried across micro-batches: O(1)
    * state per key regardless of stream length.
    */
  final case class SessionState(
      sessionId: Long, lastTsUs: Long, nEvents: Long, startUs: Long)

  /** One emitted (possibly still-open) session row. */
  final case class SessionUpdate(
      user_id: Long, session_id: Long, n_events: Long,
      start_us: Long, end_us: Long)

  /** Streaming sessionization via CUSTOM STATE
    * (`flatMapGroupsWithState`) — a batch sessionization's semantics
    * on a stream: 30-min-gap sessions per user, session ids
    * numbered 1.. in event-time order, exactly the batch lag+flag-sum
    * semantics. Each micro-batch sorts its slice of a user's events by
    * (ts, event_id) and folds it into the carried state; every session
    * touched in the batch is re-emitted (update semantics — downstream
    * upserts by (user_id, session_id)).
    *
    * Scale: state per user is a single 4-field record; the stream
    * shuffles once on user_id (the groupByKey), identical to the batch
    * window's partitioning.
    */
  /** The same sessionization through Spark 4's `transformWithState`
    * StatefulProcessor API (the arbitrary-state successor to
    * flatMapGroupsWithState): typed ValueState handle, per-key fold,
    * update-mode emission of every touched session. Requires the RocksDB
    * state store provider (`spark.sql.streaming.stateStore.providerClass`).
    */
  /** The one session fold shared by BOTH stateful APIs
    * (flatMapGroupsWithState and transformWithState): sort the
    * micro-batch's rows by (ts, event_id), extend-or-open sessions on the
    * gap rule, emit one update per touched session. A single definition —
    * the two implementations cannot silently diverge.
    *
    * Ordering: rows are sorted within the micro-batch, so intra-batch
    * disorder is handled; an event arriving in a LATER batch with an
    * earlier timestamp follows last-state semantics (it can only extend
    * the current session, never retract an emitted one) — the standard
    * update-mode contract; bound late data with a watermark upstream.
    */
  private def foldSessions(
      userId: Long,
      rows: Iterator[(Long, Long, Long)],
      prior: Option[SessionState],
      gapUs: Long
  ): (SessionState, Iterator[SessionUpdate]) = {
    val sorted = rows.toSeq.sortBy(r => (r._3, r._2))
    var st = prior.getOrElse(SessionState(0L, Long.MinValue, 0L, 0L))
    val touched =
      scala.collection.mutable.LinkedHashMap.empty[Long, SessionUpdate]
    sorted.foreach { case (_, _, ts) =>
      st =
        if (st.sessionId == 0L || ts - st.lastTsUs > gapUs)
          SessionState(st.sessionId + 1, ts, 1L, ts)
        else st.copy(lastTsUs = ts, nEvents = st.nEvents + 1)
      touched(st.sessionId) =
        SessionUpdate(userId, st.sessionId, st.nEvents, st.startUs, st.lastTsUs)
    }
    (st, touched.values.iterator)
  }

  private final class SessionProcessor(gapUs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long, Long), SessionUpdate] {
    @transient private var sess:
        org.apache.spark.sql.streaming.ValueState[SessionState] = _
    override def init(
        outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      sess = getHandle.getValueState[SessionState]("sess",
        org.apache.spark.sql.Encoders.product[SessionState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(
        userId: Long,
        rows: Iterator[(Long, Long, Long)],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[SessionUpdate] = {
      val (st, out) = foldSessions(userId, rows, Option(sess.get()), gapUs)
      sess.update(st)
      out
    }
  }

  /** Sessionization #4: `transformWithState` (Spark 4 arbitrary-state
    * API). Identical semantics to [[sessionizeStream]] — StreamingSpec
    * checks both against the same batch fold.
    */
  def sessionizeStreamTws(
      events: org.apache.spark.sql.Dataset[(Long, Long, Long)], // (user_id, event_id, ts_us)
      gapUs: Long = 1800L * 1000000L
  ): org.apache.spark.sql.Dataset[SessionUpdate] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_._1)
      .transformWithState(new SessionProcessor(gapUs),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  def sessionizeStream(
      events: org.apache.spark.sql.Dataset[(Long, Long, Long)], // (user_id, event_id, ts_us)
      gapUs: Long = 1800L * 1000000L
  ): org.apache.spark.sql.Dataset[SessionUpdate] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    events
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, SessionUpdate](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (userId, rows, state) =>
          val (st, out) = foldSessions(userId, rows, state.getOption, gapUs)
          state.update(st)
          out
      }
  }
}
