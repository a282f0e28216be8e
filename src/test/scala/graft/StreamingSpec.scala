package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.config.EngineConfig
import graft.engine.InceptionEngine
import graft.streaming.StreamingEmbed

/** Structured Streaming over the same logical plan (SURVEY.md §2.3): the
  * embed pipeline is stateless per row, so streaming is the batch plan
  * under a different source.
  */
class StreamingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  lazy val engine = new InceptionEngine(EngineConfig.default)

  test("streaming embed: memory source → chunk+embed rows match batch run") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("doc_id", "text")
    val out = StreamingEmbed.embedStream(engine, stream)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("embed_out").start()
    try {
      mem.addData((1L, "First sentence. Second sentence."),
        (2L, "Lone sentence here."))
      q.processAllAvailable()
      val got = spark.table("embed_out").collect()
      val want = engine.embedDocumentsExploded(
        Seq((1L, "First sentence. Second sentence."),
          (2L, "Lone sentence here.")).toDF("doc_id", "text")).collect()
      assert(got.length == want.length)
      val gotIds = got.map(r => (r.getLong(0), r.getInt(1))).sorted
      val wantIds = want.map(c => (c.doc_id, c.chunk_number)).sorted
      assert(gotIds.sameElements(wantIds))
    } finally q.stop()
  }

  test("streaming curation: splitAssign + gopherRules on a stream match the batch run exactly") {
    // the curation ops are stateless narrow projections, so their
    // docstring claim — "runs identically over a stream" — must hold
    // byte-for-byte: same split assignment, same rule flags, regardless
    // of which micro-batch a document arrives in
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = (1L to 40L).map { i =>
      val filler = if (i % 4 == 0) "the quick brown fox jumps and " else "x "
      (i, (s"Document number $i with some words. " + filler * 30).trim)
    }
    val mem = MemoryStream[(Long, String)]
    val stream = graft.ops.Sampling.splitAssign(
        mem.toDF().toDF("doc_id", "text"), "doc_id",
        seed = 42L, trainFrac = 0.8, valFrac = 0.1)
      .select(col("doc_id"), col("split"),
        graft.ops.TextAnalysis.gopherRules(col("text")).as("g"))
      .select(col("doc_id"), col("split"), col("g.keep").as("keep"))
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("curation_out").start()
    try {
      // arrival split across three micro-batches, out of id order
      mem.addData(docs.drop(25): _*); q.processAllAvailable()
      mem.addData(docs.slice(10, 25): _*); q.processAllAvailable()
      mem.addData(docs.take(10): _*); q.processAllAvailable()
      val got = spark.table("curation_out").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2))).sorted
      val want = graft.ops.Sampling.splitAssign(
          docs.toDF("doc_id", "text"), "doc_id",
          seed = 42L, trainFrac = 0.8, valFrac = 0.1)
        .select(col("doc_id"), col("split"),
          graft.ops.TextAnalysis.gopherRules(col("text")).as("g"))
        .select(col("doc_id"), col("split"), col("g.keep").as("keep"))
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2))).sorted
      assert(got.length == 40)
      assert(got.sameElements(want))
      // and the filter actually separates: both outcomes occur
      assert(got.exists(_._3) && got.exists(!_._3))
    } finally q.stop()
  }

  test("streamed incremental stats: micro-batch merges equal one-shot; replayed batch ids are no-ops") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val work = java.nio.file.Files.createTempDirectory("incrstream")
    val state = work.resolve("state").toString
    val sink = graft.streaming.StreamingEmbed.idempotentSink(
      (b: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.ops.IncrementalAgg.update(b, "k", "v", state, nBuckets = 8),
      graft.streaming.StreamingEmbed.fileHighWaterMark(work.resolve("hwm")))
    val b1 = (0 until 40).map(i => (s"k${i % 8}", i.toLong))
    val b2 = (40 until 60).map(i => (s"k${i % 8}", i.toLong))
    val mem = MemoryStream[(String, Long)]
    val q = mem.toDF().toDF("k", "v").writeStream.outputMode("append")
      .foreachBatch(sink).start()
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    // a crash-and-replay of BOTH committed batches: the file-backed
    // high-water mark must make each a no-op, not a double count
    sink(b1.toDF("k", "v"), 0L)
    sink(b2.toDF("k", "v"), 1L)
    val got = graft.ops.IncrementalAgg.read(spark, state)
      .collect().map(r => (r.getString(0),
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val want = (b1 ++ b2).toDF("k", "v")
      .groupBy("k").agg(count(lit(1)), sum("v"), min("v"), max("v"))
      .collect().map(r => (r.getString(0),
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got == want)
  }

  test("flatMapGroupsWithState sessionization matches batch fold across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val gapUs = 1800L * 1000000L
    // deterministic synthetic events: 5 users, gaps around the threshold
    val rnd = new scala.util.Random(11)
    val events = (0 until 400).map { i =>
      val user = (i % 5).toLong
      // jumps > gap roughly every ~6 events per user
      val ts = (i / 5).toLong * 400000000L +
        (if (rnd.nextInt(6) == 0) (i / 5).toLong * gapUs else 0L)
      (user, i.toLong, ts)
    }
    // expected: plain-Scala fold per user in (ts, event_id) order —
    // the batch sessionization semantics
    val expected = events.groupBy(_._1).flatMap { case (u, evs) =>
      var sess = 0L; var last = Long.MinValue
      var n = 0L; var start = 0L
      val out = scala.collection.mutable.Map.empty[Long, (Long, Long, Long)]
      evs.sortBy(e => (e._3, e._2)).foreach { case (_, _, ts) =>
        if (sess == 0L || ts - last > gapUs) { sess += 1; n = 1; start = ts }
        else n += 1
        last = ts
        out(sess) = (n, start, last)
      }
      out.map { case (s, (ne, st, en)) => (u, s, ne, st, en) }
    }.toSet
    val mem = MemoryStream[(Long, Long, Long)]
    val upserts = new java.util.concurrent.ConcurrentHashMap[(Long, Long), (Long, Long, Long)]()
    val q = StreamingEmbed.sessionizeStream(mem.toDS(), gapUs)
      .writeStream.outputMode("update")
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[StreamingEmbed.SessionUpdate],
         _: Long) =>
          batch.collect().foreach(s =>
            upserts.put((s.user_id, s.session_id),
              (s.n_events, s.start_us, s.end_us)))
          ()
      }
      .start()
    try {
      // split mid-user-session to exercise cross-batch state carry
      val (a, b) = events.sortBy(e => (e._3, e._2)).splitAt(150)
      mem.addData(a)
      q.processAllAvailable()
      mem.addData(b)
      q.processAllAvailable()
    } finally q.stop()
    import scala.jdk.CollectionConverters._
    val got = upserts.asScala.map { case ((u, s), (n, st, en)) =>
      (u, s, n, st, en) }.toSet
    assert(got == expected, s"sessions differ: got=${got.size} want=${expected.size}")
  }

  test("transformWithState sessionization (Spark 4 StatefulProcessor) matches the batch fold") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val gapUs = 1800L * 1000000L
    val rnd = new scala.util.Random(13)
    val events = (0 until 300).map { i =>
      val user = (i % 4).toLong
      val ts = (i / 4).toLong * 400000000L +
        (if (rnd.nextInt(6) == 0) (i / 4).toLong * gapUs else 0L)
      (user, i.toLong, ts)
    }
    val expected = events.groupBy(_._1).flatMap { case (u, evs) =>
      var sess = 0L; var last = Long.MinValue
      var n = 0L; var start = 0L
      val out = scala.collection.mutable.Map.empty[Long, (Long, Long, Long)]
      evs.sortBy(e => (e._3, e._2)).foreach { case (_, _, ts) =>
        if (sess == 0L || ts - last > gapUs) { sess += 1; n = 1; start = ts }
        else n += 1
        last = ts
        out(sess) = (n, start, last)
      }
      out.map { case (s, (ne, st, en)) => (u, s, ne, st, en) }
    }.toSet
    // transformWithState requires the RocksDB state store provider
    val key = "spark.sql.streaming.stateStore.providerClass"
    val old = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[(Long, Long, Long)]
      val upserts =
        new java.util.concurrent.ConcurrentHashMap[(Long, Long), (Long, Long, Long)]()
      val q = StreamingEmbed.sessionizeStreamTws(mem.toDS(), gapUs)
        .writeStream.outputMode("update")
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[StreamingEmbed.SessionUpdate],
           _: Long) =>
            batch.collect().foreach(s =>
              upserts.put((s.user_id, s.session_id),
                (s.n_events, s.start_us, s.end_us)))
            ()
        }
        .start()
      try {
        // split mid-stream: cross-batch ValueState carry is the point
        val (a, b) = events.sortBy(e => (e._3, e._2)).splitAt(120)
        mem.addData(a)
        q.processAllAvailable()
        mem.addData(b)
        q.processAllAvailable()
      } finally q.stop()
      import scala.jdk.CollectionConverters._
      val got = upserts.asScala.map { case ((u, s), (n, st, en)) =>
        (u, s, n, st, en) }.toSet
      assert(got == expected,
        s"tws sessions differ: got=${got.size} want=${expected.size}")
    } finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("sessionization state survives a query RESTART from checkpoint") {
    import spark.implicits._
    val gapUs = 1800L * 1000000L
    val srcDir = java.nio.file.Files.createTempDirectory("graft_ckpt_src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val upserts = new java.util.concurrent.ConcurrentHashMap[(Long, Long), Long]()
    def runOnce(): Unit = {
      val src = spark.readStream
        .schema("u LONG, e LONG, t LONG").parquet(srcDir)
        .toDF("_1", "_2", "_3").as[(Long, Long, Long)]
      val q = StreamingEmbed.sessionizeStream(src, gapUs)
        .writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[StreamingEmbed.SessionUpdate],
           _: Long) =>
            b.collect().foreach(s =>
              upserts.put((s.user_id, s.session_id), s.n_events))
            ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(); q.stop()
    }
    // batch 1: users 1,2 — two events each, within the gap
    Seq((1L, 1L, 0L), (1L, 2L, 1000000L), (2L, 3L, 0L), (2L, 4L, 1000000L))
      .toDF("u", "e", "t").write.mode("append").parquet(srcDir)
    runOnce()
    assert(upserts.get((1L, 1L)) == 2L)
    // batch 2 AFTER RESTART: user 1 continues within the gap (same
    // session grows), user 2 jumps past the gap (new session id 2)
    Seq((1L, 5L, 2000000L), (2L, 6L, 1000000L + gapUs + 1L))
      .toDF("u", "e", "t").write.mode("append").parquet(srcDir)
    runOnce()
    assert(upserts.get((1L, 1L)) == 3L,
      s"user 1 session must continue across restart: $upserts")
    assert(upserts.containsKey((2L, 2L)) && upserts.get((2L, 2L)) == 1L,
      s"user 2 must open session 2 after the gap: $upserts")
  }

  test("streaming exact dedup: dropDuplicatesWithinWatermark drops replayed events") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(mins: Long) = new java.sql.Timestamp(base.getTime + mins * 60000L)
    val mem = MemoryStream[(Long, java.sql.Timestamp)]
    val deduped = mem.toDF().toDF("event_id", "ts")
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    try {
      mem.addData((1L, ts(0)), (2L, ts(1)), (1L, ts(2))) // in-batch replay
      q.processAllAvailable()
      mem.addData((2L, ts(3)), (3L, ts(4))) // cross-batch replay
      q.processAllAvailable()
      val got = spark.table("dedup_out")
        .select("event_id").collect().map(_.getLong(0)).sorted
      assert(got.sameElements(Array(1L, 2L, 3L)),
        s"expected each id once, got ${got.mkString(",")}")
    } finally q.stop()
  }

  test("watermark drops late data: events older than the watermark never reach the aggregate") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(mins: Long) = new java.sql.Timestamp(base.getTime + mins * 60000L)
    val mem = MemoryStream[(Long, java.sql.Timestamp)]
    val agg = mem.toDF().toDF("id", "ts")
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "10 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w"), col("n"))
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("late_out").start()
    try {
      // batch 1: two on-time events in the first window, plus one far
      // ahead — after this batch the watermark is ~t0+2h
      mem.addData((1L, ts(0)), (2L, ts(5)), (3L, ts(180)))
      q.processAllAvailable()
      // batch 2: a LATE event for the first window (t0+1min << watermark)
      // must be dropped, not merged into the already-final window
      mem.addData((4L, ts(1)), (5L, ts(185)))
      q.processAllAvailable()
      val dropped = q.recentProgress
        .flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum
      assert(dropped >= 1, "late row was not dropped by the watermark")
      val firstWindow = spark.table("late_out")
        .filter(col("w") === ts(0)).select("n").collect()
      assert(firstWindow.length == 1 && firstWindow(0).getLong(0) == 2L,
        "finalized first window must contain only the on-time events")
    } finally q.stop()
  }

  test("stream-stream interval join matches the batch join") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(mins: Long) = new java.sql.Timestamp(base.getTime + mins * 60000L)
    val purchases = (0 until 40).map(i =>
      (i.toLong, (i % 4).toLong, ts(i * 7L)))
    val views = (0 until 60).map(i =>
      (1000L + i, (i % 4).toLong, ts(i * 5L)))
    val memP = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val memV = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val joined = StreamingEmbed.intervalJoinStreams(
      memP.toDF().toDF("event_id", "user_id", "ts"),
      memV.toDF().toDF("event_id", "user_id", "ts"),
      "user_id", "ts", lookback = "30 minutes")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssj_out").start()
    try {
      memP.addData(purchases)
      memV.addData(views)
      q.processAllAvailable()
      val got = spark.table("ssj_out")
        .select("event_id", "r_event_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = (for {
        (pid, pu, pts) <- purchases
        (vid, vu, vts) <- views
        if pu == vu &&
          vts.getTime <= pts.getTime &&
          vts.getTime >= pts.getTime - 30L * 60000L
      } yield (pid, vid)).toSet
      assert(got == want && want.nonEmpty)
    } finally q.stop()
  }

  test("streaming windowed event counts with watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val stream = mem.toDF().toDF("ts", "event_type", "value")
    val agg = StreamingEmbed.eventCountsStream(stream, "1 hour", "2 hours")
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("win_out").start()
    try {
      def ts(h: Int, m: Int) =
        java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
      mem.addData(
        (ts(0, 10), "click", 1.0), (ts(0, 40), "click", 2.0),
        (ts(1, 5), "view", 3.0))
      q.processAllAvailable()
      val rows = spark.table("win_out").collect()
      assert(rows.length == 2)
      val clicks = rows.find(_.getString(1) == "click").get
      assert(clicks.getLong(2) == 2L)
      assert(clicks.getDouble(3) == 3.0)
    } finally q.stop()
  }

  test("foreachBatch reuses the batch pipeline per micro-batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("doc_id", "text")
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    val writer = StreamingEmbed.embedForeachBatch(engine, stream) {
      (batch, _) => seen ++= batch.select("doc_id").collect().map(_.getLong(0))
    }
    val q = writer.start()
    try {
      mem.addData((5L, "A sentence for the stream."))
      q.processAllAvailable()
      assert(seen.toSet == Set(5L))
    } finally q.stop()
  }

  test("incremental refresh: stream -> embed -> merge-upsert equals a batch rebuild") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("doc_id", "text")
    // maintained snapshot: per-doc chunk counts, newest version wins
    var snapshot = Seq.empty[(Long, Int, Long)]
      .toDF("doc_id", "n_chunks", "version")
    val sink = StreamingEmbed.idempotentSink { (batch, id) =>
      val delta = engine.embedDocumentsExploded(batch).toDF()
        .groupBy("doc_id").agg(count(lit(1)).cast("int").as("n_chunks"))
        .withColumn("version", lit(id + 1))
        .select("doc_id", "n_chunks", "version")
      snapshot = graft.ops.Merge
        .upsert(snapshot, delta, Seq("doc_id"), "version")
        .localCheckpoint(true)
    }
    val q = stream.writeStream.outputMode("append").foreachBatch(sink).start()
    val revised =
      "First doc revised to be longer. With more sentences. Indeed more."
    try {
      mem.addData((1L, "First doc. Two sentences."), (2L, "Second doc."))
      q.processAllAvailable()
      mem.addData((1L, revised), (3L, "Third."))  // update + insert
      q.processAllAvailable()
    } finally q.stop()
    // the incrementally maintained snapshot equals rebuilding from the
    // final document states
    val finalDocs = Seq((1L, revised), (2L, "Second doc."), (3L, "Third."))
      .toDF("doc_id", "text")
    val rebuilt = engine.embedDocumentsExploded(finalDocs).toDF()
      .groupBy("doc_id").agg(count(lit(1)).cast("int").as("n_chunks"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val maintained = snapshot.select("doc_id", "n_chunks")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(maintained == rebuilt, s"maintained $maintained != rebuilt $rebuilt")
  }

  test("idempotent sink: a replayed batchId is a no-op, not a double-count") {
    import spark.implicits._
    var total = 0L
    val sink = StreamingEmbed.idempotentSink { (df, _) =>
      total += df.count()
    }
    val batch = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    sink(batch, 0L)
    sink(batch, 0L) // crash-replay of the same micro-batch
    assert(total == 2L, s"replay double-counted: $total")
    sink(batch, 1L) // next batch lands normally
    assert(total == 4L)
    sink(batch, 0L) // stale replay after progress is also dropped
    assert(total == 4L)
  }

  test("file-backed high-water mark survives a driver restart: replayed batch stays a no-op") {
    import spark.implicits._
    val path = java.nio.file.Files
      .createTempDirectory("graft_hwm").resolve("hwm")
    var total = 0L
    val batch = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val sink1 = StreamingEmbed.idempotentSink({ (df, _) =>
      total += df.count()
    }, StreamingEmbed.fileHighWaterMark(path))
    sink1(batch, 0L)
    sink1(batch, 1L)
    assert(total == 4L)
    // "restart": a fresh sink instance over the same persisted mark —
    // the in-memory store would reset to -1 here and double-write
    val sink2 = StreamingEmbed.idempotentSink({ (df, _) =>
      total += df.count()
    }, StreamingEmbed.fileHighWaterMark(path))
    sink2(batch, 1L) // checkpoint replay after crash
    assert(total == 4L, s"replay after restart double-counted: $total")
    sink2(batch, 2L) // new batch proceeds
    assert(total == 6L)
  }

  test("embed stream restarted after a failing batch writes the sink rows of an uninterrupted run") {
    import spark.implicits._
    val srcDir = java.nio.file.Files
      .createTempDirectory("graft_restart_src").toString
    // three source files, one micro-batch each; the longer documents
    // span several chunks
    for (b <- 0 until 3)
      (0 until 4).map { i =>
        val id = b * 4L + i
        id -> (0 to 60 * i)
          .map(k => s"Document $id sentence $k has a few more words.")
          .mkString(" ")
      }.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(srcDir)

    final case class Written(batch: Long, rows: Seq[(Long, Int, Seq[Int])])
    def run(ckpt: String, hwm: java.nio.file.Path,
        written: java.util.concurrent.ConcurrentLinkedQueue[Written],
        failAtBatch1: java.util.concurrent.atomic.AtomicBoolean): Unit = {
      val stream = spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
      val sink = StreamingEmbed.idempotentSink({ (batch, id) =>
        if (id == 1L && failAtBatch1.getAndSet(false))
          throw new IllegalStateException("sink failed at batch 1")
        written.add(Written(id, batch.collect().toSeq.map { r =>
          (r.getLong(0), r.getInt(1),
            r.getSeq[Float](3).map(java.lang.Float.floatToRawIntBits).toList)
        }))
      }, StreamingEmbed.fileHighWaterMark(hwm))
      val q = StreamingEmbed.embedForeachBatch(engine, stream)(sink)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
    }
    def fresh(prefix: String) = {
      val d = java.nio.file.Files.createTempDirectory(prefix)
      (d.resolve("ckpt").toString, d.resolve("hwm"),
        new java.util.concurrent.ConcurrentLinkedQueue[Written]())
    }
    def rows(w: java.util.concurrent.ConcurrentLinkedQueue[Written]) = {
      import scala.jdk.CollectionConverters._
      w.asScala.toSeq
    }

    val (ckptA, hwmA, clean) = fresh("graft_restart_clean")
    run(ckptA, hwmA, clean, new java.util.concurrent.atomic.AtomicBoolean(false))

    val (ckptB, hwmB, restarted) = fresh("graft_restart_fail")
    val failAtBatch1 = new java.util.concurrent.atomic.AtomicBoolean(true)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      run(ckptB, hwmB, restarted, failAtBatch1)
    }
    assert(e.getCause.getMessage.contains("sink failed at batch 1"))
    assert(rows(restarted).map(_.batch) == Seq(0L))
    run(ckptB, hwmB, restarted, failAtBatch1) // same checkpoint and mark

    assert(rows(clean).map(_.batch) == Seq(0L, 1L, 2L))
    assert(rows(restarted).map(_.batch) == Seq(0L, 1L, 2L),
      "a batch was skipped or written twice")
    def byChunk(w: Seq[Written]) = {
      val all = w.flatMap(_.rows)
      val keyed = all.map(r => (r._1, r._2) -> r._3).toMap
      assert(keyed.size == all.size, "a chunk was written twice")
      keyed
    }
    val want = byChunk(rows(clean))
    assert(want.keySet.map(_._1) == (0L until 12L).toSet)
    assert(want.size > 12, "no document spans several chunks")
    val got = byChunk(rows(restarted))
    assert(got.keySet == want.keySet)
    assert(got.forall { case (k, bits) => bits == want(k) },
      "a restarted chunk vector differs in its bits")
  }

  test("DeltaLog: stream drains to an executor-appended log; upsert read is latest-per-key; replays are no-ops") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.DeltaLog
    val dir = java.nio.file.Files
      .createTempDirectory("graft_deltalog").toString
    val mem = MemoryStream[(Long, Long)]
    val stream = mem.toDF().toDF("k", "v")
      .groupBy("k").agg(max(col("v")).as("v"))
    val q = stream.writeStream
      .outputMode("update")
      .foreachBatch(DeltaLog.appendSink(spark, dir))
      .start()
    try {
      mem.addData((1L, 10L), (2L, 20L))
      q.processAllAvailable()
      mem.addData((1L, 30L)) // key 1 updates in a later batch
      q.processAllAvailable()
    } finally q.stop()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.LongType)))
    // the raw log kept every delta (append-only, executor-written)...
    val log = DeltaLog.readLog(spark, dir, schema)
    assert(log.count() == 3L)
    assert(log.columns.contains("_batch_id"))
    // ...and the upsert view is latest-per-key by batchId
    val got = DeltaLog.readLogUpsert(spark, dir, schema, Seq("k"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 30L, 2L -> 20L))
    // a crash-replay of an already-committed batch id is a no-op even
    // through a FRESH sink instance (the mark is in the log directory)
    DeltaLog.appendSink(spark, dir)(
      Seq((1L, 99L)).toDF("k", "v"), 1L)
    assert(DeltaLog.readLog(spark, dir, schema).count() == 3L)
    // an empty log dir still reads as an empty typed frame
    val empty = java.nio.file.Files
      .createTempDirectory("graft_deltalog_empty").toString
    assert(DeltaLog.readLog(spark, empty, schema).isEmpty)
    assert(DeltaLog.readLogUpsert(spark, empty, schema, Seq("k")).isEmpty)
  }
}
