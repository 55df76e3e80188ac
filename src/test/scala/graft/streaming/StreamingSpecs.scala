package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.{ReferenceCorpus, SparkTestBase}
import graft.queries.{EventQueries, Tables}
import graft.streaming.EventStreams.Event

/** Stream/batch parity: the streaming window aggregate and stateful
  * sessionization must produce exactly what their batch twins produce over
  * the same events. */
class EventStreamsSpec extends SparkTestBase {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  private lazy val batchEvents: Seq[Event] =
    Tables.events(spark, sfDir)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[Event].collect().toSeq

  test("streaming hourly window aggregate matches batch") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Event]
    val q = EventStreams.hourlyCounts(stream.toDF())
      .writeStream.outputMode("complete")
      .format("memory").queryName("hourly_out").start()
    try {
      stream.addData(batchEvents)
      q.processAllAvailable()
      val got = spark.table("hourly_out")
        .select(col("hour"), col("event_type"), col("n_events"))
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
        .toSet
      val want = Tables.events(spark, sfDir)
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
        .toSet
      assert(got == want)
    } finally q.stop()
  }

  test("streaming sliding-window aggregate matches the batch q58 shape") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Event]
    val q = EventStreams.slidingCounts(stream.toDF())
      .writeStream.outputMode("complete")
      .format("memory").queryName("sliding_out").start()
    try {
      stream.addData(batchEvents)
      q.processAllAvailable()
      val got = spark.table("sliding_out")
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
        .toSet
      val want = graft.queries.EventQueries
        .slidingHourly(spark, sfDir)
        .select(col("win_start"), col("event_type"), col("n_events"))
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
        .toSet
      assert(got == want)
    } finally q.stop()
  }

  test("stateful sessionization matches the batch window implementation") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Event]
    val q = EventStreams.sessionize(stream.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("sessions_out").start()
    try {
      // two micro-batches split mid-stream: state must carry across
      val (first, second) = batchEvents.sortBy(_.event_id).splitAt(batchEvents.size / 2)
      stream.addData(first)
      q.processAllAvailable()
      stream.addData(second)
      q.processAllAvailable()
      val got = spark.table("sessions_out")
        .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
      val want = EventQueries.sessionize(spark, sfDir)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
      assert(got == want)
    } finally q.stop()
  }

  test("stream-stream interval join matches the batch range join") {
    implicit val sqlCtx = spark.sqlContext
    val evStream = MemoryStream[Event]
    val puStream = MemoryStream[Event]
    val q = EventStreams.attributeToPurchases(evStream.toDS(), puStream.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("attr_out").start()
    try {
      // split mid-stream on both sides: join state must carry across
      val ordered = batchEvents.sortBy(_.event_id)
      val purchases = ordered.filter(_.event_type == "purchase")
      val (e1, e2) = ordered.splitAt(ordered.size / 2)
      val (p1, p2) = purchases.splitAt(purchases.size / 2)
      evStream.addData(e1); puStream.addData(p1)
      q.processAllAvailable()
      evStream.addData(e2); puStream.addData(p2)
      q.processAllAvailable()
      val got = spark.table("attr_out")
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      val want = graft.queries.AnalyticsQueries
        .rangeJoinEventOrders(spark, sfDir)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      assert(got.nonEmpty && got == want)
    } finally q.stop()
  }

  test("streaming dedup drops cross-batch duplicates within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    import java.sql.Timestamp
    def ev(id: Long, tMs: Long, v: Double) =
      Event(id, new Timestamp(tMs), 1L, "view", v)
    val stream = MemoryStream[Event]
    val q = EventStreams.dedupEvents(stream.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    try {
      val t0 = 1700000000000L
      stream.addData(ev(1, t0, 1.0), ev(2, t0 + 1000, 2.0),
        ev(1, t0, 1.0)) // in-batch duplicate
      q.processAllAvailable()
      stream.addData(ev(2, t0 + 1000, 2.0), // cross-batch duplicate
        ev(3, t0 + 2000, 3.0))
      q.processAllAvailable()
      val got = spark.table("dedup_out")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(got == Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("left-outer interval join: matches emit eagerly, nulls only at watermark expiry") {
    // the eviction-emission semantics the inner join (q69) never
    // exercises: an unmatched left row must NOT surface until the
    // watermark proves no future purchase can cover it, then surface
    // exactly once, null-extended
    implicit val sqlCtx = spark.sqlContext
    val events = MemoryStream[Event]
    val purchases = MemoryStream[Event]
    val q = EventStreams.attributeToPurchasesOuter(
        events.toDS(), purchases.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("loj_out").start()
    try {
      val t0 = 1700000000000L
      def ev(id: Long, tMs: Long, u: Long) =
        Event(id, new java.sql.Timestamp(tMs), u, "view", 1.0)
      def pu(id: Long, tMs: Long, u: Long) =
        Event(id, new java.sql.Timestamp(tMs), u, "purchase", 1.0)
      // user 1's event falls in a purchase window (eager match); user
      // 2's has no covering purchase (must wait for the watermark)
      events.addData(ev(10, t0 + 600000, 1), ev(20, t0 + 600000, 2))
      purchases.addData(pu(100, t0, 1))
      q.processAllAvailable()
      val afterB1 = spark.table("loj_out").collect()
        .map(r => (r.getLong(0), r.isNullAt(2))).toSet
      assert(afterB1 == Set((10L, false)),
        s"expected only the eager match, got $afterB1")
      // advance BOTH inputs' watermarks far past the unmatched event
      val far = t0 + 10L * 3600 * 1000
      events.addData(ev(30, far, 3))
      purchases.addData(pu(300, far, 3))
      q.processAllAvailable()
      val nulls = spark.table("loj_out").collect()
        .filter(_.isNullAt(2)).map(_.getLong(0)).toSet
      assert(nulls == Set(20L), s"expected the expired null row, got $nulls")
    } finally q.stop()
  }

  test("RocksDB state store is the session default and is actually active") {
    // GraftSession defaults the provider to RocksDB (the 100 TB state
    // path — off-heap, spillable) so the driver correctness gate runs the
    // real provider, not the heap toy. Assert it is ACTIVE, not just
    // configured: the state operator's progress must report rocksdb
    // custom metrics.
    assert(spark.conf.get("spark.sql.streaming.stateStore.providerClass")
      .endsWith("RocksDBStateStoreProvider"))
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Event]
    val q = EventStreams.sessionize(stream.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("rocks_active_out").start()
    try {
      stream.addData(batchEvents.sortBy(_.event_id))
      q.processAllAvailable()
      val ops = q.lastProgress.stateOperators
      assert(ops.nonEmpty)
      val metricKeys = ops.flatMap(_.customMetrics.keySet()
        .toArray(Array.empty[String]))
      assert(metricKeys.exists(_.startsWith("rocksdb")),
        s"no rocksdb metrics in ${metricKeys.mkString(",")}")
    } finally q.stop()
  }

  test("sessionization is identical under the heap (HDFS) state store provider") {
    // cross-provider parity: the heap provider must produce exactly what
    // the RocksDB default produces — results never depend on the provider
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
    try {
      val stream = MemoryStream[Event]
      val q = EventStreams.sessionize(stream.toDS())
        .writeStream.outputMode("append")
        .format("memory").queryName("heap_out").start()
      try {
        val (first, second) = batchEvents.sortBy(_.event_id).splitAt(batchEvents.size / 2)
        stream.addData(first)
        q.processAllAvailable()
        stream.addData(second)
        q.processAllAvailable()
        val got = spark.table("heap_out")
          .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
        val want = EventQueries.sessionize(spark, sfDir)
          .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
        assert(got == want)
      } finally q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("state for a user idle past the horizon is expired (numbering restarts)") {
    implicit val sqlCtx = spark.sqlContext
    import java.sql.Timestamp
    def ev(id: Long, user: Long, tMs: Long) =
      Event(id, new Timestamp(tMs), user, "view", 1.0)
    val hourMs = 3600L * 1000
    val stream = MemoryStream[Event]
    // tiny horizon (2h) so the test can cross it with a 3h gap
    val q = EventStreams.sessionize(stream.toDS(),
        watermarkDelay = "10 minutes", idleHorizonMs = 2 * hourMs)
      .writeStream.outputMode("append")
      .format("memory").queryName("expiry_out").start()
    try {
      val t0 = 1700000000000L
      stream.addData(ev(1, 7L, t0))                       // user 7, session 1
      q.processAllAvailable()
      // other-user traffic 3h later advances the watermark past 7's horizon
      stream.addData(ev(2, 8L, t0 + 3 * hourMs))
      q.processAllAvailable()
      // timeouts fire for data-less groups once the watermark has passed:
      // this batch expires user 7's state
      stream.addData(ev(3, 8L, t0 + 3 * hourMs + 60000))
      q.processAllAvailable()
      // user 7 returns after expiry: numbering restarts at 1, NOT 2
      stream.addData(ev(4, 7L, t0 + 3 * hourMs + 120000))
      q.processAllAvailable()
      val got = spark.table("expiry_out")
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
    } finally q.stop()
  }

  test("transformWithState sessionization matches fMGWS and the batch twin") {
    // Spark 4's arbitrary-stateful API (typed state vars + explicit
    // timers, RocksDB-only) must assign exactly the sessions the
    // flatMapGroupsWithState operator and the batch window twin assign
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Event]
    val q = EventStreams.sessionizeTws(stream.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("tws_out").start()
    try {
      val (first, second) = batchEvents.sortBy(_.event_id).splitAt(batchEvents.size / 2)
      stream.addData(first)
      q.processAllAvailable()
      stream.addData(second)
      q.processAllAvailable()
      val got = spark.table("tws_out")
        .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
      val want = EventQueries.sessionize(spark, sfDir)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
      assert(got == want)
    } finally q.stop()
  }

  test("transformWithState timer expires idle state (numbering restarts)") {
    implicit val sqlCtx = spark.sqlContext
    import java.sql.Timestamp
    def ev(id: Long, user: Long, tMs: Long) =
      Event(id, new Timestamp(tMs), user, "view", 1.0)
    val hourMs = 3600L * 1000
    val stream = MemoryStream[Event]
    val q = EventStreams.sessionizeTws(stream.toDS(),
        watermarkDelay = "10 minutes", idleHorizonMs = 2 * hourMs)
      .writeStream.outputMode("append")
      .format("memory").queryName("tws_expiry_out").start()
    try {
      val t0 = 1700000000000L
      stream.addData(ev(1, 7L, t0)) // user 7, session 1
      q.processAllAvailable()
      // other-user traffic 3h later advances the watermark past 7's timer
      stream.addData(ev(2, 8L, t0 + 3 * hourMs))
      q.processAllAvailable()
      stream.addData(ev(3, 8L, t0 + 3 * hourMs + 60000))
      q.processAllAvailable()
      // user 7 returns after its timer cleared the state: restart at 1
      stream.addData(ev(4, 7L, t0 + 3 * hourMs + 120000))
      q.processAllAvailable()
      val got = spark.table("tws_expiry_out")
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
    } finally q.stop()
  }

  test("append-mode tumbling windows emit once and state stays bounded") {
    // the q86 production shape: complete mode keeps every window in state
    // forever (state ∝ total windows — the q84 scale flag); append mode
    // must emit each window exactly once when the watermark passes its
    // end and EVICT its state row, so numRowsTotal tracks only the open
    // watermark horizon, not stream history
    implicit val sqlCtx = spark.sqlContext
    import java.sql.Timestamp
    def ev(id: Long, tMs: Long) =
      Event(id, new Timestamp(tMs), 1L, "view", 1.0)
    val hourMs = 3600L * 1000
    val stream = MemoryStream[Event]
    val q = EventStreams.hourlyCounts(stream.toDF())
      .writeStream.outputMode("append")
      .format("memory").queryName("hourly_append_out").start()
    try {
      val t0 = 1700000000000L
      stream.addData(ev(1, t0), ev(2, t0 + hourMs))
      q.processAllAvailable()
      // the trailing no-data batch may already have closed+evicted the
      // first window (watermark = t0+1h − 10 min passes its end), so
      // state holds 1–2 rows here; what matters is it never exceeds the
      // open-window count
      val early = q.lastProgress.stateOperators(0).numRowsTotal
      assert(early >= 1L && early <= 2L, s"unexpected state rows: $early")
      // jump 5h: the watermark (max − 10 min) passes the first windows —
      // they emit once and their state rows are evicted
      stream.addData(ev(3, t0 + 5 * hourMs))
      q.processAllAvailable()
      stream.addData(ev(4, t0 + 6 * hourMs))
      q.processAllAvailable()
      stream.addData(ev(5, t0 + 6 * hourMs + 1000))
      q.processAllAvailable()
      val finalRows = q.lastProgress.stateOperators(0).numRowsTotal
      // five distinct hour windows existed over the run; only the one the
      // watermark hasn't closed may remain — state stopped growing
      assert(finalRows <= 2L, s"state not evicted: $finalRows rows")
      val emitted = spark.table("hourly_append_out")
        .collect().map(r => (r.getTimestamp(0), r.getLong(2)))
      // closed windows (hours of t0, t0+1h, t0+5h) emitted exactly once;
      // the still-open t0+6h window is absent
      assert(emitted.length == 3, emitted.mkString(","))
      assert(emitted.map(_._1).distinct.length == 3)
      assert(emitted.map(_._2).toSeq == Seq(1L, 1L, 1L))
    } finally q.stop()
  }

  test("checkpoint RESUME equals fresh: restart carries RocksDB state across runs") {
    // The production fault-tolerance property (VERDICT_r08 task 6): a
    // stateful query stopped after committing part of its input and
    // RESTARTED from the same checkpoint must produce exactly what an
    // uninterrupted run produces — the RocksDB state (per-user session
    // records) restores from the checkpoint (changelog checkpointing on,
    // the O(delta)-per-batch posture), the file source resumes from
    // committed offsets without reprocessing, and the per-batch-id
    // overwrite sink stays exactly-once under any replay.
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx = spark.sqlContext
    assert(spark.conf.get(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled")
      == "true")
    val root = Files.createTempDirectory("graft_resume_").toString
    val src = s"$root/src"; val out = s"$root/out"; val ckpt = s"$root/ckpt"
    Files.createDirectories(Paths.get(src))
    val ordered = batchEvents.sortBy(_.event_id)
    val chunks = ordered.grouped(ordered.size / 4 + 1).toSeq
    assert(chunks.size == 4)
    val schema = spark.createDataset(chunks.head).toDF().schema
    def writeChunk(i: Int): Unit = {
      val tmp = s"$root/tmp$i"
      spark.createDataset(chunks(i)).coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, Paths.get(f"$src/chunk$i%02d.parquet"))
    }
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$src/*.parquet")
        .as[Event]
      val writeBatch: (org.apache.spark.sql.Dataset[EventStreams.SessionAssignment], Long) => Unit =
        (batch, id) => batch.write.mode("overwrite").parquet(s"$out/b$id")
      val q = EventStreams.sessionize(stream)
        .writeStream.outputMode("append")
        .foreachBatch(writeBatch)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
    }
    try {
      writeChunk(0); writeChunk(1)
      runOnce() // run 1 processes two files, commits, terminates
      writeChunk(2); writeChunk(3)
      runOnce() // run 2 RESUMES: prior per-user state must be restored
      val got = spark.read.parquet(s"$out/b*")
        .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
      val want = EventQueries.sessionize(spark, sfDir)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
      // exactly-once: every event assigned once, sessions identical to an
      // uninterrupted computation — a state restore failure renumbers
      // every session that spans the restart boundary
      assert(got.size == want.size)
      assert(got == want)
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("event-id-ordered micro-batches preserve per-user session monotonicity") {
    val byUser = spark.table("sessions_out").as("s")
      .join(Tables.events(spark, sfDir).select("event_id", "user_id", "ts"),
        Seq("event_id", "user_id"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val nonMonotone = byUser
      .withColumn("prev", lag("session_seq", 1).over(w))
      .filter(col("prev").isNotNull && col("session_seq") < col("prev"))
      .count()
    assert(nonMonotone == 0L)
  }
}

class StreamingIngestSpec extends SparkTestBase {
  import java.nio.file.{Files, Paths, StandardCopyOption}
  import graft.lake.LakeLayout

  test("watcher ingests raw files exactly once") {
    ReferenceCorpus.assumePresent()
    val root = Files.createTempDirectory("graft_watch_").toString
    val layout = LakeLayout(root)
    Files.createDirectories(Paths.get(layout.raw))
    Files.copy(Paths.get(s"${ReferenceCorpus.dir}/sales_2024-10-16.csv"),
      Paths.get(s"${layout.raw}/sales_2024-10-16.csv"),
      StandardCopyOption.REPLACE_EXISTING)
    val notifier = new graft.lake.Notifier.Buffering
    val t1 = StreamingIngest.pollOnce(spark, layout, notifier = notifier)
    assert(t1.ingested.map(_._2.goodRows) == Seq(828L))
    // A12: a DQ summary notification fires per ingested file, with the
    // reference's breakdown body
    assert(notifier.sent.map(_._1) == Seq("DATA QUALITY REPORT"))
    assert(notifier.sent.head._2.contains("Good Rows: 828"))
    assert(notifier.sent.head._2.contains("Invalid Timestamps: 406"))
    // file was moved out of raw on pickup → second poll is a no-op
    val t2 = StreamingIngest.pollOnce(spark, layout)
    assert(t2.ingested.isEmpty && t2.rejected.isEmpty)
    // a structurally-broken file routes to rejected, not ingested
    Files.writeString(Paths.get(s"${layout.raw}/broken.csv"), "a,b,c\n1,2,3\n")
    val t3 = StreamingIngest.pollOnce(spark, layout)
    assert(t3.rejected.size == 1 && t3.ingested.isEmpty)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }
}
