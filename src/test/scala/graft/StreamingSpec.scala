package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._
import graft.streaming.EventStreams
import graft.streaming.EventStreams.{Ev, Session}

/** Streaming semantics: append-mode watermarked windows and stateful
  * sessionization, driven through MemoryStream micro-batches; plus
  * batch parity of the sessionizer against the q16 window formulation.
  */
class StreamingSpec extends AnyFunSuite with SparkTimeLimit {
  lazy val spark = SparkTestSession.spark
  // awaitTermination() on a wedged drain waits forever; the limit is 3×
  // the slowest test of a full tier-1 run on 4 cores (151 s)
  val timeLimit = 8.minutes
  val sf = "/root/testdata/sf0.001"

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)
  // Minutes on a fixed event-time axis, in µs.
  private def minUs(m: Long): Long = 1700000000000000L + m * 60000000L

  test("tumblingAgg: window emits exactly once, after the watermark passes it") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Double)]
    val agg = EventStreams.tumblingAgg(
      in.toDF.toDF("ts", "event_type", "value"),
      "1 hour",
      "10 minutes")
    val q = agg.writeStream.format("memory").queryName("tumbling").outputMode("append").start()
    try {
      in.addData(
        (ts("2026-01-01 10:05:00"), "a", 1.5),
        (ts("2026-01-01 10:20:00"), "a", 2.5),
        (ts("2026-01-01 10:30:00"), "b", 1.0))
      q.processAllAvailable()
      // 10:00 window still open (watermark 10:20)
      assert(spark.table("tumbling").count() == 0)
      in.addData((ts("2026-01-01 12:00:00"), "a", 9.0))
      q.processAllAvailable()
      val closed = spark
        .table("tumbling")
        .select("event_type", "n", "sum_value")
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        .toSet
      assert(closed == Set(("a", 2L, 4.0), ("b", 1L, 1.0)))
    } finally q.stop()
  }

  test("tumblingAgg: a row arriving BEHIND the watermark is dropped, closed windows never re-emit (fuzz)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Double)]
    val agg = EventStreams.tumblingAgg(
      in.toDF.toDF("ts", "event_type", "value"),
      "1 hour",
      "10 minutes")
    val q = agg.writeStream.format("memory").queryName("tumbling_late").outputMode("append").start()
    try {
      in.addData((ts("2026-01-01 10:05:00"), "a", 1.5))
      q.processAllAvailable()
      in.addData((ts("2026-01-01 12:00:00"), "a", 9.0)) // watermark -> 11:50, closes 10:00
      q.processAllAvailable()
      val afterClose = spark.table("tumbling_late")
        .select("event_type", "n", "sum_value")
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        .toSet
      assert(afterClose == Set(("a", 1L, 1.5)))
      // the LATE probe: a 10:07 row behind the 11:50 watermark
      in.addData((ts("2026-01-01 10:07:00"), "a", 100.0))
      in.addData((ts("2026-01-01 14:00:00"), "a", 2.0)) // close the 12:00 window too
      q.processAllAvailable()
      val fin = spark.table("tumbling_late")
        .select("event_type", "n", "sum_value")
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        .toSet
      // late row contributes NOTHING and the closed 10:00 window does
      // not re-emit — exactly one extra row (the 12:00 window)
      assert(fin == Set(("a", 1L, 1.5), ("a", 1L, 9.0)))
    } finally q.stop()
  }

  test("tumblingAgg: NULL event-time rows are excluded and never wedge the watermark (fuzz)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Double)]
    val agg = EventStreams.tumblingAgg(
      in.toDF.toDF("ts", "event_type", "value"),
      "1 hour",
      "10 minutes")
    val q = agg.writeStream.format("memory").queryName("tumbling_null").outputMode("append").start()
    try {
      in.addData(
        (ts("2026-01-01 10:05:00"), "a", 1.5),
        (null.asInstanceOf[Timestamp], "a", 50.0), // NULL event time
        (null.asInstanceOf[Timestamp], "b", 60.0))
      q.processAllAvailable()
      in.addData((ts("2026-01-01 12:00:00"), "a", 9.0))
      q.processAllAvailable()
      val closed = spark.table("tumbling_null")
        .select("event_type", "n", "sum_value")
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        .toSet
      // NULL-ts rows join no window (window(NULL) is NULL, the group
      // is dropped) and do not hold the watermark back: the 10:00
      // window closes on schedule with only the timed row
      assert(closed == Set(("a", 1L, 1.5)))
    } finally q.stop()
  }

  test("dedupStream: NULL event-time rows neither emit nor accumulate state by default (fuzz)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, String)]
    val dedup = EventStreams.dedupStream(
      in.toDF.toDF("event_id", "ts", "payload"),
      Seq("event_id"),
      "10 minutes")
    val q = dedup.writeStream.format("memory").queryName("dedup_null").outputMode("append").start()
    try {
      in.addData(
        (1L, ts("2026-01-01 10:00:00"), "x"),
        (2L, null.asInstanceOf[Timestamp], "null-ts"),
        (2L, null.asInstanceOf[Timestamp], "null-ts-dup"),
        (1L, ts("2026-01-01 10:00:30"), "x-redelivery"))
      q.processAllAvailable()
      val ids = spark.table("dedup_null").select("event_id").collect().map(_.getLong(0)).toSeq
      // Default guard (r10 VERDICT ask #3): NULL-ts rows are dropped
      // BEFORE the stateful dedup — id 2 never emits and never books
      // unevictable state (a NULL event time gives the watermark no
      // eviction lever on that key). Only the timed id survives, its
      // redelivery deduplicated.
      assert(ids.sorted == Seq(1L))
      // zero rows of dedup state carry a NULL-keyed entry: the state
      // operator saw only the timed row
      val progress = q.lastProgress
      assert(progress == null || progress.stateOperators.forall(_.numRowsTotal <= 1))
    } finally q.stop()
  }

  test("dedupStream: dropNullEventTime=false opts back into the raw admit behavior (pinned)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, String)]
    val dedup = EventStreams.dedupStream(
      in.toDF.toDF("event_id", "ts", "payload"),
      Seq("event_id"),
      "10 minutes",
      dropNullEventTime = false)
    val q =
      dedup.writeStream.format("memory").queryName("dedup_null_raw").outputMode("append").start()
    try {
      in.addData(
        (1L, ts("2026-01-01 10:00:00"), "x"),
        (2L, null.asInstanceOf[Timestamp], "null-ts"),
        (2L, null.asInstanceOf[Timestamp], "null-ts-dup"))
      q.processAllAvailable()
      val ids =
        spark.table("dedup_null_raw").select("event_id").collect().map(_.getLong(0)).toSeq
      // PINNED Spark behavior (measured by this probe, not assumed):
      // dropDuplicatesWithinWatermark ADMITS a NULL-event-time row —
      // id 2 emits once, its duplicate dropped — and its dedup state
      // has no watermark eviction lever; the opt-out is only sound for
      // feeds that provably cannot carry NULL event times (scaladoc).
      assert(ids.sorted == Seq(1L, 2L))
    } finally q.stop()
  }

  test("sessionize (streaming): gap closes a session; watermark timeout flushes the last one") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val sessions = EventStreams.sessionize(in.toDS(), gapUs = 30L * 60L * 1000000L)
    val q = sessions.writeStream.format("memory").queryName("sessions").outputMode("append").start()
    try {
      // user 1: events at t=0,10 then t=60 → 50-min gap closes session 1
      in.addData(Ev(1, 1, minUs(0)), Ev(1, 2, minUs(10)), Ev(1, 3, minUs(60)))
      q.processAllAvailable()
      // advance watermark far past user 1's open session (+gap)
      in.addData(Ev(2, 4, minUs(300)))
      q.processAllAvailable()
      in.addData(Ev(2, 5, minUs(305)))
      q.processAllAvailable()
      val out = spark
        .table("sessions")
        .as[Session]
        .collect()
        .filter(_.userId == 1)
        .sortBy(_.sessionId)
      assert(out.length == 2)
      assert(out(0) == Session(1, 1, minUs(0), minUs(10), 2))
      assert(out(1) == Session(1, 2, minUs(60), minUs(60), 1))
    } finally q.stop()
  }

  test("readEventStream + tumblingAgg (AvailableNow) matches the batch aggregation") {
    import org.apache.spark.sql.streaming.Trigger
    // file streams watch a directory: stage the fixture as a landing zone
    val dir = java.nio.file.Files.createTempDirectory("events_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("part-0.parquet"))
    val toTs = expr("timestamp_micros(ts_us)")
    val stream = Tables.withTsUs(graft.streaming.EventStreams
        .readEventStream(spark, dir.toString))
      .withColumn("ts", toTs)
    val q = graft.streaming.EventStreams
      .tumblingAgg(stream, "1 hour", "1 minute")
      .writeStream
      .format("memory")
      .queryName("file_tumbling")
      .outputMode("update")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table("file_tumbling")
    val batch = graft.streaming.EventStreams
      .tumblingAgg(Tables.events(spark, sf).withColumn("ts", toTs), "1 hour", "1 minute")
    assert(streamed.count() > 0)
    assert(streamed.except(batch).count() == 0)
    assert(batch.except(streamed).count() == 0)
  }

  test("windowedDistinctUsers: streaming sketch matches batch bit-for-bit; sub-k windows exact") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = java.nio.file.Files.createTempDirectory("events_kmv_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("part-0.parquet"))
    val toTs = expr("timestamp_micros(ts_us)")
    val stream = Tables.withTsUs(graft.streaming.EventStreams
        .readEventStream(spark, dir.toString))
      .withColumn("ts", toTs)
    val q = graft.streaming.EventStreams
      .windowedDistinctUsers(stream, "6 hours", "1 minute", k = 16)
      .writeStream
      .format("memory")
      .queryName("kmv_windows")
      .outputMode("update")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table("kmv_windows")
    val batch = graft.streaming.EventStreams
      .windowedDistinctUsers(
        Tables.events(spark, sf).withColumn("ts", toTs), "6 hours", "1 minute", k = 16)
    assert(streamed.count() > 0)
    assert(streamed.except(batch).count() == 0)
    assert(batch.except(streamed).count() == 0)
    // estimator contract: sub-k windows report their exact filled size;
    // full windows a positive kth-min estimate
    val rows = batch.collect()
    rows.foreach { r =>
      val filled = r.getAs[Long]("k_filled")
      val est = r.getAs[Double]("distinct_est")
      if (filled < 16) assert(est == filled.toDouble) else assert(est > 0.0)
    }
  }

  test("dedupStream: re-deliveries within the watermark are dropped; state evicts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long, String)]
    val out = EventStreams.dedupStream(
      in.toDF.toDF("ts", "event_id", "payload"),
      Seq("event_id"),
      "10 minutes")
    val q = out.writeStream.format("memory").queryName("dedup").outputMode("append").start()
    try {
      in.addData(
        (ts("2026-01-01 10:00:00"), 1L, "first"),
        (ts("2026-01-01 10:01:00"), 1L, "dup"),
        (ts("2026-01-01 10:02:00"), 2L, "other"))
      q.processAllAvailable()
      in.addData((ts("2026-01-01 10:03:00"), 1L, "dup-again"))
      q.processAllAvailable()
      val rows = spark.table("dedup").select("event_id", "payload").as[(Long, String)].collect().toSet
      assert(rows == Set((1L, "first"), (2L, "other")))
      // advance the watermark far past id 1's state; a much later redelivery
      // of id 1 is then a NEW row by contract (state was evicted)
      in.addData((ts("2026-01-01 12:00:00"), 99L, "advance"))
      q.processAllAvailable()
      in.addData((ts("2026-01-01 11:55:00"), 1L, "post-eviction"))
      q.processAllAvailable()
      val after = spark.table("dedup").filter(col("event_id") === 1).count()
      assert(after == 2)
    } finally q.stop()
  }

  test("attributeClicks: stream-stream interval join attributes within the window only") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val views = MemoryStream[(Timestamp, Long, Long)]
    val clicks = MemoryStream[(Timestamp, Long, Long)]
    val joined = EventStreams.attributeClicks(
      views.toDF.toDF("ts", "event_id", "user_id"),
      clicks.toDF.toDF("ts", "event_id", "user_id"),
      windowUs = 5L * 60L * 1000000L)
    val q = joined.writeStream.format("memory").queryName("attr").outputMode("append").start()
    try {
      views.addData((ts("2026-01-01 10:00:00"), 100L, 1L), (ts("2026-01-01 10:00:00"), 101L, 2L))
      clicks.addData(
        (ts("2026-01-01 10:03:00"), 200L, 1L), // within 5 min of view 100
        (ts("2026-01-01 10:09:00"), 201L, 2L)) // 9 min after view 101: outside
      q.processAllAvailable()
      // advance both watermarks so results flush
      views.addData((ts("2026-01-01 11:00:00"), 900L, 9L))
      clicks.addData((ts("2026-01-01 11:00:00"), 901L, 9L))
      q.processAllAvailable()
      val rows = spark
        .table("attr")
        .select("user_id", "click_id", "view_id")
        .as[(Long, Long, Long)]
        .collect()
        .toSet
      assert(rows.contains((1L, 200L, 100L)))
      assert(!rows.exists(_._2 == 201L))
    } finally q.stop()
  }

  test("attributeClicks (batch): same expression runs on batch frames") {
    import spark.implicits._
    val views = Seq((ts("2026-01-01 10:00:00"), 100L, 1L)).toDF("ts", "event_id", "user_id")
    val clicks = Seq(
      (ts("2026-01-01 10:03:00"), 200L, 1L),
      (ts("2026-01-01 10:30:00"), 201L, 1L)).toDF("ts", "event_id", "user_id")
    val out = EventStreams.attributeClicks(views, clicks, windowUs = 5L * 60L * 1000000L)
    assert(out.select("click_id").as[Long].collect().toSeq == Seq(200L))
  }

  test("sessionize (batch, flushOpen): parity with the q16 window formulation") {
    import spark.implicits._
    val gapUs = 30L * 60L * 1000000L
    val ev = Tables
      .events(spark, sf)
      .select(
        col("user_id").as("userId"),
        col("event_id").as("eventId"),
        col("ts_us").as("tsUs"))
      .as[Ev]
    val fromState = EventStreams
      .sessionize(ev, gapUs, flushOpen = true)
      .groupBy(col("userId").as("user_id"))
      .agg(sum(col("nEvents")).as("n_events"), max(col("sessionId")).as("n_sessions"))
    val fromWindows = SparkEntry
      .queries("q16_sessionize")(spark, sf)
      .select("user_id", "n_events", "n_sessions")
    assert(fromState.except(fromWindows).count() == 0)
    assert(fromWindows.except(fromState).count() == 0)
  }

  test("enrichStream: micro-batches join the broadcast static dim, no stream state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val in = MemoryStream[(Long, Long)]
    val enriched = EventStreams.enrichStream(in.toDF.toDF("user_id", "event_id"), dim, "user_id")
    val q = enriched.writeStream.format("memory").queryName("enriched").outputMode("append").start()
    try {
      in.addData((1L, 100L), (2L, 101L), (9L, 102L))
      q.processAllAvailable()
      val rows = spark.table("enriched").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(2)) null else r.getString(2))).toSet
      assert(rows == Set((1L, "gold"), (2L, "silver"), (9L, null))) // left join keeps unmatched
    } finally q.stop()
  }

  test("intake stream (AvailableNow): landed records roll up bit-equal to the q182 batch result") {
    // the r12 verdict's streaming-intake twin: the SAME per-row chain
    // (extract → repair → screen) runs inside file-stream micro-batches
    // (maxFilesPerTrigger=1 forces several), doc-grain records land
    // through the idempotent sink, and the rollup over the landed
    // parquet must BIT-MATCH the q182 batch query on the same fixtures
    val docs = Tables.documents(spark, sf).filter(col("text").isNotNull)
    val wrapped = graft.queries.Round12Queries.htmlWrapped(docs)
    val root = java.nio.file.Files.createTempDirectory("intake_stream").toString
    wrapped.repartition(4).write.parquet(s"$root/in")
    EventStreams.runIntakeAvailableNow(
      spark, s"$root/in", wrapped.schema, s"$root/out", s"$root/ck",
      readerOptions = Map("maxFilesPerTrigger" -> "1"))
    val batches = new java.io.File(s"$root/out")
      .listFiles().map(_.getName).count(_.startsWith("batch_id="))
    assert(batches >= 2, s"expected several micro-batches, got $batches")
    val streamed = graft.operators.Intake
      .rollup(spark.read.parquet(s"$root/out"))
      .orderBy(col("source"))
      .collect()
    val batch = SparkEntry.queries("q182_intake_pipeline")(spark, sf).collect()
    assert(streamed.toSeq == batch.toSeq)
  }

  test("streaming media dedup: micro-batch screens union to the one-shot batch screen") {
    // The q197 incremental media screen as a STREAM: new docs arrive in
    // several micro-batches (maxFilesPerTrigger=1), each is hashed
    // through the REAL codec chain and met against the static corpus
    // fingerprints. Pairs are batch×corpus only, so the union over
    // micro-batches must equal the one-shot screen — the property that
    // makes the daily-ingest shape micro-batch-decomposable.
    import graft.operators.Dedup
    val docs = Tables.documents(spark, sf)
    val sh = graft.queries.Round15Queries.groupImageSh(docs).persist()
    val corpusSh = sh.filter(col("doc_id") % 3 =!= 2)
    val newDocs = docs.filter(col("doc_id") % 3 === 2).select("doc_id")
    val root = java.nio.file.Files.createTempDirectory("media_dedup_stream").toString
    newDocs.repartition(4).write.parquet(s"$root/in")
    EventStreams.runMediaDedupAvailableNow(
      spark, s"$root/in", newDocs.schema, corpusSh,
      hashBatch = graft.queries.Round15Queries.groupImageSh,
      outDir = s"$root/out", checkpointDir = s"$root/ck",
      readerOptions = Map("maxFilesPerTrigger" -> "1"))
    val batches = new java.io.File(s"$root/out")
      .listFiles().map(_.getName).count(_.startsWith("batch_id="))
    assert(batches >= 2, s"expected several micro-batches, got $batches")
    val streamed = spark.read.parquet(s"$root/out")
      .select("new_id", "old_id", "hamming")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(streamed.length == streamed.toSet.size, "stream emitted a duplicate pair")
    val oneShot = Dedup
      .simHashIncremental(sh.filter(col("doc_id") % 3 === 2), corpusSh, "doc_id", 7, 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed.toSet === oneShot)
    assert(oneShot.nonEmpty) // planted group siblings guarantee recoveries
    sh.unpersist()
  }

  test("streaming URL dedup: first-seen canonical-url keep set equals the batch distinct") {
    // crawl-side exact URL dedup as a STREAM: canonicalize per
    // micro-batch (normalizeUrlFull is pure per-row, so it fuses into
    // the batch scan), dropDuplicates on the canonical key. No
    // watermark on purpose — a crawl dedup key never expires; state is
    // the distinct-url set, the same state the batch dedup holds. The
    // emitted keep set must equal the batch distinct over the SAME
    // planted fixture (which doc_id wins a dup group is batch-order-
    // dependent — the canonical-url SET is the deterministic contract).
    import graft.operators.UrlOps
    val docs = Tables.documents(spark, sf).filter(col("text").isNotNull)
    val urls = graft.queries.Round13Queries.plantedUrls(docs)
    val root = java.nio.file.Files.createTempDirectory("url_dedup_stream").toString
    urls.repartition(4).write.parquet(s"$root/in")
    val canon = spark.readStream
      .schema(urls.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$root/in")
      .select(UrlOps.normalizeUrlFull(col("url")).as("url_canon"))
      .dropDuplicates("url_canon")
    val q = canon.writeStream
      .format("memory")
      .queryName("url_keeps")
      .outputMode("append")
      .option("checkpointLocation", s"$root/ck")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.sql("SELECT url_canon FROM url_keeps")
      .collect().map(_.getString(0)).toSeq
    val batch = urls
      .select(UrlOps.normalizeUrlFull(col("url")).as("u"))
      .distinct().collect().map(_.getString(0)).toSeq
    assert(streamed.size == streamed.toSet.size, "stream emitted a duplicate keep")
    assert(streamed.toSet == batch.toSet)
  }

  test("idempotent foreachBatch sink: batch replay overwrites, never duplicates") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("idem_sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("idem_ckpt").toString
    val in = MemoryStream[(Long, String)]
    val q = EventStreams.writeIdempotentBatches(in.toDF.toDF("id", "v"), out, ckpt)
    try {
      in.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      in.addData((3L, "c"))
      q.processAllAvailable()
      assert(spark.read.parquet(out).count() == 3)
      // simulate a post-failure REPLAY of batch 0: same id, same data
      EventStreams.writeBatchIdempotent(out)(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), 0L)
      assert(spark.read.parquet(out).count() == 3) // overwritten, not appended
      val batches = new java.io.File(out).listFiles().map(_.getName).filter(_.startsWith("batch_id=")).sorted
      assert(batches.length == 2)
    } finally q.stop()
  }
}
